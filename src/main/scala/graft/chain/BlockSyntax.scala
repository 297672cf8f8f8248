package graft.chain

/** Block-range syntax parser — the reference's CLI block grammar
  * (cryo cli/parse/blocks.rs:149-272, 320-349):
  *
  *   `123`            plain number (`_` separators allowed)
  *   `5K` `15.5M` `1B` magnitude suffixes
  *   `a:b`            range, end-exclusive
  *   `a:+n`           a to a+n
  *   `-n:b`           the n blocks ENDING AT b: b-n+1..b, b included
  *                    (blocks.rs:315 — minus-start ranges keep their
  *                    end block, unlike plain a:b)
  *   `a:b/n`          n evenly spaced blocks in [a,b)
  *   `a:b:k`          every k-th block in [a,b)
  *   `latest`         chain head (caller supplies)
  *   `:b` / `a:`      open ends (0 / latest)
  *
  * Driver-side plain Scala — no Spark types; the result feeds
  * `spark.range`-style chunk planning.
  */
object BlockSyntax {

  sealed trait Blocks
  /** contiguous [start, endExclusive) */
  case class Range(start: Long, endExclusive: Long) extends Blocks {
    require(start < endExclusive, s"empty range $start:$endExclusive")
    def contains(b: Long): Boolean = b >= start && b < endExclusive
  }
  /** explicit list (sampled / strided) */
  case class Numbers(values: Seq[Long]) extends Blocks

  def parseNumber(raw: String, latest: => Long): Long = {
    val s = raw.trim.replace("_", "")
    if (s.equalsIgnoreCase("latest")) latest
    else {
      val (digits, mult) = s.last.toUpper match {
        case 'K' => (s.dropRight(1), 1e3)
        case 'M' => (s.dropRight(1), 1e6)
        case 'B' => (s.dropRight(1), 1e9)
        case _   => (s, 1.0)
      }
      val v = digits.toDouble * mult
      require(v >= 0 && v == math.floor(v), s"not a whole block number: $raw")
      v.toLong
    }
  }

  def parse(spec: String, latest: => Long): Blocks = {
    val s = spec.trim
    if (!s.contains(':')) {
      val n = parseNumber(s, latest)
      return Range(n, n + 1)
    }
    // a:b/n or a:b:k forms first
    val slash = s.split('/')
    if (slash.length == 2) {
      val Range(a, b) = parseRange(slash(0), latest)
      val n = slash(1).toInt
      require(n > 0, s"need positive sample count: $spec")
      if (n == 1) return Numbers(Seq(a))
      // n evenly spaced blocks across [a, b)
      val step = (b - 1 - a).toDouble / (n - 1)
      return Numbers((0 until n).map(i => a + math.round(i * step)).distinct)
    }
    val parts = s.split(':')
    if (parts.length == 3) {
      val Range(a, b) = parseRange(parts(0) + ":" + parts(1), latest)
      val k = parseNumber(parts(2), latest)
      require(k > 0, s"stride must be positive: $spec")
      return Numbers(a until b by k)
    }
    parseRange(s, latest)
  }

  private def parseRange(s: String, latest: => Long): Range = {
    val idx = s.indexOf(':')
    require(idx >= 0, s"not a range: $s")
    val (l, r) = (s.substring(0, idx).trim, s.substring(idx + 1).trim)
    if (l.startsWith("-")) {
      // -n:b → last n blocks before b
      val n = parseNumber(l.drop(1), latest)
      val b = if (r.isEmpty) latest + 1 else parseNumber(r, latest) + 1
      Range(b - n, b)
    } else if (r.startsWith("+")) {
      val a = parseNumber(l, latest)
      Range(a, a + parseNumber(r.drop(1), latest))
    } else {
      val a = if (l.isEmpty) 0L else parseNumber(l, latest)
      // an explicit "latest" end INCLUDES the head block, exactly like
      // the omitted-end form — the reference only end-excludes numeric
      // ends (blocks.rs:309: `second_ref != "latest" && !empty`); a
      // numeric-only exclusion here silently dropped the newest block
      // from every `a:latest` spec
      val b =
        if (r.isEmpty || r.equalsIgnoreCase("latest")) latest + 1
        else parseNumber(r, latest)
      Range(a, b)
    }
  }

  /** split a range into chunks of `chunkSize`, optionally aligned to
    * multiples (dropping partial edges when aligning —
    * cryo types/chunks/subchunks.rs:13-33, number_chunk.rs:76-89). */
  def subchunk(r: Range, chunkSize: Long, align: Boolean = false): Seq[Range] = {
    require(chunkSize >= 1, s"--chunk-size must be at least 1, got $chunkSize")
    val (start, end) =
      if (!align) (r.start, r.endExclusive)
      else {
        val a = ((r.start + chunkSize - 1) / chunkSize) * chunkSize
        val b = (r.endExclusive / chunkSize) * chunkSize
        (a, b)
      }
    if (start >= end) Seq.empty
    else (start until end by chunkSize).map(s0 =>
      Range(s0, math.min(s0 + chunkSize, end)))
  }

  /** split into n chunks of equal ceil size (cryo subchunks.rs:28-32) */
  def subchunkByCount(r: Range, n: Int): Seq[Range] = {
    require(n >= 1, s"--n-chunks must be positive, got $n")
    val size = math.max(1L, (r.endExclusive - r.start + n - 1) / n)
    subchunk(r, size)
  }

  /** the contiguous span of a block spec: a list densifies to
    * [min, max] */
  def span(b: Blocks): Range = b match {
    case r: Range => r
    case Numbers(ns) => Range(ns.min, ns.max + 1)
  }

  /** the chunk list of a block spec's span, in block order: `nChunks`
    * equal chunks when given, else `chunkSize`-block chunks */
  def chunks(b: Blocks, chunkSize: Long, nChunks: Option[Int],
      align: Boolean): Seq[Range] = nChunks match {
    case Some(n) => subchunkByCount(span(b), n)
    case None => subchunk(span(b), chunkSize, align)
  }

  /** clamp the range end to latest − reorgBuffer
    * (cryo parse/blocks.rs:126 apply_reorg_buffer) */
  def applyReorgBuffer(r: Range, latest: Long, buffer: Long): Option[Range] = {
    val cap = latest - buffer + 1
    if (r.start >= cap) None
    else Some(Range(r.start, math.min(r.endExclusive, cap)))
  }
}
