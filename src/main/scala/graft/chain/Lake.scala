package graft.chain

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.file.Path

/** Query surface over a FROZEN lake — the directory of cryo-named chunk
  * files that `Freeze.freeze` (and followLive, one freeze per poll)
  * produce: `{network}__{dataset}[__{label}][__{dim}]__{start}_to_{end}.{fmt}`
  * (Freeze.fileName; reference naming: types/files.rs:63-105,
  * number_chunk.rs:18-20). The reference writes these files and leaves
  * read-back to pandas/polars globbing; here read-back is a first-class
  * Spark scan with PLANNING-TIME pruning.
  *
  * Why filename pruning instead of a custom DataSource V2 reader:
  * the chunk range is encoded in every file NAME, so overlap selection
  * for a block range is a driver-side string scan — no file footers
  * opened, no object-store GETs, no listing of row groups. The selected
  * files then go through `spark.read.parquet(files: _*)`, keeping
  * Spark's native vectorized parquet reader, whole-stage codegen, and
  * filter/column pushdown — a custom PartitionReader would forfeit all
  * three to re-implement what the filename already gives us. The
  * residual `block_number` predicate is still applied (chunk overlap is
  * file-granular) and pushes into the scan as a parquet min/max
  * row-group filter.
  *
  * At 100 TB: ~22M mainnet blocks at 1000-block chunks is ~22k files
  * per dataset — listing file NAMES once from the driver is trivial (a
  * handful of paged LIST calls on an object store: one per directory
  * level of a flat-or-shallow lake, resolved through the Hadoop
  * FileSystem API so s3a://hdfs://custom schemes all work — see
  * listChunks), while the pruning it buys skips whole files at
  * PLANNING time: a 100-block query over a 22k-file lake plans a 1-2
  * file scan. This mirrors what a partition-column layout gives Hive
  * tables, but over the reference's own flat naming scheme, with no
  * rewrite of existing lakes.
  */
object Lake {

  /** one parsed chunk file; `tags` carries the optional label and/or
    * partition-dim stubs between the dataset name and the range stub,
    * verbatim (Freeze writes label first, then the dim value stub) */
  case class ChunkFile(
      path: String,
      network: String,
      dataset: String,
      tags: Seq[String],
      start: Long,
      endInclusive: Long,
      format: String)

  private val Formats = Set("parquet", "csv", "json")
  private val RangeRe = """(\d+)_to_(\d+)""".r

  /** Parse a cryo-named chunk file name; None for anything else (run
    * reports, remembered commands, `._tmp` staging dirs, foreign files)
    * so a lake listing never trips on the freeze layer's own metadata. */
  def parseFileName(path: Path): Option[ChunkFile] =
    parseFileName(path.toString, path.getFileName.toString)

  def parseFileName(fullPath: String, name: String): Option[ChunkFile] = {
    val dot = name.lastIndexOf('.')
    if (dot <= 0) return None
    val ext = name.substring(dot + 1)
    if (!Formats(ext)) return None
    val parts = name.substring(0, dot).split("__", -1)
    if (parts.length < 3) return None
    parts.last match {
      case RangeRe(s, e) =>
        Some(ChunkFile(fullPath, parts(0), parts(1),
          parts.slice(2, parts.length - 1).toSeq, s.toLong, e.toLong, ext))
      case _ => None
    }
  }

  /** Driver-side recursive listing of every chunk file under `dir` —
    * file NAMES only, no data or footer reads. Routed through Hadoop's
    * `FileSystem` (resolved from the active session's configuration) so
    * an `s3a://`/`hdfs://`/custom-scheme lake lists the same way the
    * data plane reads it; a lake directory costs one LIST call per
    * directory level (a healthy lake is flat or a couple of subdirs
    * deep — still a handful of paged RPCs at 22k files). The walk uses
    * `listStatus`, NOT `listFiles(recursive)`: the latter materializes
    * `LocatedFileStatus` whose constructor eagerly stats per-file
    * permissions — ~4 ms/file on a local FS (measured 79 s over the
    * 20k-file spec lake, vs <5 s lazy). Dot-directories (`.graft`
    * reports, `.compact_old` recovery state) and `._tmp` staging dirs
    * are skipped. Deterministic (sorted by path) so downstream file
    * lists are stable across runs; local paths stay bare strings
    * (LakeFs.display) so existing consumers and the oracle see
    * unchanged values. */
  def listChunks(dir: String): Seq[ChunkFile] = {
    val fs = LakeFs.fs(dir)
    val root = new HPath(dir)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory)
      return Seq.empty
    val out = Seq.newBuilder[ChunkFile]
    def walk(p: HPath): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (!n.startsWith(".") && !n.endsWith("._tmp")) walk(st.getPath)
        } else parseFileName(LakeFs.display(st.getPath), n).foreach(out += _)
      }
    walk(root)
    out.result().sortBy(_.path)
  }

  /** file-granular overlap test: does this chunk's [start, endInclusive]
    * intersect the requested blocks? */
  private[graft] def overlaps(f: ChunkFile, blocks: BlockSyntax.Blocks): Boolean =
    blocks match {
      case BlockSyntax.Range(s, e) => f.start < e && f.endInclusive >= s
      case BlockSyntax.Numbers(ns) =>
        ns.exists(n => n >= f.start && n <= f.endInclusive)
    }

  /** Drop files whose range is STRICTLY contained in another file of the
    * same (network, dataset, tags, format). A healthy lake never has
    * overlapping ranges — freeze chunks are disjoint — so containment
    * only arises from an interrupted `LakeCompact` run that wrote the
    * merged file but crashed before deleting the originals. Preferring
    * the container makes every read see each row exactly once through
    * the interruption; the next compact (or `cleanContained`) finishes
    * the deletion. Overlaps that are NOT containment — equal ranges and
    * partial overlaps — are unresolvable from names and throw (see the
    * inline cases). One sort + sweep per key group: O(n log n) over file
    * NAMES, still driver-trivial at 100 TB file counts. */
  private[graft] def dropContained(files: Seq[ChunkFile]): Seq[ChunkFile] =
    files.groupBy(f => (f.network, f.dataset, f.tags, f.format)).values.flatMap {
      group =>
        // start asc, end desc: any container precedes its contained files
        val sorted = group.sortBy(f => (f.start, -f.endInclusive))
        // EQUAL ranges cannot come from freeze (one filename) or an
        // interrupted compact (a merged range strictly exceeds each
        // source) — they mean the same dataset/range was frozen into
        // two layouts under one root, and the copies may differ. Fail
        // loudly like mixed formats, never silently pick one.
        sorted.iterator.sliding(2).withPartial(false).foreach { w =>
          if (w(0).start == w(1).start &&
              w(0).endInclusive == w(1).endInclusive)
            throw new IllegalArgumentException(
              s"duplicate chunk files for the same range: ${w(0).path} " +
                s"and ${w(1).path} — same dataset/range frozen into two " +
                "layouts under one lake root; remove one")
        }
        var maxEnd = Long.MinValue
        var widest: ChunkFile = null
        sorted.filter { f =>
          val contained = f.endInclusive <= maxEnd
          // PARTIAL overlap (starts inside earlier coverage, ends past
          // it) is unresolvable: neither file's rows are a superset, so
          // reading both duplicates the shared span and reading one
          // loses blocks. It cannot come from freeze (chunks of one run
          // are disjoint) or compact (a merged file strictly contains
          // its sources) — only from two freezes with misaligned
          // ranges into one lake. Fail loudly; `lake verify` reports
          // the colliding pairs and re-freezing either range aligned
          // (or deleting one file) repairs it.
          if (!contained && f.start <= maxEnd)
            throw new IllegalArgumentException(
              s"partially overlapping chunk files: ${widest.path} and " +
                s"${f.path} share blocks [${f.start}, $maxEnd] but " +
                "neither contains the other — two freezes with " +
                "misaligned ranges wrote this lake; re-freeze one range " +
                "aligned with the other (or remove one file). `lake " +
                "verify` lists every colliding pair.")
          if (f.endInclusive > maxEnd) { maxEnd = f.endInclusive; widest = f }
          !contained
        }
    }.toSeq

  /** highest frozen block of a dataset — the `latest` anchor every lake
    * surface (CLI, python, SQL TVF) resolves block specs against */
  def head(dir: String, dataset: String, network: Option[String] = None,
      tag: Option[String] = None): Long = {
    val ends = select(dir, dataset, network = network, tag = tag)
      .map(_.endInclusive)
    require(ends.nonEmpty, s"no chunk files for dataset '$dataset' under $dir")
    ends.max
  }

  /** one (network, dataset, tags, format) group's coverage report */
  case class DatasetAudit(
      network: String, dataset: String, tags: Seq[String], format: String,
      nFiles: Int, minBlock: Long, maxBlock: Long,
      /** block spans frozen in NO file of the whole (network, dataset,
        * format) — tags UNIONED, because a partition-dim lake is
        * legitimately sparse per dim value (each value only appears in
        * chunks that contain it); a gap here means the blocks are
        * missing from the lake outright. Repeated identically on every
        * tag group of the dataset. */
      gaps: Seq[(Long, Long)],
      /** file pairs of THIS group whose ranges intersect — every
        * colliding pair, not just against the widest file (duplicate
        * coverage; healthy freeze/compact lakes have none). Within a
        * tag group an overlap is always an anomaly. */
      overlaps: Seq[(String, String)],
      /** file pairs of the whole (network, dataset, format) whose
        * ranges intersect but whose TAG VECTORS DIFFER. Advisory, not
        * an anomaly verdict: file names cannot distinguish a partition
        * dim value (where every value legitimately covers the same
        * block ranges and an untagged read correctly unions them) from
        * a label (where equal coverage means an untagged read RETURNS
        * EVERY ROW TWICE). The operator knows which kind their tags
        * are; a labeled lake with entries here needs `tag=` on reads
        * or a file cleanup. Repeated on every tag group, like gaps. */
      crossTagOverlaps: Seq[(String, String)],
      /** true when either overlap list hit the 1000-pair report cap —
        * counts then UNDER-REPORT and repairs should be re-verified */
      overlapsTruncated: Boolean)

  /** Audit a lake's coverage from file NAMES only — no data reads, no
    * Spark jobs: per (network, dataset, tags, format), the covered
    * range, the dataset-level gaps (blocks a `latest`-anchored consumer
    * would silently miss), and every overlapping-range file pair in the
    * group (duplicate coverage that reads would fail loudly on or, for
    * strict containment, resolve to the container). The operational
    * pre-flight before pointing a backfill, a stream, or a compaction
    * at a long-lived lake. */
  def audit(dir: String, network: Option[String] = None): Seq[DatasetAudit] = {
    val all = listChunks(dir).filter(f => network.forall(_ == f.network))
    // interval sweep shared by both overlap reports: every colliding
    // pair among `files` that `keep` accepts (a single widest-file
    // comparison would miss collisions among the files it spans).
    // Quadratic only in the size of an anomaly cluster; capped to
    // bound the report, with the truncation surfaced to the caller.
    def sweep(files: Seq[ChunkFile],
        keep: (ChunkFile, ChunkFile) => Boolean): (Seq[(String, String)], Boolean) = {
      val sorted = files.sortBy(f => (f.start, -f.endInclusive))
      val pairs = Seq.newBuilder[(String, String)]
      val open = scala.collection.mutable.ArrayBuffer.empty[ChunkFile]
      var reported = 0
      var truncated = false
      sorted.foreach { f =>
        open.filterInPlace(_.endInclusive >= f.start)
        open.foreach { p =>
          if (keep(p, f)) {
            if (reported < 1000) { pairs += ((p.path, f.path)); reported += 1 }
            else truncated = true
          }
        }
        open += f
      }
      (pairs.result(), truncated)
    }
    // dataset-level computations: gap coverage unions ALL tags; the
    // cross-tag overlap report pairs files whose tag vectors differ
    // (see the DatasetAudit scaladoc for why it is advisory)
    val byDataset: Map[(String, String, String),
        (Seq[(Long, Long)], Seq[(String, String)], Boolean)] =
      all.groupBy(f => (f.network, f.dataset, f.format)).map {
        case (key, files) =>
          val sorted = files.sortBy(_.start)
          val gaps = Seq.newBuilder[(Long, Long)]
          var cursor = sorted.head.start
          sorted.foreach { f =>
            if (f.start > cursor) gaps += ((cursor, f.start - 1))
            cursor = math.max(cursor, f.endInclusive + 1)
          }
          val (cross, crossTrunc) = sweep(files, (a, b) => a.tags != b.tags)
          key -> ((gaps.result(), cross, crossTrunc))
      }
    all.groupBy(f => (f.network, f.dataset, f.tags, f.format))
      .toSeq
      .sortBy { case ((n, d, t, fmt), _) => (n, d, t.mkString("__"), fmt) }
      .map { case ((net, ds, tags, fmt), group) =>
        val sorted = group.sortBy(f => (f.start, -f.endInclusive))
        val (overlaps, trunc) = sweep(group, (_, _) => true)
        val (gaps, cross, crossTrunc) = byDataset((net, ds, fmt))
        DatasetAudit(net, ds, tags, fmt, group.size,
          sorted.head.start, sorted.map(_.endInclusive).max,
          gaps, overlaps, cross, trunc || crossTrunc)
      }
  }

  /** The pruned file selection a read would scan — exposed so callers
    * (and specs) can assert planning-time pruning without running a job.
    * `dataset` resolves through the alias registry (txs → transactions). */
  def select(dir: String, dataset: String,
      blocks: Option[BlockSyntax.Blocks] = None,
      network: Option[String] = None,
      tag: Option[String] = None): Seq[ChunkFile] = {
    val canonical = Datatypes(dataset).name
    dropContained(listChunks(dir).filter { f =>
      f.dataset == canonical &&
        network.forall(_ == f.network) &&
        tag.forall(f.tags.contains)
    }).filter(f => blocks.forall(overlaps(f, _)))
  }

  /** Scan a frozen lake back into a DataFrame.
    *
    *  - `blocks`: prunes FILES by the filename range (planning-time),
    *    then applies the exact residual block filter (row-level, pushed
    *    to parquet row-group stats).
    *  - `network` / `tag`: restrict to one network / one label or
    *    partition-dim stub when several share the directory. With no
    *    `tag`, ALL tag groups union — correct for partition dims
    *    (rows disjoint by the dim) but DOUBLE-READS a range frozen
    *    under two labels; names cannot tell the two apart, so the
    *    guard is `audit`'s cross-tag advisory, not a read failure.
    *  - `schema`: optional explicit schema for csv/json lakes (parquet
    *    carries its own). Without it csv falls back to inference — fine
    *    interactively, pass a schema in pipelines.
    *
    * All selected files must share one format (a lake frozen twice with
    * different --csv/--json flags is ambiguous — fail loudly). */
  def read(spark: SparkSession, dir: String, dataset: String,
      blocks: Option[BlockSyntax.Blocks] = None,
      network: Option[String] = None,
      tag: Option[String] = None,
      schema: Option[StructType] = None): DataFrame = {
    val files = select(dir, dataset, blocks, network, tag)
    require(files.nonEmpty,
      s"no chunk files for dataset '$dataset'" +
        blocks.map(b => s" blocks $b").getOrElse("") +
        network.map(n => s" network $n").getOrElse("") + s" under $dir")
    val formats = files.map(_.format).distinct
    require(formats.size == 1,
      s"mixed formats ${formats.sorted.mkString(", ")} for dataset " +
        s"'$dataset' under $dir — freeze format must be uniform per dataset")
    val paths = files.map(_.path)
    val df0 = formats.head match {
      case "parquet" => spark.read.parquet(paths: _*)
      case "csv" =>
        val r = spark.read.option("header", "true")
        schema.map(r.schema).getOrElse(r.option("inferSchema", "true"))
          .csv(paths: _*)
      case "json" =>
        schema.map(spark.read.schema).getOrElse(spark.read).json(paths: _*)
    }
    blocks match {
      case Some(b) if df0.columns.contains("block_number") =>
        Freeze.filterBlocks(df0, b)
      case _ => df0
    }
  }

  /** Tail a frozen lake as a STREAM: every chunk file `followLive` (or a
    * scheduled batch freeze) appends is picked up by Spark's file stream
    * source on its next trigger — the read-side twin of the follow-mode
    * write path, giving downstream jobs (streaming dedup, index ingest,
    * alerting) an incremental view of the lake with exactly-once file
    * tracking from the source's own checkpoint log.
    *
    * The dataset/network restriction compiles to a `pathGlobFilter` on
    * the cryo file NAME — the same planning-time pruning as the batch
    * path, applied per listing, so co-located datasets never enter the
    * stream. `schema` is required (file stream sources cannot infer),
    * and `recursiveFileLookup` handles `subdirs` layouts.
    *
    * At 100 TB the steady-state cost is the periodic listing; a lake
    * tailed from its head (`maxFilesPerTrigger` via `options`) processes
    * each ~chunk-sized file once and never rescans old data. */
  def readStream(spark: SparkSession, dir: String, dataset: String,
      schema: StructType,
      network: Option[String] = None,
      tag: Option[String] = None,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame = {
    require(Formats(format), s"unsupported lake format '$format'")
    val canonical = Datatypes(dataset).name
    // the glob prunes at LISTING time; the tag refinement is
    // best-effort (a tag can substring-match) — the row filter below is
    // exact. Freeze refuses labels AND partition-dim values that
    // collide with dataset names, so a graft-written lake can never
    // glob a foreign dataset's file into the stream; the row filter is
    // defense-in-depth for externally
    // written files with compatible schemas (an external file with an
    // INCOMPATIBLE schema that matches the glob will still fail the
    // stream at read — name files to the cryo convention, or point the
    // stream at a clean directory).
    val glob = tag match {
      case Some(t) => s"${network.getOrElse("*")}__${canonical}__*${t}__*.$format"
      case None => s"${network.getOrElse("*")}__${canonical}__*.$format"
    }
    val r0 = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
    val r = options.foldLeft(r0) { case (b, (k, v)) => b.option(k, v) }
    val df = format match {
      case "parquet" => r.parquet(dir)
      case "csv" => r.option("header", "true").csv(dir)
      case "json" => r.json(dir)
    }
    // exact filename re-checks, row-level (codegen projection over
    // input_file_name — no shuffle): dataset is the 2nd `__` segment,
    // network the 1st, tags the 3rd..n-1th
    import org.apache.spark.sql.functions.{array_contains, element_at, greatest, input_file_name, lit, regexp_extract, size, slice, split}
    val fname = regexp_extract(input_file_name(), "[^/]+$", 0)
    val segs = split(fname, "__")
    val segOk = element_at(segs, 2) === canonical
    val netOk = network.map(n => element_at(segs, 1) === n).getOrElse(lit(true))
    val tagOk = tag.map(t => array_contains(
      slice(segs, lit(3), greatest(size(segs) - 3, lit(0))), t))
      .getOrElse(lit(true))
    df.where(segOk && netOk && tagOk)
  }
}
