package graft

import graft.chain.{BlockSyntax, Bronze, Datatypes, Freeze, TableSchema, TimestampSyntax}
import graft.functions.U256
import graft.sources.RpcCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** CLI surface mirroring the reference's flag vocabulary
  * (cryo cli/args.rs:20-267 subset), so a reference user's invocation
  * maps one-to-one:
  *
  *   graft.Cli blocks transactions --blocks 1000:1020 \
  *     --source-dir fixtures/chain --output-dir /tmp/out \
  *     [--chunk-size N] [--n-chunks N] [--align] [--reorg-buffer N]
  *     [--network NAME] [--label L] [--overwrite] [--csv|--json] [--hex]
  *     [--row-group-size N] [--n-row-groups N] [--no-stats]
  *     [--dry-run] [--latest N]
  *     [--contract A…] [--address A…] [--to-address A…] [--from-address A…]
  *     [--slot S…] [--topic0..3 H…]
  *     [--call-data HEX…] [--function SELECTOR…] [--inputs HEX…]
  *     [--event-signature SIG] [--exclude-failed]
  *     [--rpc URL] [--js-tracer CODE] [--requests-per-second N]
  *     [--max-retries N] [--initial-backoff MS] [--inner-request-size N]
  *     [--max-concurrent-requests N]
  *     [--no-report] [--report-dir DIR] [--verbose|--no-verbose]
  *     [--remember]
  *     [--columns c…|all] [--include-columns c…] [--exclude-columns c…]
  *     [--u256-types t…] [--sort c…] [--txs h…] [--timestamps T1:T2]
  *     [--partition-by col] [--chunk-order normal|reverse|random]
  *     [--max-concurrent-chunks N]  (dataset write jobs in flight)
  *
  * Plus `graft.Cli pipeline <query> <sf-dir> [--out DIR] [--show N]`,
  * which runs any registered SparkEntry query
  * (TPC-H/text/similarity/events/chain_*) from the shell, and
  * `graft.Cli help [syntax | datasets | <dataset>…]` mirroring the
  * reference's help subcommand family (cli/run.rs:75-130).
  *
  * Dataset aliases (txs, events, 4byte_counts, …) resolve via the
  * registry; multi names expand to their members. Entity flags remap per
  * dataset exactly like the reference's query-alias table
  * (cli/parse/query.rs:31-108): --contract hits the dataset's
  * contract-ish column (logs.address, erc20_transfers.erc20, …).
  */
object Cli {

  /** --contract alias remapping (parse/query.rs:31-108) */
  private val contractCol: Map[String, String] = Map(
    "logs" -> "address",
    "erc20_transfers" -> "erc20", "erc20_approvals" -> "erc20",
    "erc20_metadata" -> "erc20", "erc20_supplies" -> "erc20",
    "erc20_balances" -> "erc20",
    "erc721_transfers" -> "erc721", "erc721_metadata" -> "erc721",
    "contracts" -> "contract_address",
    "eth_calls" -> "contract_address", "trace_calls" -> "contract_address")

  /** --call-data / --function column: trace_calls keeps the simulated
    * call's data as tx_call_data (datasets/trace_calls.rs) */
  private def callDataCol(dataset: String): String =
    if (dataset == "trace_calls") "tx_call_data" else "call_data"

  /** single source of truth for the version is the freeze/report layer */
  val Version: String = Freeze.Version

  /** one remembered default command per output directory
    * (cryo remember.rs: <output>/.cryo/remembered_command.json) */
  private case class Remembered(version: String, command: Seq[String])

  private def rememberPath(outputDir: String) =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(outputDir, ".graft"),
      "remembered_command.json").toString

  private def saveRemembered(outputDir: String, command: Seq[String]): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    // atomic replace: the remember file is rewritten per run and a
    // concurrent freeze on the same lake may be loading it — old or new
    // command, never a truncated JSON (the sidecar-race discipline)
    graft.chain.LakeFs.writeStringAtomic(rememberPath(outputDir),
      JsonMethods.compact(JsonMethods.render(
        ("graft_version" -> Version) ~ ("command" -> command))))
  }

  private def loadRemembered(outputDir: String): Option[Remembered] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = rememberPath(outputDir)
    if (!graft.chain.LakeFs.exists(p)) None
    else {
      val j = JsonMethods.parse(graft.chain.LakeFs.readString(p))
      val v = (j \ "graft_version") match { case JString(s) => s; case _ => "" }
      val cmd = (j \ "command") match {
        case JArray(xs) => xs.collect { case JString(s) => s }
        case _ => Nil
      }
      Some(Remembered(v, cmd))
    }
  }

  /** intro summary before collection (summaries.rs print_cryo_intro) */
  private def printIntro(spec: Freeze.FreezeSpec, nChunks: Int,
      source: String): Unit = {
    println("graft parameters")
    println(s"- version: $Version")
    println(s"- datatypes: ${spec.datasets.mkString(", ")}")
    println(s"- blocks: ${spec.blocks}")
    println(s"- chunks: $nChunks (chunk size ${spec.chunkSize})")
    println(s"- network: ${spec.network}")
    println(s"- source: $source")
    println(s"- output dir: ${spec.outputDir}")
    println(s"- format: ${spec.format}" +
      spec.compression.map(c => s" ($c)").getOrElse(""))
    println(s"- max concurrent chunks: ${spec.maxConcurrentChunks}")
  }

  /** conclusion summary (summaries.rs print_cryo_conclusion) */
  private def printConclusion(r: Freeze.FreezeResult, nTasks: Int,
      seconds: Double): Unit = {
    def pct(n: Int) = if (nTasks == 0) 0 else 100 * n / nTasks
    println("collection summary")
    println(f"- total duration: $seconds%.3f seconds")
    println(s"- total chunks: $nTasks")
    println(s"- chunks errored: ${r.errored.size} / $nTasks (${pct(r.errored.size)}%)")
    println(s"- chunks skipped: ${r.skipped.size} / $nTasks (${pct(r.skipped.size)}%)")
    println(s"- chunks collected: ${r.completed.size} / $nTasks (${pct(r.completed.size)}%)")
    println(s"- rows written: ${r.rows}")
  }

  /** `graft.Cli help` / `help syntax` / `help datasets` /
    * `help <datatype>…` — the reference's help subcommand family
    * (cli/run.rs:75-130): general flags, the block/tx/timestamp
    * grammar, the dataset catalog, and per-dataset schema detail. No
    * SparkSession is built for help. */
  def printHelp(rest: Seq[String]): Unit = rest match {
    case Seq() => println(generalHelp)
    case Seq("syntax") => println(syntaxHelp)
    case Seq("datasets") => println(datasetsHelp)
    case names => names.zipWithIndex.foreach { case (n, i) =>
      if (i > 0) println()
      println(datasetInfo(n))
    }
  }

  private def generalHelp: String =
    """graft — cryo-compatible chain extraction on Spark
      |
      |usage: graft.Cli <datasets…> --blocks SPEC --source-dir DIR --output-dir DIR [flags]
      |       graft.Cli pipeline <query> <sf-dir> [--out DIR] [--show N]
      |       graft.Cli prep <sf-dir> <out-dir>
      |       graft.Cli index build|search|compact …
      |       graft.Cli lake <dataset> --lake-dir DIR [--blocks SPEC] …
      |       graft.Cli lake compact|verify --lake-dir DIR …
      |       graft.Cli difftest --rpc URL --source-dir DIR [--blocks a:b]
      |       graft.Cli help [syntax | datasets | <dataset>…]
      |
      |common flags: --chunk-size N  --n-chunks N  --align  --reorg-buffer N
      |  --network NAME  --label L  --overwrite  --csv | --json  --hex
      |  --columns c…|all  --include-columns c…  --exclude-columns c…
      |  --u256-types t…  --sort c…  --txs h…  --timestamps T1:T2
      |  --contract A…  --address A…  --topic0..3 H…  --exclude-failed
      |  --partition-by col  --chunk-order normal|reverse|random
      |  --max-concurrent-chunks N (dataset write jobs in flight)
      |  --rpc URL  --requests-per-second N  --max-retries N
      |  --dry-run  --no-report  --remember  --verbose|--no-verbose
      |
      |`graft.Cli help syntax` shows the block/tx grammar;
      |`graft.Cli help datasets` lists every dataset.""".stripMargin

  private def syntaxHelp: String =
    """Block specification syntax
      |- numbers                      --blocks 5000 (multiple: 5000 6000)
      |- ranges (end-exclusive)       --blocks 12M:13M
      |- number suffixes { _ K M B }  5_000 5K 15M 15.5M
      |- omitted end means latest     15.5M:   ==  15.5M:latest
      |- omitted start means 0        :700     ==  0:700
      |- minus on start = last n      -1000:7000  (6001..7000, end included)
      |- plus on end = start + n      15M:+1000
      |- every nth value              2000:5000:1000 == 2000 3000 4000
      |- n values total               100:200/5
      |
      |Timestamp specification (--timestamps T1:T2)
      |- unix seconds                 1700000000:1700003600
      |- now-relative durations       -1d:now   (units s m h d w M y)
      |- each end resolves to the greatest block with timestamp <= t
      |
      |- a parquet file               --blocks ./file.parquet[:COLUMN]
      |                               (default column block_number)
      |
      |Transaction dimension (--txs)
      |- transaction hashes           --txs 0xHASH1 0xHASH2
      |- a parquet file               --txs ./file.parquet[:COLUMN]
      |                               (default column transaction_hash)
      |- blocks --txs HASH collects the CONTAINING block
      |
      |Entity flags (--address --contract --to-address --from-address
      |--slot --topic0..3) also accept parquet refs, each with its own
      |default column (address, contract_address, …)""".stripMargin

  /** dataset catalog: every scalar dataset with aliases + the multis */
  def datasetsHelp: String = {
    val scalars = Datatypes.all.map { d =>
      "- " + d.name +
        (if (d.aliases.nonEmpty) d.aliases.mkString(" (", ", ", ")") else "")
    }.mkString("\n")
    val multis = Datatypes.multis.toSeq.sortBy(_._1).map {
      case (m, members) => s"- $m: ${members.mkString(", ")}"
    }.mkString("\n")
    s"datasets (${Datatypes.all.size}):\n$scalars\n\n" +
      s"multi-dataset bundles:\n$multis\n\n" +
      "use `graft.Cli help <dataset>` for schema details"
  }

  /** per-dataset schema detail (summaries.rs print_dataset_info shape):
    * time dimensions, required dims, aliases, sort, full column list
    * with types and default-excluded / u256 markers */
  def datasetInfo(name: String): String = {
    // multi-dataset bundles are listed by `help datasets` and accepted
    // as CLI dataset args, so `help <bundle>` must resolve too — it
    // expands the membership instead of crashing on the scalar lookup
    Datatypes.multis.get(name).foreach { members =>
      return s"""multi-dataset bundle: $name
         |- expands to: ${members.mkString(", ")}
         |- one shared fetch pass serves every member; freeze writes
         |  each member as its own dataset files
         |- `graft.Cli help <member>` shows each schema""".stripMargin
    }
    val d = Datatypes(name)
    val dims = (d.byBlock, d.byTransaction) match {
      case (true, true) => "can collect by block or by transaction"
      case (true, false) => "can collect by block and not by transaction"
      case (false, true) => "can collect by transaction and not by block"
      case (false, false) => "cannot collect by block or by transaction"
    }
    def orNone(xs: Seq[String]) = if (xs.isEmpty) "[none]" else xs.mkString(", ")
    val cols = d.columns.map { case (c, t) =>
      val marks = Seq(
        if (d.defaultExclude.contains(c)) Some("excluded by default") else None,
        if (d.u256Columns.contains(c)) Some("u256 repr family") else None
      ).flatten
      f"    $c%-28s ${t.toString.toLowerCase}" +
        (if (marks.isEmpty) "" else marks.mkString("  (", ", ", ")"))
    }.mkString("\n")
    s"""dataset: ${d.name}
       |- $dims
       |- required parameters: ${orNone(d.requiredDims.map(_.toString))}
       |- dataset aliases: ${orNone(d.aliases)}
       |- default sort: ${orNone(d.sortColumns)}
       |- columns (${d.columns.size}, ${d.defaultColumns.size} by default):
       |$cols""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("help")) {
      printHelp(args.drop(1).toSeq)
      return
    }
    val spark = GraftSession()
    try {
      if (args.headOption.contains("pipeline")) {
        runPipeline(args.drop(1).toSeq, spark); ()
      } else if (args.headOption.contains("prep")) {
        runPrep(args.drop(1).toSeq, spark)
      } else if (args.headOption.contains("index")) {
        runIndex(args.drop(1).toSeq, spark)
      } else if (args.headOption.contains("lake")) {
        runLake(args.drop(1).toSeq, spark); ()
      } else if (args.headOption.contains("difftest")) {
        runDiffTest(args.drop(1).toSeq, spark)
      } else run(args, spark).foreach { r =>
        println(s"completed: ${r.completed.size} file(s), skipped: ${r.skipped.size}, " +
          s"errored: ${r.errored.size}, rows: ${r.rows}")
      }
    } finally spark.stop()
  }

  /** `graft.Cli pipeline <query> <sf-dir> [--out DIR] [--show N]` — run
    * any registered driver query (TPC-H pack, text/dedup, similarity,
    * events, chain_*) from the shell without writing code: the whole
    * SparkEntry surface is CLI-invocable. Writes parquet with --out,
    * prints up to --show rows (default 20) otherwise. */
  def runPipeline(args: Seq[String], spark: SparkSession): DataFrame = {
    def catalog = SparkEntry.queries.keys.toSeq.sorted.mkString(", ")
    require(args.nonEmpty, s"usage: pipeline <query> <sf-dir> " +
      s"[--out DIR] [--show N]; queries: $catalog")
    val name = args.head
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query '$name'; available: $catalog"))
    require(args.length >= 2, "missing <sf-dir> after the query name")
    val df = fn(spark, args(1))
    var out: Option[String] = None
    var show = 20
    var i = 2
    while (i < args.length) {
      args(i) match {
        case flag @ ("--out" | "--show") =>
          require(i + 1 < args.length, s"missing value for $flag")
          if (flag == "--out") out = Some(args(i + 1)) else show = args(i + 1).toInt
          i += 2
        case other =>
          throw new IllegalArgumentException(s"unknown pipeline flag $other")
      }
    }
    out match {
      case Some(dir) => df.write.mode("overwrite").parquet(dir)
      case None => if (show > 0) df.show(show, truncate = false)
    }
    df
  }

  /** bounds-checked flag value: args(i+1) or a usage-bearing error */
  private def flagValue(args: Seq[String], i: Int, flag: String,
      usage: String): String = {
    require(i + 1 < args.length, s"missing value for $flag; $usage")
    args(i + 1)
  }

  /** `graft.Cli difftest --rpc URL --source-dir DIR [--blocks a:b]
    * [--js-tracer CODE]` — the cryo_test-style
    * differential sweep against an arbitrary endpoint: every corpus
    * datatype (37 scalars, JSON-normalized js traces, plus the
    * by-transaction dimension) collects live from --rpc AND from the
    * reference bronze dir, and must come out row-identical. Prints one
    * pass/FAIL line per datatype and throws (nonzero exit) on any
    * mismatch — usable in CI against a stub or a real node the way the
    * reference's cryo_test harness is. */
  def runDiffTest(args: Seq[String], spark: SparkSession,
      failOnMismatch: Boolean = true): Seq[graft.chain.DiffTest.Outcome] = {
    val usage = "usage: difftest --rpc URL --source-dir DIR " +
      "[--blocks a:b] [--js-tracer CODE] " +
      "[--max-retries N] [--initial-backoff MS] " +
      "[--compute-units-per-second N]"
    var rpc: Option[String] = None
    var sourceDir: Option[String] = None
    var blocks = "1000:1060"
    var jsTracer = "{fake: true}"
    // same retry surface as freeze (difftest against a flaky real node
    // needs the production backoff path, not fail-fast)
    var maxRetries = 0
    var initialBackoffMs = 500L
    var computeUnitsPerSecond = 50L
    var i = 0
    while (i < args.length) {
      def value(flag: String): String = flagValue(args, i, flag, usage)
      args(i) match {
        case "--rpc" => rpc = Some(value("--rpc")); i += 1
        case "--source-dir" => sourceDir = Some(value("--source-dir")); i += 1
        case "--blocks" => blocks = value("--blocks"); i += 1
        case "--js-tracer" => jsTracer = value("--js-tracer"); i += 1
        case "--max-retries" =>
          maxRetries = value("--max-retries").toInt; i += 1
        case "--initial-backoff" =>
          initialBackoffMs = value("--initial-backoff").toLong; i += 1
        case "--compute-units-per-second" =>
          computeUnitsPerSecond = value("--compute-units-per-second").toLong; i += 1
        case other =>
          throw new IllegalArgumentException(s"unknown difftest flag $other; $usage")
      }
      i += 1
    }
    val url = rpc.getOrElse(throw new IllegalArgumentException(s"missing --rpc; $usage"))
    val ref = sourceDir.getOrElse(
      throw new IllegalArgumentException(s"missing --source-dir; $usage"))
    // latest-relative forms ('1000:', '-100:', 'latest') would need a
    // node round-trip to resolve and the Long.MaxValue parse sentinel
    // turns them into a baffling overflow error — refuse them up front
    require(!blocks.contains("latest") && !blocks.trim.endsWith(":") &&
        !blocks.trim.startsWith(":") && !blocks.trim.startsWith("-"),
      s"difftest needs an explicit numeric a:b block range " +
        s"(latest-relative specs are not resolvable here); $usage")
    val range = BlockSyntax.parse(blocks, latest = Long.MaxValue) match {
      case r: BlockSyntax.Range => r
      case _ => throw new IllegalArgumentException(
        s"difftest needs a contiguous a:b block range; $usage")
    }
    val outcomes = graft.chain.DiffTest.run(spark, ref, url, range,
      jsTracer, maxRetries = maxRetries,
      initialBackoffMs = initialBackoffMs,
      computeUnitsPerSecond = computeUnitsPerSecond)
    outcomes.foreach(o => println(o.describe))
    val failed = outcomes.filterNot(_.ok)
    println(s"difftest: ${outcomes.size - failed.size} pass, ${failed.size} fail")
    require(!failOnMismatch || failed.isEmpty,
      s"difftest: ${failed.size} datatype(s) differ: " +
        failed.map(_.datatype).mkString(", "))
    outcomes
  }

  /** `graft.Cli lake <dataset> --lake-dir DIR [--blocks SPEC]
    * [--timestamps T1:T2] [--network NAME] [--tag T] [--out DIR]
    * [--show N]` — scan a FROZEN lake (the chunk files freeze/followLive
    * wrote) back into a DataFrame, pruning files by their filename block
    * ranges at planning time (Lake.scala). `latest` in a block spec
    * resolves against the lake itself: the highest frozen block of the
    * dataset. `--timestamps` resolves through the LAKE'S OWN frozen
    * blocks dataset (≤-semantics binary search, TimestampSyntax) — the
    * read-side twin of freeze's timestamp dimension, requiring `blocks`
    * to be frozen alongside.
    *
    * `graft.Cli lake compact --lake-dir DIR --target-chunk-size N
    * [--network NAME]` — coalesce contiguous small chunk files
    * (LakeCompact.scala). */
  def runLake(args: Seq[String], spark: SparkSession): DataFrame = {
    val usage = "usage: lake <dataset> --lake-dir DIR [--blocks SPEC] " +
      "[--timestamps T1:T2] [--network NAME] [--tag T] [--out DIR] " +
      "[--show N] | lake compact --lake-dir DIR --target-chunk-size N " +
      "[--network NAME] [--up-to-block N] | lake verify --lake-dir DIR " +
      "[--network NAME]"
    require(args.nonEmpty, usage)
    if (args.head == "compact") return runLakeCompact(args.drop(1), spark, usage)
    if (args.head == "verify") return runLakeVerify(args.drop(1), spark, usage)
    val dataset = args.head
    var lakeDir: Option[String] = None
    var blocksSpec: Option[String] = None
    var tsSpec: Option[String] = None
    var network: Option[String] = None
    var tag: Option[String] = None
    var out: Option[String] = None
    var show = 20
    var i = 1
    def value(flag: String): String = flagValue(args, i, flag, usage)
    while (i < args.length) {
      args(i) match {
        case f @ ("--lake-dir") => lakeDir = Some(value(f)); i += 2
        case f @ ("--blocks" | "-b") => blocksSpec = Some(value(f)); i += 2
        case f @ ("--timestamps") => tsSpec = Some(value(f)); i += 2
        case f @ ("--network") => network = Some(value(f)); i += 2
        case f @ ("--tag") => tag = Some(value(f)); i += 2
        case f @ ("--out") => out = Some(value(f)); i += 2
        case f @ ("--show") => show = value(f).toInt; i += 2
        case other =>
          throw new IllegalArgumentException(s"unknown lake flag $other; $usage")
      }
    }
    val dir = lakeDir.getOrElse(
      throw new IllegalArgumentException(s"missing --lake-dir; $usage"))
    def lakeHead: Long = graft.chain.Lake.head(dir, dataset, network, tag)
    val blocks = (blocksSpec, tsSpec) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "--blocks and --timestamps are mutually exclusive")
      case (Some(b), None) => Some(BlockSyntax.parse(b, lakeHead))
      case (None, Some(t)) =>
        // the lake-aware resolver bisects chunk-file NAMES and reads
        // one file per probe — never a whole-lake scan per probe
        Some(TimestampSyntax.resolveRange(t,
          TimestampSyntax.resolverForLake(spark, dir, network),
          now = System.currentTimeMillis() / 1000))
      case (None, None) => None
    }
    val df = graft.chain.Lake.read(spark, dir, dataset, blocks, network, tag)
    out match {
      case Some(d) => df.write.mode("overwrite").parquet(d)
      case None => if (show > 0) df.show(show, truncate = false)
    }
    df
  }

  /** py4j bridge for python/graft.py `read_lake` — same arg vocabulary
    * as `runLake`, no side output */
  def lakeDf(args: Array[String], spark: SparkSession): DataFrame =
    runLake(args.toSeq ++ Seq("--show", "0"), spark)

  /** `graft.Cli lake verify --lake-dir DIR [--network N]` — coverage
    * audit from file names only (Lake.audit): per dataset group, the
    * covered range, interior gaps, and overlapping-range file pairs.
    * Exit is nonzero-free; anomalies print as `!!` lines so scripts can
    * grep. */
  private def runLakeVerify(args: Seq[String], spark: SparkSession,
      usage: String): DataFrame = {
    var lakeDir: Option[String] = None
    var network: Option[String] = None
    var i = 0
    def value(flag: String): String = flagValue(args, i, flag, usage)
    while (i < args.length) {
      args(i) match {
        case f @ ("--lake-dir") => lakeDir = Some(value(f)); i += 2
        case f @ ("--network") => network = Some(value(f)); i += 2
        case "--show" => i += 2 // tolerated: the py4j bridge appends it
        case other =>
          throw new IllegalArgumentException(s"unknown verify flag $other; $usage")
      }
    }
    val dir = lakeDir.getOrElse(
      throw new IllegalArgumentException(s"missing --lake-dir; $usage"))
    val audits = graft.chain.Lake.audit(dir, network)
    audits.foreach { a =>
      val tagStr = if (a.tags.isEmpty) "" else a.tags.mkString("[", ",", "] ")
      println(s"${a.network}/${a.dataset} $tagStr${a.format}: " +
        s"${a.nFiles} file(s), blocks ${a.minBlock}..${a.maxBlock}")
      a.gaps.foreach { case (lo, hi) =>
        println(s"  !! gap: blocks $lo..$hi not frozen")
      }
      a.overlaps.foreach { case (p1, p2) =>
        println(s"  !! overlap: $p1 and $p2")
      }
      // advisory, summarized (a partition-dim lake legitimately has
      // one per intersecting file pair per dim value — per-pair lines
      // would drown the report; the pairs are in Lake.audit's struct)
      if (a.crossTagOverlaps.nonEmpty)
        println(s"  ?? ${a.crossTagOverlaps.size} cross-tag overlap " +
          "pair(s): expected for partition dims; DUPLICATE COVERAGE if " +
          "these tags are labels — untagged reads then return shared " +
          "blocks once per label (read with tag=, or remove one run)")
      if (a.overlapsTruncated)
        println("  !! overlap report capped at 1000 pairs — counts " +
          "under-report; re-verify after repairs")
    }
    if (audits.isEmpty) println(s"no chunk files under $dir")
    import spark.implicits._
    audits.map(a => (a.network, a.dataset, a.tags.mkString("__"), a.format,
      a.nFiles, a.minBlock, a.maxBlock, a.gaps.size, a.overlaps.size,
      a.crossTagOverlaps.size, a.overlapsTruncated))
      .toDF("network", "dataset", "tags", "format", "n_files",
        "min_block", "max_block", "n_gaps", "n_overlaps",
        "n_cross_tag_overlaps", "overlaps_truncated")
  }

  private def runLakeCompact(args: Seq[String], spark: SparkSession,
      usage: String): DataFrame = {
    var lakeDir: Option[String] = None
    var target: Option[Long] = None
    var network: Option[String] = None
    var upTo: Option[Long] = None
    var i = 0
    def value(flag: String): String = flagValue(args, i, flag, usage)
    while (i < args.length) {
      args(i) match {
        case f @ ("--lake-dir") => lakeDir = Some(value(f)); i += 2
        case f @ ("--target-chunk-size") => target = Some(value(f).toLong); i += 2
        case f @ ("--network") => network = Some(value(f)); i += 2
        case f @ ("--up-to-block") => upTo = Some(value(f).toLong); i += 2
        case "--show" => i += 2 // tolerated: the py4j bridge appends it
        case other =>
          throw new IllegalArgumentException(s"unknown compact flag $other; $usage")
      }
    }
    val dir = lakeDir.getOrElse(
      throw new IllegalArgumentException(s"missing --lake-dir; $usage"))
    val t = target.getOrElse(
      throw new IllegalArgumentException(s"missing --target-chunk-size; $usage"))
    val written = graft.chain.LakeCompact.compact(spark, dir, t, network, upTo)
    println(s"compacted ${written.size} file(s):")
    written.foreach(w => println(s"  $w"))
    spark.emptyDataFrame
  }

  /** `graft.Cli prep <sf-dir> <out-dir>` — the persist-once corpus-prep
    * composition: the per-document audit (q_doc_corpus_prep, including
    * its embedded LSH + connected-components pass) materializes ONCE as
    * `<out>/audit` parquet, and the per-source rollup derives from the
    * WRITTEN table (`<out>/source_stats`) instead of re-running the
    * pipeline. A chained production run adds further rollups the same
    * way — read the audit, aggregate, write. */
  def runPrep(args: Seq[String], spark: SparkSession): Unit = {
    require(args.length == 2, "usage: prep <sf-dir> <out-dir>")
    val Seq(sfDir, out) = args
    SparkEntry.queries("q_doc_corpus_prep")(spark, sfDir)
      .write.mode("overwrite").parquet(s"$out/audit")
    graft.queries.TextOps.sourceStatsOf(spark.read.parquet(s"$out/audit"))
      .write.mode("overwrite").parquet(s"$out/source_stats")
    graft.queries.TextOps.funnelOf(spark.read.parquet(s"$out/audit"))
      .write.mode("overwrite").parquet(s"$out/funnel")
  }

  /** `graft.Cli index build <sf-dir> <index-dir>` /
    * `graft.Cli index search <sf-dir> <index-dir> [--out DIR] [--show N]`
    * — the build-once/search-many ANN lifecycle from the shell: `build`
    * materializes the IVF-PQ artifacts (centroids + residual codebook +
    * 64×-compressed codes) once; `search` probes the LOADED artifacts
    * (spec-pinned bit-identical to the in-query search) without ever
    * touching raw corpus vectors. */
  def runIndex(args: Seq[String], spark: SparkSession): Unit = {
    val usage = "usage: index build <sf-dir> <index-dir> | " +
      "index search <sf-dir> <index-dir> [--out DIR] [--show N] | " +
      "index compact <index-dir> [--fold-stream]"
    // `compact` rewrites streaming-appended artifacts into
    // key-partitioned files (hash-identical search, far fewer files).
    // `--fold-stream` additionally merges the flat streaming
    // side-artifacts in and removes them — requires ingest STOPPED
    // (see IndexCompact doc); without it, compact is safe to run while
    // a stream keeps appending.
    if (args.headOption.contains("compact")) {
      val fold = args.contains("--fold-stream")
      val rest = args.tail.filterNot(_ == "--fold-stream")
      require(rest.length == 1, usage)
      val done = graft.operators.IndexCompact.compact(spark, rest.head, fold)
      println(s"compacted: ${done.mkString(", ")} under ${rest.head}" +
        (if (fold) " (stream side-artifacts folded)" else ""))
      return
    }
    require(args.length >= 3, usage)
    val Seq(mode, sfDir, idxDir) = args.take(3).toSeq
    mode match {
      case "build" =>
        require(args.length == 3, usage)
        graft.queries.SimilarityOps.saveIvfPqIndex(
          Tables(spark, sfDir, "embeddings"), idxDir)
        println(s"index written: $idxDir (centroids, codebook, codes)")
      case "search" =>
        val queries = Tables(spark, sfDir, "embeddings")
          .filter(org.apache.spark.sql.functions.col("vec_id") < 10)
        val df = graft.queries.SimilarityOps
          .searchIvfPqIndex(spark, queries, idxDir)
        var out: Option[String] = None
        var show = 20
        var i = 3
        while (i < args.length) {
          args(i) match {
            case flag @ ("--out" | "--show") =>
              require(i + 1 < args.length, s"missing value for $flag")
              if (flag == "--out") out = Some(args(i + 1))
              else show = args(i + 1).toInt
              i += 2
            case other =>
              throw new IllegalArgumentException(s"unknown index flag $other")
          }
        }
        out match {
          case Some(dir) => df.write.mode("overwrite").parquet(dir)
          case None => if (show > 0) df.show(show, truncate = false)
        }
      case other => throw new IllegalArgumentException(s"unknown index mode '$other'; $usage")
    }
  }

  /** py4j-friendly twin of runIndex — the Python surface's
    * `graft.index_build` / `graft.index_search` */
  def indexRun(args: Array[String], spark: SparkSession): Unit =
    runIndex(args.toSeq, spark)

  /** py4j-friendly twin of runPrep — the Python surface's `graft.prep` */
  def prepDirs(sfDir: String, outDir: String, spark: SparkSession): Unit =
    runPrep(Seq(sfDir, outDir), spark)

  /** py4j-friendly twin of runPipeline (Array crosses the gateway where
    * a Scala Seq does not) — the Python surface's `graft.pipeline` */
  def pipelineDf(args: Array[String], spark: SparkSession): DataFrame =
    runPipeline(args.toSeq, spark)

  /** Upper bound on a parquet-ref block list: the list is collected to
    * the driver (mirroring cryo's own driver-side read,
    * parse/blocks.rs:79-83), so cap it with limit-pushdown rather than
    * OOM on a fact-table-sized ref — the same hygiene as bounded
    * partition-dim discovery. ~10M longs ≈ 80 MB of driver heap. */
  private[graft] val MaxBlockListSize = 10_000_000

  /** one regex for every list-valued flag's `path.parquet[:column]` form */
  private val FileRef = """(.+\.parquet)(?::([A-Za-z0-9_]+))?""".r

  /** Shared parquet-ref machinery for list-valued flags: the referenced
    * column's DISTINCT non-null values, collected to the driver under the
    * MaxBlockListSize cap (limit+1 pushes into the distinct aggregation:
    * the scan stops once the cap is disproven instead of collecting
    * everything). NULL cells are dropped — a to_address ref over
    * contract-creation txs legitimately holds nulls, and a null is never
    * a list value. A ref whose file is missing fails with the real cause
    * here, not a downstream "invalid hex: ./typo.parquet". */
  private def parquetRefValues(spark: SparkSession, ref: String,
      path: String, column: org.apache.spark.sql.Column,
      capGuidance: String): Seq[Any] = {
    // the friendly existence check only applies to plain LOCAL paths:
    // a scheme (s3a://, hdfs://) or a glob resolves through the Hadoop
    // filesystem inside spark.read, where java.io.File would falsely
    // report not-found for refs Spark can read
    val hadoopResolved = path.contains("://") || path.exists("*?[{" contains _)
    require(hadoopResolved || new java.io.File(path).exists(),
      s"parquet reference $ref: file not found: $path")
    val rows = spark.read.parquet(path).select(column.as("v"))
      .where(col("v").isNotNull).distinct()
      .limit(MaxBlockListSize + 1).collect()
    require(rows.nonEmpty, s"no non-null values in $ref")
    require(rows.length <= MaxBlockListSize,
      s"value list in $ref exceeds $MaxBlockListSize distinct entries; " +
        capGuidance)
    rows.toSeq.map(_.get(0))
  }

  /** `--blocks` accepts the grammar OR a parquet file reference
    * `path.parquet[:column]` whose (deduplicated — parse/blocks.rs:79-83)
    * values become the block list. */
  /** multiple --blocks specs union into one explicit list (reference
    * parity: parse/blocks.rs extends the chunk list per spec); a single
    * spec keeps its Range form so chunk planning stays contiguous */
  private def parseBlocksArgs(spark: SparkSession, specs: Seq[String],
      latest: Long): BlockSyntax.Blocks = {
    val parsed = specs.map(parseBlocksArg(spark, _, latest))
    if (parsed.size == 1) parsed.head
    else {
      // enforce the cap on the SUM of per-spec sizes BEFORE expanding:
      // two large ranges ('0:1B 5') would otherwise materialize billions
      // of boxed longs on the driver before the guard could fire (the
      // sum over-counts duplicates across specs, which only makes the
      // guard stricter — a capped union can never exceed its spec sum)
      // clamp each term before summing: two Long.MaxValue-sized ranges
      // would wrap the Long sum negative and sail past the guard
      val total = parsed.map {
        case BlockSyntax.Range(a, b) => math.min(b - a, MaxBlockListSize + 1L)
        case BlockSyntax.Numbers(ns) => ns.size.toLong
      }.sum
      require(total <= MaxBlockListSize,
        s"multiple --blocks specs expand past $MaxBlockListSize blocks; " +
          "pass one contiguous range instead")
      val all = parsed.flatMap {
        case BlockSyntax.Range(a, b) => a until b
        case BlockSyntax.Numbers(ns) => ns
      }.distinct.sorted
      BlockSyntax.Numbers(all)
    }
  }

  private def parseBlocksArg(spark: SparkSession, blocks: String,
      latest: Long): BlockSyntax.Blocks = blocks match {
    case FileRef(path, colName) =>
      val c = Option(colName).getOrElse("block_number")
      val ns = parquetRefValues(spark, blocks, path, col(c).cast("long"),
          "pass a block range instead of a parquet ref at this scale")
        .map(_.asInstanceOf[Long]).sorted
      BlockSyntax.Numbers(ns)
    case _ => BlockSyntax.parse(blocks, latest)
  }

  /** Binary-list flags (--txs, --address, --contract, --to-address,
    * --from-address, --slot, --topic0..3) accept `path.parquet[:column]`
    * references next to hex strings (parse_utils.rs:parse_binary_arg;
    * per-flag default columns partitions.rs:32-44): the referenced
    * column's DISTINCT non-null values join the list as hex, sorted for
    * deterministic downstream filters. Same bound as block refs — these
    * lists ride isin filters and broadcasts, so they stay driver-sized
    * by contract. */
  private def resolveBinaryRefs(spark: SparkSession, values: Seq[String],
      defaultColumn: String): Seq[String] =
    values.flatMap {
      case ref @ FileRef(path, colName) =>
        val c = Option(colName).getOrElse(defaultColumn)
        parquetRefValues(spark, ref, path, col(c),
            "pass explicit values instead of a parquet ref at this scale")
          .map {
            case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
            case s: String => s
            case other => other.toString
          }.sorted
      case v => Seq(v)
    }

  /** Parse flags + execute; returns None for --dry-run. Separated from
    * main so specs can drive every flag against a shared session. */
  def run(args: Array[String], spark: SparkSession): Option[Freeze.FreezeResult] =
    runImpl(args, spark, collectMode = false) match {
      case Right(r) => r
      case Left(_) => throw new IllegalStateException("unreachable")
    }

  /** In-memory collect with the full CLI flag vocabulary — the library /
    * python surface (cryo collect.rs:5-30, crates/python
    * collect_adapter.rs): exactly one datatype, no files, returns the
    * filtered, column-selected and sorted DataFrame. Callable from
    * PySpark via the py4j gateway (python/graft.py). */
  def collectDf(args: Array[String],
      spark: SparkSession): org.apache.spark.sql.DataFrame =
    runImpl(args, spark, collectMode = true) match {
      case Left(df) => df
      case Right(_) => throw new IllegalStateException("unreachable")
    }

  /** freeze with a JSON result summary — the python `freeze()` surface
    * (py4j-friendly: plain String instead of Scala collections). */
  def freezeJson(args: Array[String], spark: SparkSession): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    run(args, spark) match {
      case None => "null"
      case Some(r) => JsonMethods.compact(JsonMethods.render(
        ("completed" -> r.completed) ~ ("skipped" -> r.skipped) ~
          ("errored" -> r.errored) ~ ("rows" -> r.rows)))
    }
  }

  /** difftest with a JSON outcome list — the python `difftest()`
    * surface (py4j-friendly String). Does NOT throw on mismatches: the
    * caller inspects per-datatype `ok`. */
  def diffTestJson(args: Array[String], spark: SparkSession): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val outcomes = runDiffTest(args.toSeq, spark, failOnMismatch = false)
    JsonMethods.compact(JsonMethods.render(outcomes.map { o =>
      ("datatype" -> o.datatype) ~ ("ok" -> o.ok) ~
        ("ref_rows" -> o.refRows) ~ ("live_rows" -> o.liveRows)
    }))
  }

  private def runImpl(args: Array[String], spark: SparkSession,
      collectMode: Boolean): Either[org.apache.spark.sql.DataFrame, Option[Freeze.FreezeResult]] = {
    var datasets = List.empty[String]
    var blocks: Seq[String] = Seq("0:")
    var blocksExplicit = false
    var sourceDir = "fixtures/chain"
    var outputDir = "out"
    var chunkSize = 1000L
    var nChunks: Option[Int] = None
    var align = false
    var reorgBuffer = 0L
    var network = "ethereum"
    var networkExplicit = false
    var label: Option[String] = None
    var overwrite = false
    var format = "parquet"
    var hex = false
    var dryRun = false
    var latest = 0L
    var contract = Seq.empty[String]
    var addressF = Seq.empty[String]
    var toAddress = Seq.empty[String]
    val topics = Array.fill[Seq[String]](4)(Seq.empty)
    var callDatas = Seq.empty[String]
    var functions = Seq.empty[String]
    var inputsHex = Seq.empty[String]
    var explicitCols: Option[Seq[String]] = None
    var includeCols = Seq.empty[String]
    var excludeCols = Seq.empty[String]
    var u256Types: Option[Seq[String]] = None
    var sortCols = Seq.empty[String]
    var txHashes = Seq.empty[String]
    var timestamps: Option[String] = None
    var partitionBy: Option[String] = None
    var chunkOrder = "normal"
    var maxConcurrentChunks = 4
    var compression: Option[String] = None
    var subdirs = Seq.empty[String]
    var rowGroupSize: Option[Int] = None
    var nRowGroups: Option[Int] = None
    var noStats = false
    var remember = false
    var fromAddress = Seq.empty[String]
    var slotsF = Seq.empty[String]
    var eventSignature: Option[String] = None
    var excludeFailed = false
    var noReport = false
    var reportDir: Option[String] = None
    var verbose = true
    var rpcUrl: Option[String] = None
    var jsTracer: Option[String] = None
    var requestsPerSecond = 0
    var maxRetries = 5
    var initialBackoffMs = 500L
    var innerRequestSize = 100L
    var maxConcurrentRequests = 100
    var computeUnitsPerSecond = 50L

    // multi-value flags consume tokens until the next `--flag`
    def multi(from: Int): (Seq[String], Int) = {
      var j = from
      val out = scala.collection.mutable.ListBuffer.empty[String]
      while (j < args.length && !args(j).startsWith("--")) {
        out += args(j); j += 1
      }
      (out.toSeq, j - 1)
    }

    var i = 0
    def value(flag: String): String = {
      // bounds-checked single-value read: a flag left without its value
      // must report itself, not die as a raw index error
      require(i + 1 < args.length, s"flag $flag needs a value")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case "--blocks" | "-b" =>
          // multiple specs are reference parity (cryo accepts
          // `--blocks 5000 6000 12M:13M`; parse/blocks.rs extends the
          // chunk list per spec) — previously the second value fell
          // through as a bogus dataset name. Consumption stops at the
          // first token that is not block-spec-shaped, so a dataset
          // name may still follow the flag.
          def specLike(t: String): Boolean =
            if (t.startsWith("--")) false
            else if (t.toLowerCase.contains(".parquet")) true
            else {
              val x = t.toLowerCase.replace("latest", "0")
              x.nonEmpty && x.forall(c =>
                c.isDigit || "kmb_.:+-/".contains(c))
            }
          var j = i + 1
          val specs = scala.collection.mutable.ListBuffer.empty[String]
          while (j < args.length && specLike(args(j))) {
            specs += args(j); j += 1
          }
          require(specs.nonEmpty, "--blocks needs at least one value")
          blocks = specs.toSeq; blocksExplicit = true; i = j - 1
        case "--source-dir" => sourceDir = value("--source-dir"); i += 1
        case "--output-dir" | "-o" => outputDir = value("--output-dir"); i += 1
        case "--chunk-size" => chunkSize = value("--chunk-size").toLong; i += 1
        case "--n-chunks" => nChunks = Some(value("--n-chunks").toInt); i += 1
        case "--align" => align = true
        case "--reorg-buffer" => reorgBuffer = value("--reorg-buffer").toLong; i += 1
        case "--network" => network = value("--network"); networkExplicit = true; i += 1
        case "--label" => label = Some(value("--label")); i += 1
        case "--overwrite" => overwrite = true
        case "--csv" => format = "csv"
        case "--json" => format = "json"
        case "--hex" => hex = true
        case "--dry-run" => dryRun = true
        case "--latest" => latest = value("--latest").toLong; i += 1
        case "--contract" => val (v, j) = multi(i + 1); contract = v; i = j
        case "--address" => val (v, j) = multi(i + 1); addressF = v; i = j
        case "--to-address" => val (v, j) = multi(i + 1); toAddress = v; i = j
        case t if t.startsWith("--topic") && t.length == 8 &&
            t.charAt(7) >= '0' && t.charAt(7) <= '3' =>
          val (v, j) = multi(i + 1); topics(t.charAt(7) - '0') = v; i = j
        case "--call-data" => val (v, j) = multi(i + 1); callDatas = v; i = j
        case "--function" => val (v, j) = multi(i + 1); functions = v; i = j
        case "--inputs" => val (v, j) = multi(i + 1); inputsHex = v; i = j
        case "--columns" => val (v, j) = multi(i + 1); explicitCols = Some(v); i = j
        case "--include-columns" => val (v, j) = multi(i + 1); includeCols = v; i = j
        case "--exclude-columns" => val (v, j) = multi(i + 1); excludeCols = v; i = j
        case "--u256-types" => val (v, j) = multi(i + 1); u256Types = Some(v); i = j
        case "--sort" => val (v, j) = multi(i + 1); sortCols = v; i = j
        case "--txs" => val (v, j) = multi(i + 1); txHashes = v; i = j
        case "--timestamps" => timestamps = Some(value("--timestamps")); i += 1
        case "--partition-by" => partitionBy = Some(value("--partition-by")); i += 1
        case "--compression" => compression = Some(value("--compression")); i += 1
        case "--row-group-size" => rowGroupSize = Some(value("--row-group-size").toInt); i += 1
        case "--n-row-groups" => nRowGroups = Some(value("--n-row-groups").toInt); i += 1
        case "--no-stats" => noStats = true
        case "--subdirs" => val (v, j) = multi(i + 1); subdirs = v; i = j
        case "--chunk-order" => chunkOrder = value("--chunk-order"); i += 1
        case "--max-concurrent-chunks" => maxConcurrentChunks = value("--max-concurrent-chunks").toInt; i += 1
        case "--remember" => remember = true
        case "--from-address" => val (v, j) = multi(i + 1); fromAddress = v; i = j
        case "--slot" => val (v, j) = multi(i + 1); slotsF = v; i = j
        case "--event-signature" => eventSignature = Some(value("--event-signature")); i += 1
        case "--exclude-failed" => excludeFailed = true
        case "--no-report" => noReport = true
        case "--report-dir" => reportDir = Some(value("--report-dir")); i += 1
        case "--verbose" => verbose = true
        case "--no-verbose" => verbose = false
        case "--rpc" => rpcUrl = Some(value("--rpc")); i += 1
        case "--js-tracer" => jsTracer = Some(value("--js-tracer")); i += 1
        case "--requests-per-second" => requestsPerSecond = value("--requests-per-second").toInt; i += 1
        case "--max-retries" => maxRetries = value("--max-retries").toInt; i += 1
        case "--initial-backoff" => initialBackoffMs = value("--initial-backoff").toLong; i += 1
        case "--inner-request-size" => innerRequestSize = value("--inner-request-size").toLong; i += 1
        case "--max-concurrent-requests" => maxConcurrentRequests = value("--max-concurrent-requests").toInt; i += 1
        case "--compute-units-per-second" => computeUnitsPerSecond = value("--compute-units-per-second").toLong; i += 1
        case flag if flag.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag: $flag")
        case ds => datasets ::= ds
      }
      i += 1
    }
    // No datasets → replay the remembered command for this output dir
    // (cryo run.rs:39-51, remember.rs): current flags are appended after
    // the remembered ones, so they take precedence in re-parsing.
    if (datasets.isEmpty) {
      val remembered = loadRemembered(outputDir).getOrElse(
        throw new IllegalArgumentException("either 1) specify datasets to " +
          "collect or 2) specify a command to remember with --remember"))
      require(remembered.command.nonEmpty,
        s"remembered command under $outputDir is empty or corrupt — " +
          "delete .graft/remembered_command.json and re-run with --remember")
      if (remembered.version != Version)
        System.err.println("remembered command comes from a different " +
          "graft version, proceed with caution")
      println(s"remembering previous command: graft ${remembered.command.mkString(" ")}")
      return runImpl(remembered.command.toArray ++ args, spark, collectMode)
    }
    if (remember) {
      println("remembering this command for future use")
      saveRemembered(outputDir, args.filterNot(_ == "--remember"))
    }
    // --sort none disables the custom sort; a custom sort applies to
    // single-datatype runs only (cryo cli/parse/schemas.rs:167-194)
    if (sortCols == Seq("none")) sortCols = Seq.empty
    require(sortCols.isEmpty || datasets.size == 1,
      "--sort applies to single-datatype runs only")
    require(maxConcurrentChunks >= 1,
      s"--max-concurrent-chunks must be at least 1, got $maxConcurrentChunks")
    require(chunkSize >= 1, s"--chunk-size must be at least 1, got $chunkSize")
    require(nChunks.forall(_ >= 1), s"--n-chunks must be at least 1, got ${nChunks.get}")
    require(nRowGroups.forall(_ >= 1),
      s"--n-row-groups must be at least 1, got ${nRowGroups.get}")
    require(reorgBuffer >= 0, s"--reorg-buffer must be at least 0, got $reorgBuffer")

    // expand multis + aliases via the registry (meta.rs clustering names)
    val expanded = datasets.reverse.flatMap { d =>
      Datatypes.multis.getOrElse(d, Seq(Datatypes(d).name))
    }.distinct

    val reprs: Seq[U256.Repr] = u256Types.map(_.map {
      case "binary" => U256.Binary
      case "string" => U256.Str
      case "f32" => U256.F32
      case "f64" => U256.F64
      case "u32" => U256.U32
      case "u64" => U256.U64
      case "d128" => U256.D128
      case other => throw new IllegalArgumentException(s"unknown u256 type: $other")
    }).getOrElse(U256.defaultReprs)

    // parquet column references in the binary-list flags resolve before
    // any filtering/collection (reference parse_binary_arg semantics)
    contract = resolveBinaryRefs(spark, contract, "contract_address")
    addressF = resolveBinaryRefs(spark, addressF, "address")
    toAddress = resolveBinaryRefs(spark, toAddress, "to_address")
    fromAddress = resolveBinaryRefs(spark, fromAddress, "from_address")
    slotsF = resolveBinaryRefs(spark, slotsF, "slot")
    (0 until 4).foreach(k =>
      topics(k) = resolveBinaryRefs(spark, topics(k), s"topic$k"))
    txHashes = resolveBinaryRefs(spark, txHashes, "transaction_hash")

    // calldata composition (cli/parse/partitions.rs:136-174): --call-data
    // raw, or --function selector hex [× --inputs hex] cross-product.
    val composedCallData: Seq[String] =
      (callDatas, functions, inputsHex) match {
        case (Seq(), Seq(), Seq()) => Seq.empty
        case (cd, Seq(), Seq()) => cd
        case (Seq(), f, Seq()) => f
        case (Seq(), Seq(), _) => throw new IllegalArgumentException(
          "must specify function if specifying inputs")
        case (Seq(), f, ins) =>
          for { ff <- f; ii <- ins }
            yield ff + ii.stripPrefix("0x").stripPrefix("0X")
        case _ => throw new IllegalArgumentException(
          "cannot specify both call_data and function/inputs")
      }

    // each entity flag: its name, the column it filters in a dataset
    // (parse/query.rs:31-108 remapping) and its values
    val entityFlags: Seq[(String, String => String, Seq[String])] = Seq(
      ("--contract", (n: String) => contractCol.getOrElse(n, "contract_address"), contract),
      ("--address", (_: String) => "address", addressF),
      ("--to-address", (_: String) => "to_address", toAddress),
      ("--from-address", (_: String) => "from_address", fromAddress),
      ("--slot", (_: String) => "slot", slotsF)) ++
      (0 until 4).map(k => (s"--topic$k", (_: String) => s"topic$k", topics(k))) :+
      (("--call-data / --function", callDataCol _, composedCallData))

    /** the entity flags as a row filter of a dataset's built table */
    def entities(name: String)(df: DataFrame): DataFrame =
      entityFlags.foldLeft(df) { case (d, (_, colFor, hexVals)) =>
        val c = colFor(name)
        val vals = hexVals.map(RpcCodec.parseHexBytes)
        if (vals.isEmpty || !d.columns.contains(c)) d
        else if (vals.size == 1) d.filter(col(c) === lit(vals.head))
        else d.filter(col(c).isin(vals: _*))
      }

    // an entity flag whose mapped column exists on NO requested dataset
    // is a typo or a wrong dataset choice — silently skipping the filter
    // returned the FULL table while looking like a successful filter.
    // (In a multi-dataset run the flag legitimately applies to a subset,
    // so the requirement is ≥1 matching dataset, mirrored per dataset by
    // entities' column check.)
    entityFlags.foreach { case (flag, colFor, vals) =>
      if (vals.nonEmpty)
        require(expanded.exists(n => Datatypes(n).columnNames.contains(colFor(n))),
          s"$flag does not apply to ${expanded.mkString("/")}: no such " +
            "filter column on any requested dataset")
    }

    // validate explicit column lists eagerly (schemas.rs: unknown names in
    // --columns are an error, not a per-chunk failure)
    explicitCols.foreach { cols =>
      expanded.foreach(n =>
        TableSchema.resolve(Datatypes(n), Seq.empty, Seq.empty, Some(cols)))
    }
    // a chunked freeze files each row by its block_number, so the written
    // columns must keep it (collect and --txs write no chunk files)
    if (!collectMode && txHashes.isEmpty)
      expanded.foreach(n => require(TableSchema.resolve(Datatypes(n),
        includeCols, excludeCols, explicitCols).contains("block_number"),
        s"a chunked freeze of $n needs block_number among its columns"))

    // --event-signature ABI-decodes logs into event__ columns
    // (log_decoder.rs); --exclude-failed drops failed txs / failed trace
    // subtrees (args.rs)
    val buildOptions = Freeze.BuildOptions(reprs, includeCols, excludeCols,
      explicitCols, eventSignature, excludeFailed)
    val builders: Map[String, Freeze.DatasetBuilder] =
      expanded.map(name => name -> Freeze.build(name, buildOptions, entities(name))).toMap

    // TimeDimension::Transactions: a tx-hash list replaces the block range
    // (types/queries.rs:75-80) — one file per dataset, hash-prefix stub
    if (txHashes.nonEmpty) {
      // the hash path reads a LOCAL bronze/fixture dir; silently
      // ignoring --rpc would return fixture rows while looking live
      require(rpcUrl.isEmpty,
        "--txs with --rpc is not supported: tx-hash collection reads a " +
          "local bronze dir — freeze the blocks live first, then collect " +
          "--txs against that bronze with --source-dir")
      val hashes = txHashes.map(RpcCodec.parseHexBytes)
      def byTx(name: String): DataFrame = Freeze.collectByTransaction(
        Bronze.dir(spark, sourceDir), name, hashes.toSeq, buildOptions, entities(name))
      if (collectMode) {
        require(expanded.size == 1, "collect() takes exactly one datatype")
        val df = Freeze.ordered(expanded.head, byTx(expanded.head), sortCols)
        return Left(if (hex) Freeze.hexifyBinary(df) else df)
      }
      graft.chain.LakeFs.mkdirs(outputDir)
      val written = expanded.map { name =>
        val df = byTx(name)
        val stub = txHashes.head.stripPrefix("0x").take(8) + s"_${txHashes.size}txs"
        val target = graft.chain.LakeFs.display(new org.apache.hadoop.fs.Path(
          outputDir, s"${network}__${name}__txs_$stub.$format"))
        target -> Freeze.writeSingleFile(df, Freeze.sortKeys(name, df, sortCols), target, format)
      }
      return Right(Some(Freeze.FreezeResult(written.map(_._1), Nil, Nil,
        written.map(_._2).sum)))
    }

    // Live mode (--rpc, sources.rs:119-150): detect the chain id, resolve
    // `latest` from the node, and fetch ONLY the bronze tables the
    // requested datasets read into Spark's cache — the builders read
    // them as they read a --source-dir (live extraction and fixtures
    // share one transform path), and nothing is staged on disk.
    val liveSource: Option[graft.sources.RpcSource] = rpcUrl.map { url =>
      val src = graft.sources.RpcSource.detect(graft.sources.RpcConfig(url,
        maxConcurrentRequests = maxConcurrentRequests,
        requestsPerSecond = requestsPerSecond, maxRetries = maxRetries,
        initialBackoffMs = initialBackoffMs,
        innerRequestSize = innerRequestSize,
        computeUnitsPerSecond = computeUnitsPerSecond))
      if (!networkExplicit) network = Freeze.networkName(src.chainId)
      src
    }
    require(liveSource.isEmpty || timestamps.isEmpty,
      "--timestamps with --rpc is not supported; pass --blocks")

    val maxFixtureBlock =
      if (latest > 0) latest
      else liveSource.map(_.fetchLatestBlock()).getOrElse(
        graft.chain.GenFixtures.FirstBlock + graft.chain.GenFixtures.NBlocks - 1L)
    // the same conflict the lake path refuses — silently preferring the
    // timestamp range would discard the user's explicit block range on
    // the WRITE path
    require(timestamps.isEmpty || !blocksExplicit,
      "--blocks and --timestamps are mutually exclusive")
    var blocksSpec: BlockSyntax.Blocks = timestamps match {
      // --timestamps T1:T2 → block range via the ≤-semantics binary search
      // (cli/parse/timestamps.rs)
      case Some(ts) =>
        val blocksDf = Bronze.dir(spark, sourceDir)("rpc_blocks")
        TimestampSyntax.resolveRange(ts, blocksDf,
          now = System.currentTimeMillis() / 1000)
      case None => parseBlocksArgs(spark, blocks, maxFixtureBlock)
    }
    if (reorgBuffer > 0) blocksSpec match {
      case r: BlockSyntax.Range =>
        BlockSyntax.applyReorgBuffer(r, maxFixtureBlock, reorgBuffer) match {
          case Some(r2) => blocksSpec = r2
          case None => println("nothing to collect after reorg buffer"); return Right(None)
        }
      case BlockSyntax.Numbers(ns) =>
        val kept = ns.filter(_ <= maxFixtureBlock - reorgBuffer)
        if (kept.isEmpty) { println("nothing to collect after reorg buffer"); return Right(None) }
        blocksSpec = BlockSyntax.Numbers(kept)
    }

    // the bronze the builders read over some blocks: fetched from the
    // node under --rpc (every request made before this returns), else
    // --source-dir's tables. Dry runs plan file layout only — no node
    // traffic (run.rs dry path).
    def openBronze(blocks: BlockSyntax.Blocks): Bronze = liveSource match {
      case Some(src) if !dryRun =>
        val liveCalls = for {
          to <- contract
          data <- composedCallData
        } yield (to, data)
        src.fetchBronze(spark, blocks, expanded,
          addresses = addressF, slots = slotsF, calls = liveCalls,
          jsTracer = jsTracer, options = buildOptions)
      case _ => Bronze.dir(spark, sourceDir, blocks)
    }

    // In-memory collect: one datatype, entity- and block-filtered,
    // sorted, no files (cryo collect.rs:5-30 single-datatype guard). A
    // fetched bronze stays held for as long as the returned frame is used.
    if (collectMode) {
      require(expanded.size == 1, "collect() takes exactly one datatype")
      val name = expanded.head
      val df = Freeze.ordered(name, Freeze.build(name, buildOptions,
        t => Freeze.filterBlocks(entities(name)(t), blocksSpec))(openBronze(blocksSpec)),
        sortCols)
      return Left(if (hex) Freeze.hexifyBinary(df) else df)
    }

    // cryo semantics: when the partition dim has user-supplied entity
    // values, those values ARE the partition list (cross-producted with
    // every block chunk) — no data-driven discovery
    // (types/partitions.rs:290-337,340-404).
    val partitionValues: Seq[Any] = partitionBy.toSeq.flatMap { dim =>
      val fromEntity: Seq[String] = dim match {
        case "address" => addressF
        case "to_address" => toAddress
        case "from_address" => fromAddress
        case "slot" => slotsF
        case "call_data" => composedCallData
        case t if t.startsWith("topic") && t.length == 6 =>
          topics(t.charAt(5) - '0')
        case _ => Seq.empty
      }
      val fromContract =
        if (contract.nonEmpty && expanded.exists(n =>
          contractCol.getOrElse(n, "contract_address") == dim)) contract
        else Seq.empty
      (if (fromEntity.nonEmpty) fromEntity else fromContract)
        .map(RpcCodec.parseHexBytes)
    }

    // --row-group-size wins; --n-row-groups derives rows per group from
    // the block chunk size (file_output.rs:139-150 div_ceil semantics)
    val rowGroupRows: Option[Int] = rowGroupSize.orElse(
      nRowGroups.map(n => ((chunkSize + n - 1) / n).toInt))

    val spec = Freeze.FreezeSpec(expanded, blocksSpec, chunkSize, nChunks, align,
      reorgBuffer, outputDir, network, label, overwrite, format, hex,
      partitionBy, partitionValues = partitionValues,
      chunkOrder = chunkOrder, chunkOrderSeed = 0, compression = compression,
      rowGroupSize = rowGroupRows, noStats = noStats,
      maxConcurrentChunks = maxConcurrentChunks,
      cliCommand = Some(("graft" +: args.toSeq).mkString(" ")),
      noReport = noReport, reportDirOverride = reportDir,
      subdirs = subdirs, sort = sortCols)

    val chunks = BlockSyntax.chunks(blocksSpec, chunkSize, nChunks, align)
    if (dryRun) {
      println(s"[dry-run] datasets: ${expanded.mkString(", ")}")
      println(s"[dry-run] blocks: $blocksSpec → ${chunks.size} chunk(s)")
      for (d <- expanded; c <- chunks)
        println("  " + Freeze.fileName(spec, d, c))
      return Right(None)
    }

    if (verbose) printIntro(spec, chunks.size, rpcUrl.getOrElse(sourceDir))
    val t0 = System.nanoTime()
    val result = Freeze.freeze(openBronze(_), spec, builders)
    if (verbose)
      printConclusion(result, chunks.size * expanded.size, (System.nanoTime() - t0) / 1e9)
    Right(Some(result))
  }
}
