package graft.chain

import graft.functions.U256
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** The freeze lifecycle: chunked, idempotent, resumable extraction to
  * named files — the Spark rendering of cryo's `freeze()`
  * (cryo freeze.rs:26-200) with its file-naming and skip-existing
  * semantics (types/chunks/chunk_ops.rs:25-54, freeze.rs:92-110).
  *
  * Each chunk becomes one output file
  * `{network}__{datatype}[__{label}]__{start:08d}_to_{end:08d}.parquet`;
  * existing files are skipped unless overwrite, before any bronze is
  * opened — re-running a job fetches and touches only missing chunks
  * (incremental/resumable extraction). Each dataset's files of a run are
  * written by one partitioned Spark job into a `._tmp` directory, and
  * each file is then promoted to its name (export.rs:13-23) over the
  * Hadoop FileSystem of the output path — a lake can live on local disk,
  * HDFS or an object store (see LakeFs for the per-FS rename semantics;
  * PLANS.md carries the swap-site atomicity audit).
  *
  * Scale note: the freeze filters no block range itself. The opener
  * returns bronze holding only the run's blocks (a node fetch of the
  * run, or `Bronze.dir`'s block filter, which Catalyst pushes into the
  * parquet scan), so a 1000-chunk freeze over 100 TB reads each row
  * group once per run that overlaps it.
  */
object Freeze {

  case class FreezeSpec(
      datasets: Seq[String],
      blocks: BlockSyntax.Blocks,
      chunkSize: Long = 1000,
      nChunks: Option[Int] = None,
      align: Boolean = false,
      reorgBuffer: Long = 0,
      outputDir: String,
      network: String = "ethereum",
      label: Option[String] = None,
      overwrite: Boolean = false,
      format: String = "parquet",
      hex: Boolean = false,
      partitionBy: Option[String] = None,
      /** user-supplied values for the partition dim (cryo semantics:
        * partition values come from CLI entity chunk lists,
        * types/partitions.rs:290-337 — never discovered from data).
        * When non-empty each chunk cross-products these values; when
        * empty, values are discovered from the scan, bounded by
        * `maxDiscoveredPartitions`. */
      partitionValues: Seq[Any] = Seq.empty,
      /** hard cap on discovered (chunk, value) partition combos — a
        * high-cardinality dim (`--partition-by address`) would otherwise
        * collect an unbounded list to the driver. */
      maxDiscoveredPartitions: Int = 10000,
      /** chunk collection order (cli/parse/partitions.rs:110-123):
        * normal | reverse | random (seeded for reproducibility) */
      chunkOrder: String = "normal",
      chunkOrderSeed: Long = 0,
      /** parquet/csv/json compression codec (args.rs --compression) */
      compression: Option[String] = None,
      /** rows per parquet row group (file_output.rs:139-150 --row-group-size
        * / --n-row-groups): maps to parquet.block.row.count.limit */
      rowGroupSize: Option[Int] = None,
      /** omit column statistics (args.rs --no-stats):
        * parquet.column.statistics.enabled=false */
      noStats: Boolean = false,
      /** dataset write jobs in flight at once, at least 1 (cryo's chunk
        * semaphore, freeze.rs:85-87; each job writes all of a run's
        * files of one dataset) */
      maxConcurrentChunks: Int = 4,
      /** recorded in the run report (reports.rs cli_command/args) */
      cliCommand: Option[String] = None,
      /** suppress the JSON run report (args.rs --no-report) */
      noReport: Boolean = false,
      /** report directory override (args.rs --report-dir; default
        * <output>/.graft/reports) */
      reportDirOverride: Option[String] = None,
      /** output subdirectory layout (types/files.rs:63-105 --subdirs):
        * any of "datatype", "network", or a literal custom label */
      subdirs: Seq[String] = Seq.empty,
      /** sort keys of every file (`--sort`, single-dataset runs); empty:
        * the dataset's default sort (sortKeys). The builders sort nothing */
      sort: Seq[String] = Seq.empty)

  case class FreezeResult(
      completed: Seq[String], skipped: Seq[String], errored: Seq[String],
      rows: Long)

  /** chunk stub `{min:08d}_to_{max:08d}` (number_chunk.rs:18-20; max is
    * inclusive in the filename, matching the reference) */
  def chunkStub(r: BlockSyntax.Range): String =
    f"${r.start}%08d_to_${r.endExclusive - 1}%08d"

  def fileName(spec: FreezeSpec, dataset: String, r: BlockSyntax.Range): String = {
    val label = spec.label.map("__" + _).getOrElse("")
    s"${spec.network}__${dataset}${label}__${chunkStub(r)}.${spec.format}"
  }

  /** dataset name → full DataFrame builder over its bronze tables */
  type DatasetBuilder = Bronze => DataFrame

  /** The schema and filter settings a table is built with: `--u256-types`,
    * `--include-columns`, `--exclude-columns`, `--columns`,
    * `--event-signature` and `--exclude-failed`. Each builder reads the
    * ones that apply to its dataset; `build` selects the columns. */
  case class BuildOptions(
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs,
      include: Seq[String] = Seq.empty, exclude: Seq[String] = Seq.empty,
      columns: Option[Seq[String]] = None,
      eventSignature: Option[String] = None,
      excludeFailed: Boolean = false)

  /** One dataset, declared once (cryo datatype_macros.rs
    * define_datatypes!): the bronze tables its builder reads and the
    * builder itself, both for given options. The builder emits the
    * dataset's declared columns, unsorted (see ChainDatasets). */
  case class Entry(bronze: BuildOptions => Set[String],
      build: BuildOptions => DatasetBuilder)

  private def reads(tables: String*)(build: BuildOptions => DatasetBuilder): Entry =
    Entry(_ => tables.toSet, build)

  /** The chain catalog: every dataset by canonical name. Live extraction
    * fetches exactly an entry's bronze (RpcSource.fetchBronze), a multi
    * bundle holds the union of its members' bronze in one persisted
    * Bronze (collectMulti), and BronzeDepsSpec builds every entry from a
    * Bronze holding its declared tables alone. */
  val catalog: Map[String, Entry] = {
    import graft.chain.{ChainDatasets => CD}
    val logs = "rpc_logs"
    val traces = "rpc_traces"
    val prestate = "rpc_geth_prestate"
    val calls = "rpc_calls"
    // the four state-diff tables come from one replay pass, so each
    // member declares all four
    val diffs = Seq("rpc_balance_diffs", "rpc_code_diffs",
      "rpc_nonce_diffs", "rpc_storage_diffs")
    Map(
      "blocks" -> reads("rpc_blocks")(_ => CD.blocks),
      "transactions" -> Entry(
        o => Set("rpc_transactions", "rpc_blocks") ++ (
          if (txReceipts(o)) Set("rpc_receipts") else Set.empty),
        o => CD.transactions(_, o.excludeFailed, receipts = txReceipts(o))),
      "logs" -> reads(logs)(o => CD.logs(_, eventSignature = o.eventSignature,
        u256Reprs = o.u256Reprs)),
      "traces" -> reads(traces)(o => CD.traces(_, o.excludeFailed)),
      "erc20_transfers" -> reads(logs)(o => CD.erc20Transfers(_, o.u256Reprs)),
      "erc20_approvals" -> reads(logs)(o => CD.erc20Approvals(_, o.u256Reprs)),
      "erc721_transfers" -> reads(logs)(o => CD.erc721Transfers(_, o.u256Reprs)),
      "native_transfers" -> reads(traces)(o => CD.nativeTransfers(_, o.u256Reprs)),
      "contracts" -> reads(traces)(_ => CD.contracts),
      "four_byte_counts" -> reads(traces)(_ => CD.fourByteCounts),
      "address_appearances" -> reads("rpc_blocks", "rpc_transactions",
        "rpc_receipts", logs, traces)(_ => CD.addressAppearances),
      "balances" -> reads("rpc_accounts")(o => CD.balances(_, o.u256Reprs)),
      "nonces" -> reads("rpc_accounts")(_ => CD.nonces),
      "codes" -> reads("rpc_accounts")(_ => CD.codes),
      "slots" -> reads("rpc_storage")(o => CD.slots(_, o.u256Reprs)),
      "storage_diffs" -> reads(diffs: _*)(o => CD.storageDiffs(_, o.u256Reprs)),
      "balance_diffs" -> reads(diffs: _*)(o => CD.balanceDiffs(_, o.u256Reprs)),
      "nonce_diffs" -> reads(diffs: _*)(_ => CD.nonceDiffs),
      "code_diffs" -> reads(diffs: _*)(_ => CD.codeDiffs),
      "geth_balance_diffs" -> reads(prestate)(o => CD.gethBalanceDiffs(_, o.u256Reprs)),
      "geth_code_diffs" -> reads(prestate)(_ => CD.gethCodeDiffs),
      "geth_nonce_diffs" -> reads(prestate)(_ => CD.gethNonceDiffs),
      "geth_storage_diffs" -> reads(prestate)(o => CD.gethStorageDiffs(_, o.u256Reprs)),
      "balance_reads" -> reads(prestate)(o => CD.balanceReads(_, o.u256Reprs)),
      "code_reads" -> reads(prestate)(_ => CD.codeReads),
      "nonce_reads" -> reads(prestate)(_ => CD.nonceReads),
      "storage_reads" -> reads(prestate)(_ => CD.storageReads),
      "eth_calls" -> reads(calls)(_ => CD.ethCalls),
      "erc20_metadata" -> reads(calls)(_ => CD.erc20Metadata),
      "erc20_supplies" -> reads(calls)(o => CD.erc20Supplies(_, o.u256Reprs)),
      "erc20_balances" -> reads(calls)(o => CD.erc20Balances(_, o.u256Reprs)),
      // tracer-family datasets are catalogued like the rest so the CLI
      // freeze path covers them, not just the driver query registry
      "vm_traces" -> reads("rpc_vm_traces")(_ => CD.vmTraces),
      "geth_opcodes" -> reads("rpc_geth_opcodes")(o => CD.gethOpcodes(_,
        CD.gethOpcodesCaptures(o.include, o.exclude, o.columns))),
      "geth_calls" -> reads("rpc_geth_calls")(o => CD.gethCalls(_, o.u256Reprs)),
      "javascript_traces" -> reads("rpc_js_traces")(_ => CD.javascriptTraces),
      "trace_calls" -> reads("rpc_trace_calls")(_ => CD.traceCalls),
      "erc721_metadata" -> reads("rpc_calls_erc721")(_ => CD.erc721Metadata))
  }

  private def txReceipts(o: BuildOptions): Boolean =
    ChainDatasets.transactionsNeedReceipts(o.excludeFailed, o.include, o.exclude, o.columns)

  /** A dataset's table as every output gets it: its catalog builder under
    * `o`, then `filter` (the entity filters), then the columns `o`
    * selects (TableSchema.select). Unsorted: each output sorts by
    * `sortKeys` (a freeze's files, writeSingleFile, the collects). */
  def build(dataset: String, o: BuildOptions = BuildOptions(),
      filter: DataFrame => DataFrame = identity): DatasetBuilder = {
    val ds = Datatypes(dataset)
    val raw = catalog(ds.name).build(o)
    bronze => TableSchema.select(filter(raw(bronze)), ds, o.include, o.exclude, o.columns)
  }

  /** a dataset's table at the default options */
  def builder(dataset: String): DatasetBuilder = build(dataset)

  /** The keys an output of `dataset` is sorted by: `sort` (`--sort`), else
    * the dataset's default sort among the columns `df` holds. */
  private[graft] def sortKeys(dataset: String, df: DataFrame,
      sort: Seq[String] = Seq.empty): Seq[String] =
    if (sort.nonEmpty) sort else TableSchema.sortKeys(Datatypes(dataset), df.columns.toSeq)

  /** `df` in the order of `sortKeys`, as a collect returns it */
  private[graft] def ordered(dataset: String, df: DataFrame,
      sort: Seq[String] = Seq.empty): DataFrame =
    df.orderBy(sortKeys(dataset, df, sort).map(col): _*)

  /** every dataset's default builder over a bronze directory */
  val builders: Map[String, (SparkSession, String) => DataFrame] =
    catalog.transform((name, _) => (spark, dir) => builder(name)(Bronze.dir(spark, dir)))

  /** In-memory collect — the library API of the reference
    * (cryo collect.rs:5-30): one dataset, no files, sorted by its default
    * sort. Takes the same schema/representation options as the CLI. */
  def collect(bronze: Bronze, dataset: String,
      blocks: BlockSyntax.Blocks,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs,
      include: Seq[String] = Seq.empty, exclude: Seq[String] = Seq.empty,
      columns: Option[Seq[String]] = None,
      hex: Boolean = false): DataFrame = {
    val df = ordered(dataset, build(dataset, BuildOptions(u256Reprs, include, exclude, columns),
      filterBlocks(_, blocks))(bronze))
    if (hex) hexifyBinary(df) else df
  }

  /** chain_id → canonical network name for file naming when --network is
    * not given (cryo cli/parse/file_output.rs:62-90; public chain ids). */
  val networkNames: Map[Long, String] = Map(
    1L -> "ethereum", 5L -> "goerli", 10L -> "optimism", 56L -> "bnb",
    69L -> "optimism_kovan", 100L -> "gnosis", 137L -> "polygon",
    420L -> "optimism_goerli", 1101L -> "polygon_zkevm",
    8453L -> "base", 10200L -> "gnosis_chidao", 17000L -> "holesky",
    42161L -> "arbitrum", 42170L -> "arbitrum_nova",
    43114L -> "avalanche", 80001L -> "polygon_mumbai",
    84531L -> "base_goerli", 7777777L -> "zora",
    11155111L -> "sepolia")

  def networkName(chainId: Long): String =
    networkNames.getOrElse(chainId, s"network_$chainId")

  /** Collect by transaction hashes — TimeDimension::Transactions
    * (cryo types/queries.rs:75-80, collect_generic.rs:14-19): the unit of
    * collection is a tx-hash list instead of a block range. Hash lists are
    * small → an isin/broadcast-semi filter on transaction_hash, applied
    * with `filter` before the columns are selected. Unsorted: the CLI
    * sorts at its output. */
  def collectByTransaction(bronze: Bronze, dataset: String,
      txHashes: Seq[Array[Byte]], o: BuildOptions = BuildOptions(),
      filter: DataFrame => DataFrame = identity): DataFrame = {
    val ds = Datatypes(dataset)
    require(ds.byTransaction, s"${ds.name} does not support tx-hash collection")
    build(ds.name, o, filter.andThen { df =>
      if (df.columns.contains("transaction_hash"))
        df.filter(col("transaction_hash").isin(txHashes: _*))
      else {
        // block-keyed datasets (blocks itself): the reference's
        // CollectByTransaction resolves each tx's CONTAINING block
        // (blocks.rs:71-90) — map hashes to block numbers through the
        // transactions bronze, then filter the block dimension. The
        // collect is |hash list|-bounded (tx lists are small by
        // construction, the same discipline as the isin filter above).
        val bns = bronze("rpc_transactions")
          .filter(col("transaction_hash").isin(txHashes: _*))
          .select("block_number").distinct()
          .collect().map(_.get(0)).toSeq
        df.filter(col("block_number").isin(bns: _*))
      }
    })(bronze)
  }

  private[graft] def filterBlocks(df: DataFrame, blocks: BlockSyntax.Blocks): DataFrame =
    blocks match {
      case BlockSyntax.Range(a, b) =>
        df.filter(col("block_number") >= a && col("block_number") < b)
      case BlockSyntax.Numbers(ns) =>
        df.filter(col("block_number").isin(ns: _*))
    }

  /** Multi-dataset collection sharing one extraction pass
    * (cryo types/datatypes/meta.rs:23-39 clustering): the union of the
    * members' bronze tables is held once in a `Bronze.persisted`, and
    * every member builds from it, so N member tables cost one scan of
    * each table. Each member comes sorted by its default sort. Call
    * `release()` when done.
    */
  case class MultiResult(tables: Map[String, DataFrame], release: () => Unit)

  def collectMulti(bronze: Bronze, multiName: String): MultiResult = {
    val members = Datatypes.multis.getOrElse(multiName,
      throw new IllegalArgumentException(s"unknown multi: $multiName"))
    val held = Bronze.persisted(members.flatMap(catalog(_).bronze(BuildOptions()))
      .distinct.map(t => t -> bronze(t)).toMap)
    MultiResult(members.map(m => m -> ordered(m, builder(m)(held))).toMap,
      () => held.release())
  }

  private sealed trait TaskOutcome
  private case class Completed(path: String) extends TaskOutcome
  private case class Skipped(path: String) extends TaskOutcome
  private case class Errored(path: String) extends TaskOutcome

  /** one output file of a run: its chunk, the lookup key of its
    * partition value (None without `partitionBy`, or for a null value)
    * and its path */
  private case class Target(chunk: BlockSyntax.Range, key: Option[String], path: String)

  /** the column a write tags each row with: the index of the file the
    * row belongs to, which is also the `partitionBy` dir it lands in */
  private val FileIndex = "file_index"

  /** The index in `run` (chunks in block order) of the chunk holding a
    * block, or -1 for a block outside them or, under a block list, not
    * listed. The bounds are data the function closes over, so a plan
    * that calls it holds no literal of the run. */
  private def chunkIndex(run: Seq[BlockSyntax.Range], blocks: BlockSyntax.Blocks): Long => Int = {
    val starts = run.map(_.start).toArray
    val ends = run.map(_.endExclusive).toArray
    val listed: Long => Boolean = blocks match {
      case BlockSyntax.Numbers(ns) => ns.filter(n => n >= starts.head && n < ends.last).toSet
      case _ => _ => true
    }
    bn => {
      val i = java.util.Arrays.binarySearch(starts, bn)
      val k = if (i >= 0) i else -i - 2
      if (k >= 0 && bn < ends(k) && listed(bn)) k else -1
    }
  }

  /** a partition value's lookup key: upper-case hex of a binary value,
    * else its string form, on the driver (`keyOf`) and per row (`keyColumn`) */
  private def keyOf(v: Any): String = v match {
    case b: Array[Byte] => b.map("%02X".format(_)).mkString
    case other => other.toString
  }

  private def keyColumn(df: DataFrame, dim: String): Column =
    if (df.schema(dim).dataType == BinaryType) hex(col(dim)) else col(dim).cast("string")

  /** Chunked file extraction with skip-existing. Returns the run report
    * (freeze.rs:149-168 summary semantics).
    *
    * A chunk whose files all exist (without overwrite) is skipped before
    * anything is opened (freeze.rs:92-110). `open` is called once per
    * maximal run of the other chunks adjacent in block order, with the
    * run's span (of a block list, its listed blocks); a fresh freeze is
    * one run. What it returns is released once the run's files are
    * written. Discovered partition values (`partitionBy` without
    * `partitionValues`) name files from the data, so those chunks are
    * always opened and each file is skipped once it is named.
    *
    * Scale shape: ONE Spark write job per dataset and run, whatever its
    * number of chunk files (cryo writes one file per chunk and datatype,
    * freeze.rs:85-110). The job tags every row with the index of its file
    * through a lookup that holds the run's chunk bounds and partition
    * values as data, shuffles on that index, sorts each file by `sort`
    * (else the dataset's default sort) and writes with `partitionBy`; each
    * part file is then promoted to its cryo name. The plan holds no chunk
    * bound, so it compiles once per dataset and every later run and
    * follow poll reuses it. A builder that shuffles builds the run once.
    * Row counts come from an `observe` metric on the write itself (no
    * pre-count), up to `maxConcurrentChunks` dataset jobs are in flight
    * (cryo's semaphore, freeze.rs:85-87), and discovered partition values
    * come from ONE job per dataset and run.
    */
  def freeze(open: BlockSyntax.Blocks => Bronze, spec: FreezeSpec,
      overrides: Map[String, DatasetBuilder] = Map.empty): FreezeResult = {
    def builderOf(canonical: String): DatasetBuilder =
      overrides.getOrElse(canonical, builder(canonical))
    require(spec.maxConcurrentChunks >= 1, s"maxConcurrentChunks ${spec.maxConcurrentChunks} < 1")
    // a label equal to a dataset name would make cryo filenames
    // ambiguous for lake readers (Lake.readStream prunes by globbing
    // the dataset segment; `*__blocks__*` would also match a
    // transactions file LABELED "blocks", whose parquet schema then
    // breaks the stream) — refuse to create such a lake at the source
    // canonical names only: filenames and readStream globs always use
    // the canonical dataset segment, so an ALIAS ("txs", "events") can
    // never glob-collide and stays a legal label
    spec.label.foreach { l =>
      require(!Datatypes.canonicalNames.contains(l),
        s"--label '$l' collides with a dataset name; pick a label that " +
          "is not a datatype so lake reads/streams stay unambiguous")
    }
    LakeFs.mkdirs(spec.outputDir)
    val tStart = java.time.LocalDateTime.now()
    writeReport(spec, tStart, None)
    val ordered = BlockSyntax.chunks(spec.blocks, spec.chunkSize,
      spec.nChunks, spec.align)
    // chunk collection order (cli/parse/partitions.rs:110-123)
    val chunks = spec.chunkOrder match {
      case "normal" => ordered
      case "reverse" => ordered.reverse
      case "random" => new scala.util.Random(spec.chunkOrderSeed).shuffle(ordered)
      case other => throw new IllegalArgumentException(
        s"invalid chunk order '$other', use normal, reverse, or random")
    }
    val datasets = spec.datasets.map(Datatypes(_).name).distinct
    def dirOf(canonical: String): HPath = spec.subdirs.map {
      case "datatype" => canonical
      case "network" => spec.network
      case custom => custom
    }.foldLeft(new HPath(spec.outputDir))(new HPath(_, _))
    datasets.foreach(d => LakeFs.mkdirs(dirOf(d).toString))
    def target(canonical: String, chunk: BlockSyntax.Range,
        dimValue: Option[Any]): String = {
      val stub = dimValue.map {
        case b: Array[Byte] => "__" + b.take(4).map("%02x".format(_)).mkString
        case v =>
          // same ambiguity guard as --label: a dim value equal to a
          // CANONICAL dataset name would glob-match foreign readStream
          // tails (binary dims are immune — 8-hex stubs can't spell
          // one; aliases never appear in filename dataset segments)
          val sv = v.toString
          require(!Datatypes.canonicalNames.contains(sv),
            s"--partition-by value '$sv' collides with a dataset name in " +
              "cryo file naming; partition on a different column or remap " +
              "the value")
          "__" + sv
      }.getOrElse("")
      val name = fileName(spec, canonical, chunk)
        .replace(s"__${chunkStub(chunk)}", s"$stub" + s"__${chunkStub(chunk)}")
      LakeFs.display(new HPath(dirOf(canonical), name))
    }
    // every chunk's dim values, unless discovered from the data (cryo:
    // entity-list values cross-product every chunk, partitions.rs:290-404)
    val givenDims: Option[Seq[Option[Any]]] =
      if (spec.partitionBy.isEmpty) Some(Seq(None))
      else Option.when(spec.partitionValues.nonEmpty)(spec.partitionValues.map(Option(_)))
    // multi-dim partitioning (types/partitions.rs:290-337): one file per
    // (chunk × dim value present in that chunk); binary dims use the
    // 8-hex-char prefix stub (binary_chunk.rs:16-24). All (chunk, value)
    // combos of a run come from one aggregation job per dataset, tagged
    // by the same chunk lookup as the write; each value comes with its
    // lookup key.
    def dimValuesByChunk(canonical: String, bronze: Bronze,
        run: Seq[BlockSyntax.Range]): Map[BlockSyntax.Range, Seq[(Option[Any], Option[String])]] =
      givenDims.map(dims => run.map(_ -> dims.map(v => v -> v.map(keyOf))).toMap).getOrElse {
        val dim = spec.partitionBy.get
        val scan = builderOf(canonical)(bronze)
        val chunkOf = udf(chunkIndex(run, spec.blocks))
        // limit BEFORE collect: bounds the driver-side list, so a
        // high-cardinality dim fails fast instead of OOMing the driver.
        val collected = scan
          .select(chunkOf(col("block_number")).as("chunk_idx"),
            col(dim).as("dim_value"), keyColumn(scan, dim).as("dim_key"))
          .filter(col("chunk_idx") >= 0)
          .distinct().limit(spec.maxDiscoveredPartitions + 1).collect()
        require(collected.length <= spec.maxDiscoveredPartitions,
          s"--partition-by $dim: more than ${spec.maxDiscoveredPartitions} " +
            "(chunk, value) partitions discovered; pass explicit values " +
            "via the matching entity flag (--address/--contract/--topic0) " +
            "or raise maxDiscoveredPartitions")
        collected.toSeq.groupBy(_.getInt(0)).map { case (idx, rs) =>
          run(idx) -> rs.map(r => Option(r.get(1)) -> Option(r.getString(2)))
            .sortBy(_._2.getOrElse(""))
        }
      }
    // the chunks whose files all exist: skipped before anything is opened
    val finished: Set[BlockSyntax.Range] = givenDims.filterNot(_ => spec.overwrite)
      .fold(Set.empty[BlockSyntax.Range])(dims => ordered.filter(c => datasets.forall(d =>
        dims.forall(v => LakeFs.exists(target(d, c, v))))).toSet)
    // maximal runs of unfinished chunks adjacent in block order, in collection order
    val pos = chunks.zipWithIndex.toMap
    val runs = Seq.unfold(ordered)(cs => Option(cs.dropWhile(finished))
      .filter(_.nonEmpty).map(_.span(!finished(_)))).sortBy(_.map(pos).min)
    // a run holding no listed block still writes its (empty) files
    def blocksIn(run: Seq[BlockSyntax.Range]): BlockSyntax.Blocks = {
      val span = BlockSyntax.Range(run.head.start, run.last.endExclusive)
      spec.blocks match {
        case BlockSyntax.Numbers(ns) if ns.exists(span.contains) =>
          BlockSyntax.Numbers(ns.filter(span.contains))
        case _ => span
      }
    }
    // one dataset's files of a run: skip the existing (freeze.rs:92-110),
    // write the rest with one job; returns each file's outcome and the
    // rows written
    def writeRun(bronze: Bronze, canonical: String, run: Seq[BlockSyntax.Range],
        targets: Seq[Target]): (Seq[(Target, TaskOutcome)], Long) = {
      val todo = targets.filter(t => spec.overwrite || !LakeFs.exists(t.path))
      val span = BlockSyntax.Range(run.head.start, run.last.endExclusive)
      val (written, rows) = if (todo.isEmpty) (true, 0L) else try {
        val df = builderOf(canonical)(bronze)
        val chunkOf = chunkIndex(run, spec.blocks)
        val files = todo.zipWithIndex.map { case (t, i) => (run.indexOf(t.chunk), t.key) -> i }.toMap
        val fileOf = spec.partitionBy match {
          case None =>
            udf((bn: Long) => files.getOrElse((chunkOf(bn), None), -1)).apply(col("block_number"))
          case Some(dim) =>
            udf((bn: Long, key: String) => files.getOrElse((chunkOf(bn), Option(key)), -1))
              .apply(col("block_number"), keyColumn(df, dim))
        }
        val keys = sortKeys(canonical, df, spec.sort)
        val tmp = new HPath(dirOf(canonical), fileName(spec, canonical, span) + "._tmp")
        (true, writeFiles(df.withColumn(FileIndex, fileOf).filter(col(FileIndex) >= 0),
          keys, todo.map(_.path), tmp, spec))
      } catch {
        case e: Exception =>
          System.err.println(s"[freeze] $canonical ${chunkStub(span)} failed: ${e.getMessage}")
          (false, 0L)
      }
      val writing = todo.toSet
      (targets.map(t => t -> (if (!writing(t)) Skipped(t.path)
        else if (written) Completed(t.path) else Errored(t.path))), rows)
    }
    // cryo keeps a bounded number of writes in flight; Spark schedules the
    // concurrent jobs' stages across the same executor pool
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spec.maxConcurrentChunks)
    val ran = try runs.flatMap { run =>
      val bronze = open(blocksIn(run))
      try {
        val runChunks = chunks.filter(run.toSet)
        // every file of the run is named before any job starts
        val jobs = for (canonical <- datasets) yield {
          val dims = dimValuesByChunk(canonical, bronze, run)
          canonical -> (for {
            chunk <- runChunks
            (value, key) <- dims.getOrElse(chunk, Seq.empty)
          } yield Target(chunk, key, target(canonical, chunk, value)))
        }
        jobs.map { case (c, ts) => c -> pool.submit(() => writeRun(bronze, c, run, ts)) }
          .map { case (c, f) => val (os, rows) = f.get(); (c, os, rows) }
      } finally bronze.release()
    } finally pool.shutdown()
    val byChunk = ran.flatMap { case (c, os, _) => os.map { case (t, o) => (c, t.chunk) -> o } }
      .groupMap(_._1)(_._2)
    // task order: dataset, then chunk in collection order
    val outcomes = for {
      canonical <- datasets
      chunk <- chunks
      o <- if (finished(chunk)) givenDims.get.map(v => Skipped(target(canonical, chunk, v)))
        else byChunk.getOrElse((canonical, chunk), Nil)
    } yield o
    val result = FreezeResult(
      outcomes.collect { case Completed(p) => p },
      outcomes.collect { case Skipped(p) => p },
      outcomes.collect { case Errored(p) => p },
      ran.map(_._3).sum)
    writeReport(spec, tStart, Some(result))
    result
  }

  /** `freeze` over the bronze tables of a directory */
  def freeze(spark: SparkSession, sourceDir: String, spec: FreezeSpec): FreezeResult =
    freeze(Bronze.dir(spark, sourceDir, _), spec)

  /** re-encode all binary columns as 0x-hex strings */
  private[graft] def hexifyBinary(df: DataFrame): DataFrame = {
    df.select(df.schema.fields.map { fld =>
      if (fld.dataType == BinaryType)
        graft.functions.HexCodec.toHex(col(fld.name)).as(fld.name)
      else col(fld.name)
    }.toSeq: _*)
  }

  /** The files of one write job: the rows of `df` whose `FileIndex` is i
    * become the one file `targets(i)`, sorted by `keys`. The job shuffles
    * on the index, sorts within partitions by (index, keys) and writes
    * with `partitionBy(FileIndex)` into `tmp`; each `FileIndex=i` part
    * file is then promoted (see writeSingleFile) and `tmp` deleted. A
    * target with no rows gets a schema-only file. Returns the rows
    * written, from an `observe` metric on the job. */
  private def writeFiles(df: DataFrame, keys: Seq[String], targets: Seq[String],
      tmp: HPath, spec: FreezeSpec): Long = {
    val obs = org.apache.spark.sql.Observation(s"freeze_${tmp.getName}_${System.nanoTime()}")
    // the observation sits above the sort: beneath it, it would keep the
    // optimizer from dropping the builder's own sort below the exchange
    val sorted = df.repartition(col(FileIndex))
      .sortWithinPartitions((FileIndex +: keys).map(col): _*)
      .observe(obs, count(lit(1)).as("rows"))
    // CSV/JSON force hex encoding of binary columns; parquet only
    // under --hex (cryo cli/parse/schemas.rs:37-40 coupling)
    val out = if (spec.format != "parquet" || spec.hex) hexifyBinary(sorted) else sorted
    save(out.write.partitionBy(FileIndex), tmp, spec.format, spec.compression,
      spec.rowGroupSize, spec.noStats)
    val tfs = LakeFs.fs(tmp)
    targets.zipWithIndex.foreach { case (target, i) =>
      val dir = new HPath(tmp, s"$FileIndex=$i")
      if (tfs.exists(dir)) LakeFs.promote(partFile(dir, target), new HPath(target))
      else writeSingleFile(out.drop(FileIndex).limit(0), Nil, target, spec.format,
        spec.compression, spec.rowGroupSize, spec.noStats)
    }
    tfs.delete(tmp, true)
    obs.get("rows").asInstanceOf[Long]
  }

  /** the one part- file a write left in `dir`, failing with the real
    * cause instead of a bare NoSuchElementException */
  private def partFile(dir: HPath, target: String): HPath = {
    val parts = LakeFs.fs(dir).listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-"))
    require(parts.length == 1,
      s"freeze wrote ${parts.length} part- files under $dir for $target, not 1")
    parts.head
  }

  /** `writer` with the format options (codec, row groups, statistics)
    * applied, run into `path` */
  private def save(writer0: DataFrameWriter[Row], path: HPath, format: String,
      compression: Option[String], rowGroupSize: Option[Int], noStats: Boolean): Unit = {
    // parquet default codec is lz4 raw like the reference
    // (args.rs:191, file_output.rs:107); csv/json keep Spark's default
    val codec = compression.orElse(
      if (format == "parquet") Some("lz4_raw") else None)
    var writer = codec.map(c => writer0.option("compression", c))
      .getOrElse(writer0).mode("overwrite")
    // Spark forwards unrecognized write options into the per-job hadoop
    // conf, where parquet-mr reads them (prepareWrite →
    // newHadoopConfWithOptions).
    rowGroupSize.foreach(n =>
      writer = writer.option("parquet.block.row.count.limit", n.toString))
    if (noStats)
      writer = writer.option("parquet.column.statistics.enabled", "false")
    format match {
      case "parquet" => writer.parquet(path.toString)
      case "csv" => writer.option("header", "true").csv(path.toString)
      case "json" => writer.json(path.toString)
    }
  }

  /** one file via tmp dir + single-file promotion (export.rs:13-23), over
    * the Hadoop FileSystem of the target path — local, hdfs:// and s3a://
    * lakes all take the same path. The promotion is an atomic rename on
    * HDFS/local; on object stores the part file lands as one object copy
    * whose source sits in the `._tmp` dir lake listings skip (LakeFs
    * scaladoc has the full semantics). The file is sorted by `keys` (the
    * one partition sorted whole, like a freeze's chunk files). The row
    * count rides the write job as an `observe` metric, so the frame is
    * computed exactly once. The writes outside a chunked freeze (--txs,
    * compaction) and a freeze's schema-only files use it. */
  private[graft] def writeSingleFile(df: DataFrame, keys: Seq[String], target: String,
      format: String, compression: Option[String] = None,
      rowGroupSize: Option[Int] = None, noStats: Boolean = false): Long = {
    val targetPath = new HPath(target)
    val tmp = new HPath(targetPath.getParent, targetPath.getName + "._tmp")
    val obs = org.apache.spark.sql.Observation(
      s"freeze_${targetPath.getName}_${System.nanoTime()}")
    val one = df.observe(obs, count(lit(1)).as("rows")).coalesce(1)
      .sortWithinPartitions(keys.map(col): _*)
    save(one.write, tmp, format, compression, rowGroupSize, noStats)
    LakeFs.promote(partFile(tmp, target), targetPath)
    LakeFs.fs(tmp).delete(tmp, true)
    obs.get("rows").asInstanceOf[Long]
  }

  /** library version recorded in run reports (reports.rs cryo_version) */
  val Version = "0.2.0"

  private def reportStamp(t: java.time.LocalDateTime): String =
    t.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd_HH-mm-ss.SSSSSS"))

  def reportDir(spec: FreezeSpec): String =
    spec.reportDirOverride.getOrElse(
      new HPath(new HPath(spec.outputDir, ".graft"), "reports").toString)

  /** Two-phase JSON run report (types/reports.rs:25-100): an
    * `incomplete_{t_start}.json` marker (results: null) is written when the
    * run starts; on completion the final `{t_start}.json` replaces it and
    * the marker is deleted — a crash leaves the marker behind as evidence. */
  private def writeReport(spec: FreezeSpec, tStart: java.time.LocalDateTime,
      result: Option[FreezeResult]): Unit = {
    if (spec.noReport) return
    val dir = reportDir(spec)
    LakeFs.mkdirs(dir)
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    // absent values are written as null, not dropped
    val results: JValue = result.map { r =>
      ("completed_paths" -> r.completed) ~ ("errored_paths" -> r.errored) ~
        ("n_skipped" -> r.skipped.size) ~ ("rows" -> r.rows)
    }.getOrElse(JNull)
    val cli: JValue = spec.cliCommand.map(JString(_)).getOrElse(JNull)
    val json = JsonMethods.compact(JsonMethods.render(
      ("graft_version" -> Version) ~ ("cli_command" -> cli) ~
        ("args" -> ("datasets" -> spec.datasets) ~ ("network" -> spec.network) ~
          ("format" -> spec.format) ~ ("chunk_order" -> spec.chunkOrder)) ~
        ("results" -> results)))
    val stamp = reportStamp(tStart)
    val name = if (result.isDefined) s"$stamp.json" else s"incomplete_$stamp.json"
    LakeFs.writeString(new HPath(dir, name).toString, json)
    if (result.isDefined)
      LakeFs.deleteFile(new HPath(dir, s"incomplete_$stamp.json").toString)
  }
}
