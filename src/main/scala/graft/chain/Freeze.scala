package graft.chain

import graft.functions.U256
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The freeze lifecycle: chunked, idempotent, resumable extraction to
  * named files — the Spark rendering of cryo's `freeze()`
  * (cryo freeze.rs:26-200) with its file-naming and skip-existing
  * semantics (types/chunks/chunk_ops.rs:25-54, freeze.rs:92-110).
  *
  * Each chunk becomes one output file
  * `{network}__{datatype}[__{label}]__{start:08d}_to_{end:08d}.parquet`;
  * existing files are skipped unless overwrite, before any bronze is
  * opened — re-running a job fetches and touches only missing chunks
  * (incremental/resumable extraction). Writes go through a `._tmp`
  * directory + single-file promotion (export.rs:13-23) over the Hadoop
  * FileSystem of the output path — a lake can live on local disk, HDFS
  * or an object store (see LakeFs for the per-FS rename semantics;
  * PLANS.md carries the swap-site atomicity audit).
  *
  * Scale note: each chunk writes via a block-range filter that Catalyst
  * pushes into the parquet scan (partition pruning), so a 1000-chunk
  * freeze over 100 TB reads each row group at most once per overlapping
  * chunk, not once per chunk.
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
      /** chunk-file writes in flight at once, at least 1 (freeze.rs:85-87) */
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
      subdirs: Seq[String] = Seq.empty)

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

  /** The schema and filter settings a builder takes: `--u256-types`,
    * `--include-columns`, `--exclude-columns`, `--columns`,
    * `--event-signature` and `--exclude-failed`. Each builder reads the
    * ones that apply to its dataset. */
  case class BuildOptions(
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs,
      include: Seq[String] = Seq.empty, exclude: Seq[String] = Seq.empty,
      columns: Option[Seq[String]] = None,
      eventSignature: Option[String] = None,
      excludeFailed: Boolean = false)

  /** One dataset, declared once (cryo datatype_macros.rs
    * define_datatypes!): the bronze tables its builder reads and the
    * builder itself, both for given options. */
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
      "blocks" -> reads("rpc_blocks")(o =>
        CD.blocks(_, o.include, o.exclude, o.columns)),
      "transactions" -> Entry(
        o => Set("rpc_transactions", "rpc_blocks") ++ (
          if (CD.transactionsNeedReceipts(o.excludeFailed,
              o.include, o.exclude, o.columns)) Set("rpc_receipts")
          else Set.empty),
        o => CD.transactions(_, o.excludeFailed, o.include, o.exclude, o.columns)),
      "logs" -> reads(logs)(o => CD.logs(_, eventSignature = o.eventSignature,
        u256Reprs = o.u256Reprs, include = o.include, exclude = o.exclude,
        columns = o.columns)),
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

  /** a dataset's builder at the default options */
  def builder(dataset: String): DatasetBuilder =
    catalog(dataset).build(BuildOptions())

  /** every dataset's default builder over a bronze directory */
  val builders: Map[String, (SparkSession, String) => DataFrame] =
    catalog.transform((name, _) => (spark, dir) => builder(name)(Bronze.dir(spark, dir)))

  /** In-memory collect — the library API of the reference
    * (cryo collect.rs:5-30): one dataset, no files. Takes the same
    * schema/representation options as the CLI. */
  def collect(bronze: Bronze, dataset: String,
      blocks: BlockSyntax.Blocks,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs,
      include: Seq[String] = Seq.empty, exclude: Seq[String] = Seq.empty,
      columns: Option[Seq[String]] = None,
      hex: Boolean = false): DataFrame = {
    val canonical = Datatypes(dataset).name
    val df0 = catalog(canonical).build(
      BuildOptions(u256Reprs, include, exclude, columns))(bronze)
    val df = if (hex) hexifyBinary(df0) else df0
    filterBlocks(df, blocks)
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
    * small → an isin/broadcast-semi filter on transaction_hash. */
  def collectByTransaction(bronze: Bronze, dataset: String,
      txHashes: Seq[Array[Byte]]): DataFrame = {
    val ds = Datatypes(dataset)
    require(ds.byTransaction, s"${ds.name} does not support tx-hash collection")
    val df = builder(ds.name)(bronze)
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
    * each table. Call `release()` when done.
    */
  case class MultiResult(tables: Map[String, DataFrame], release: () => Unit)

  def collectMulti(bronze: Bronze, multiName: String): MultiResult = {
    val members = Datatypes.multis.getOrElse(multiName,
      throw new IllegalArgumentException(s"unknown multi: $multiName"))
    val held = Bronze.persisted(members.flatMap(catalog(_).bronze(BuildOptions()))
      .distinct.map(t => t -> bronze(t)).toMap)
    MultiResult(members.map(m => m -> builder(m)(held)).toMap, () => held.release())
  }

  private sealed trait TaskOutcome
  private case class Completed(path: String, rows: Long) extends TaskOutcome
  private case class Skipped(path: String) extends TaskOutcome
  private case class Errored(path: String) extends TaskOutcome

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
    * Scale shape (fixes from r1's plan audit): one Spark job per output
    * file with NO pre-count (row counts come from an `observe` metric on
    * the write itself), up to `maxConcurrentChunks` chunk jobs in flight
    * (cryo's semaphore, freeze.rs:85-87), and partition-by dim values
    * discovered in ONE job per dataset and run (a broadcast range-join
    * against the chunk table) instead of a driver collect per chunk.
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
    // combos of a run come from one aggregation job per dataset: the tiny
    // chunk-boundary table broadcast-range-joins the scan, not one driver
    // collect per chunk.
    def dimValuesByChunk(canonical: String, bronze: Bronze,
        run: Seq[BlockSyntax.Range]): Map[BlockSyntax.Range, Seq[Option[Any]]] =
      givenDims.map(dims => run.map(_ -> dims).toMap).getOrElse {
        val dim = spec.partitionBy.get
        // spec.blocks, NOT the densified range: a Numbers list must
        // not discover dim values that exist only at unlisted blocks
        // (runTask's membership filter would then write empty
        // partition files for them)
        val scan = filterBlocks(builderOf(canonical)(bronze), spec.blocks)
        val spark = scan.sparkSession
        import spark.implicits._
        val bounds = run.zipWithIndex
          .map { case (c, i) => (i, c.start, c.endExclusive) }
          .toDF("chunk_idx", "c_start", "c_end")
        // limit BEFORE collect: bounds the driver-side list, so a
        // high-cardinality dim fails fast instead of OOMing the driver.
        val collected = scan.join(broadcast(bounds),
            col("block_number") >= col("c_start") &&
              col("block_number") < col("c_end"))
          .select(col("chunk_idx"), col(dim).as("dim_value"))
          .distinct().limit(spec.maxDiscoveredPartitions + 1).collect()
        require(collected.length <= spec.maxDiscoveredPartitions,
          s"--partition-by $dim: more than ${spec.maxDiscoveredPartitions} " +
            "(chunk, value) partitions discovered; pass explicit values " +
            "via the matching entity flag (--address/--contract/--topic0) " +
            "or raise maxDiscoveredPartitions")
        collected
          .groupBy(_.getInt(0))
          .map { case (idx, rs) =>
            run(idx) -> rs.map(r => Option(r.get(1))).toSeq.sortBy(_.map {
              case b: Array[Byte] => b.map("%02x".format(_)).mkString
              case v => v.toString
            }.getOrElse(""))
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
    def runTask(bronze: Bronze, canonical: String, chunk: BlockSyntax.Range,
        dimValue: Option[Any], target: String): TaskOutcome =
      if (LakeFs.exists(target) && !spec.overwrite) {
        Skipped(target) // freeze.rs:92-110 idempotent skip
      } else try {
        val ranged = filterBlocks(builderOf(canonical)(bronze), chunk)
        // explicit block LISTS (a:b/n sampling, a:b:k strides, parquet
        // refs) keep their membership filter inside each chunk — the
        // chunk range alone would admit unlisted blocks
        val base = spec.blocks match {
          case n: BlockSyntax.Numbers => filterBlocks(ranged, n)
          case _ => ranged
        }
        val df0 = (spec.partitionBy, dimValue) match {
          case (Some(dim), Some(v)) => base.filter(col(dim) === lit(v))
          case (Some(dim), None) => base.filter(col(dim).isNull)
          case _ => base
        }
        // CSV/JSON force hex encoding of binary columns; parquet only
        // under --hex (cryo cli/parse/schemas.rs:37-40 coupling)
        val df = if (spec.format != "parquet" || spec.hex) hexifyBinary(df0) else df0
        Completed(target,
          writeSingleFile(df, target, spec.format, spec.compression,
            spec.rowGroupSize, spec.noStats))
      } catch {
        case e: Exception =>
          System.err.println(s"[freeze] $target failed: ${e.getMessage}")
          Errored(target.toString)
      }
    // cryo keeps a bounded number of chunks in flight; Spark schedules the
    // concurrent jobs' stages across the same executor pool
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spec.maxConcurrentChunks)
    val ran: Map[(String, BlockSyntax.Range), Seq[TaskOutcome]] = try runs.flatMap { run =>
      val bronze = open(blocksIn(run))
      try {
        val runChunks = chunks.filter(run.toSet)
        // the run's task list is built before any task starts
        val tasks = for {
          canonical <- datasets
          dims = dimValuesByChunk(canonical, bronze, runChunks)
          chunk <- runChunks
          dimValue <- dims.getOrElse(chunk, Seq.empty)
        } yield (canonical, chunk, dimValue, target(canonical, chunk, dimValue))
        tasks.map { case (c, ch, dv, t) => (c, ch) -> pool.submit(() => runTask(bronze, c, ch, dv, t)) }
          .map { case (k, f) => k -> f.get() }
      } finally bronze.release()
    }.groupMap(_._1)(_._2) finally pool.shutdown()
    // task order: dataset, then chunk in collection order
    val outcomes = for {
      canonical <- datasets
      chunk <- chunks
      o <- if (finished(chunk)) givenDims.get.map(v => Skipped(target(canonical, chunk, v)))
        else ran.getOrElse((canonical, chunk), Nil)
    } yield o
    val result = FreezeResult(
      outcomes.collect { case Completed(p, _) => p },
      outcomes.collect { case Skipped(p) => p },
      outcomes.collect { case Errored(p) => p },
      outcomes.collect { case Completed(_, n) => n }.sum)
    writeReport(spec, tStart, Some(result))
    result
  }

  /** `freeze` over the bronze tables of a directory */
  def freeze(spark: SparkSession, sourceDir: String, spec: FreezeSpec): FreezeResult =
    freeze(_ => Bronze.dir(spark, sourceDir), spec)

  /** re-encode all binary columns as 0x-hex strings */
  private[graft] def hexifyBinary(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    df.select(df.schema.fields.map { fld =>
      if (fld.dataType == BinaryType)
        graft.functions.HexCodec.toHex(col(fld.name)).as(fld.name)
      else col(fld.name)
    }.toSeq: _*)
  }

  /** one file per chunk via tmp dir + single-file promotion
    * (export.rs:13-23), over the Hadoop FileSystem of the target path —
    * local, hdfs:// and s3a:// lakes all take the same path. The
    * promotion is an atomic rename on HDFS/local; on object stores the
    * part file lands as one object copy whose source sits in the `._tmp`
    * dir lake listings skip (LakeFs scaladoc has the full semantics).
    * The row count rides the write job as an `observe` metric — the chunk
    * is computed exactly once (r1 pre-counted with df.count(), doubling
    * every chunk's work). Non-chunked writes (--txs, compaction) use it too. */
  private[graft] def writeSingleFile(df: DataFrame, target: String, format: String,
      compression: Option[String] = None, rowGroupSize: Option[Int] = None,
      noStats: Boolean = false): Long = {
    val targetPath = new HPath(target)
    val tmp = new HPath(targetPath.getParent, targetPath.getName + "._tmp")
    val obs = org.apache.spark.sql.Observation(
      s"freeze_${targetPath.getName}_${System.nanoTime()}")
    val writer0 = df.observe(obs, count(lit(1)).as("rows"))
      .coalesce(1).write.mode("overwrite")
    // parquet default codec is lz4 raw like the reference
    // (args.rs:191, file_output.rs:107); csv/json keep Spark's default
    val codec = compression.orElse(
      if (format == "parquet") Some("lz4_raw") else None)
    var writer = codec.map(c => writer0.option("compression", c))
      .getOrElse(writer0)
    // Spark forwards unrecognized write options into the per-job hadoop
    // conf, where parquet-mr reads them (prepareWrite →
    // newHadoopConfWithOptions).
    rowGroupSize.foreach(n =>
      writer = writer.option("parquet.block.row.count.limit", n.toString))
    if (noStats)
      writer = writer.option("parquet.column.statistics.enabled", "false")
    format match {
      case "parquet" => writer.parquet(tmp.toString)
      case "csv" => writer.option("header", "true").csv(tmp.toString)
      case "json" => writer.json(tmp.toString)
    }
    // fail with the real cause if no part- file materialized instead of
    // a bare NoSuchElementException
    val tfs = LakeFs.fs(tmp)
    val part = tfs.listStatus(tmp)
      .find(_.getPath.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"freeze wrote no part- file under $tmp for $target"))
      .getPath
    LakeFs.promote(part, targetPath)
    tfs.delete(tmp, true)
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
