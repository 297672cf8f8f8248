package graft.chain

import graft.sources.{RpcConfig, RpcSource}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The cryo_test-style differential sweep as a FIRST-CLASS entry point
  * (`graft.Cli difftest`), not just a spec: collect a pinned corpus of
  * datatypes twice — once from a reference bronze directory, once live
  * from an arbitrary `--rpc` endpoint — and diff canonical rows per
  * datatype. This is the reference's real correctness harness
  * (crates/python/python/cryo_test: setup/collect/compare over 24
  * pinned datatypes) made runnable against a real node: point it at a
  * trusted bronze dir (e.g. an earlier freeze from another node or
  * client) and a live endpoint, and every datatype must come out
  * row-identical.
  *
  * The reference side defines the pinned ENTITY work lists (addresses,
  * slots, calldata) the way cryo_test pins WETH/Azuki — they are read
  * from the reference dir's own bronzes, so the sweep follows whatever
  * corpus that dir was extracted with.
  *
  * DifferentialSpec drives exactly this entry point against the stub
  * RPC server, so the CLI surface and the CI gate are one code path.
  */
object DiffTest {

  /** one datatype's comparison: row counts on both sides and the first
    * differing canonical row, if any */
  case class Outcome(datatype: String, refRows: Long, liveRows: Long,
      firstDiff: Option[(String, String)],
      /** by-transaction slices may legitimately be empty (the sampled
        * block carries no rows of that datatype); the full-range scalar
        * sweep must not be — an empty reference side there means the
        * sweep tested nothing */
      allowEmpty: Boolean = false) {
    def ok: Boolean = refRows == liveRows && firstDiff.isEmpty &&
      (refRows > 0 || allowEmpty)
    def describe: String =
      if (ok) s"pass $datatype ($refRows rows)"
      // only an empty-BOTH-sides scalar reads as "tested nothing" — an
      // empty reference with live rows is a genuine mismatch and must
      // show both counts, not blame the reference
      else if (refRows == 0 && liveRows == 0)
        s"FAIL $datatype: EMPTY reference side" +
          firstDiff.map { case (why, _) => s" — $why" }.getOrElse("")
      else s"FAIL $datatype: $refRows reference rows vs $liveRows live" +
        firstDiff.map { case (a, b) => s"; first diff: ($a, $b)" }.getOrElse("")
  }

  /** the pinned corpus: every scalar datatype this engine collects live
    * (superset of cryo_test defaults.py's 24) — every Freeze builder but
    * javascript_traces, whose opaque JSON output compares through
    * canonJs, in name order */
  val corpus: Seq[(String, Freeze.DatasetBuilder)] =
    (Freeze.allBuilders - "javascript_traces").toSeq.sortBy(_._1)

  /** canonical row rendering: null-safe, binary as hex, deterministic
    * sort — engine-neutral so two collections compare as row SETS */
  def canon(df: DataFrame): Seq[String] = {
    def fmt(x: Any): String = x match {
      case null => "∅"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: Seq[_] => s.map(fmt).mkString("[", ",", "]")
      case v => String.valueOf(v)
    }
    df.collect().map(_.toSeq.map(fmt).mkString("|")).sorted.toSeq
  }

  /** javascript_traces stores opaque tracer JSON; the parse→render round
    * trip legitimately normalizes whitespace, so its canon normalizes
    * the `output` column through a JSON parse on both sides */
  private def canonJs(df: DataFrame): Seq[String] = {
    import org.json4s.jackson.JsonMethods
    df.collect().map { r =>
      r.toSeq.zipWithIndex.map {
        case (s: String, i) if df.schema(i).name == "output" =>
          JsonMethods.compact(JsonMethods.parse(s))
        case (null, _) => "∅"
        case (b: Array[Byte], _) => b.map("%02x".format(_)).mkString
        case (v, _) => String.valueOf(v)
      }.mkString("|")
    }.sorted.toSeq
  }

  /** datasets whose bronzes are together every block-range bronze the
    * corpus reads (blocks, transactions, receipts, logs, traces, the
    * four state diffs, prestate, geth calls and opcodes, vm and js
    * traces) */
  private val rangeDatasets = Seq("address_appearances", "balance_diffs",
    "geth_balance_diffs", "geth_calls", "geth_opcodes", "vm_traces",
    "javascript_traces")

  /** Materialize every bronze the corpus needs from the live endpoint:
    * the block-range bronzes through the production materializeBronze,
    * the entity-scoped ones over work lists (blocks × addresses / slots /
    * calls) pinned from the reference dir's own bronzes. */
  def materializeBronzes(spark: SparkSession, src: RpcSource,
      refDir: String, outDir: String, range: BlockSyntax.Range,
      nParts: Int, jsTracer: String): Unit = {
    src.materializeBronze(spark, outDir, range, rangeDatasets,
      jsTracer = Some(jsTracer), numPartitions = nParts)

    // entity-scoped bronzes, work lists pinned from the reference side
    def put(name: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def hexes(table: String, col: String): Seq[String] =
      spark.read.parquet(s"$refDir/$table.parquet")
        .select(col).distinct().collect()
        .map(r => "0x" + r.getAs[Array[Byte]](0).map("%02x".format(_)).mkString)
        .sorted.toSeq
    def blocksOf(table: String): Seq[Long] =
      spark.read.parquet(s"$refDir/$table.parquet")
        .select("block_number").distinct().collect()
        .map(_.getInt(0).toLong).sorted.toSeq
    def pairs(table: String, c1: String, c2: String): Seq[(String, String)] =
      spark.read.parquet(s"$refDir/$table.parquet")
        .select(c1, c2).distinct().collect()
        .map(r => ("0x" + r.getAs[Array[Byte]](0).map("%02x".format(_)).mkString,
          "0x" + r.getAs[Array[Byte]](1).map("%02x".format(_)).mkString))
        .sortBy(p => (p._1, p._2)).toSeq

    put("rpc_accounts")(src.fetchAccounts(spark,
      blocksOf("rpc_accounts"), hexes("rpc_accounts", "address"), nParts))
    put("rpc_storage")(src.fetchStorage(spark, blocksOf("rpc_storage"),
      pairs("rpc_storage", "address", "slot"), nParts))
    put("rpc_calls")(src.fetchEthCalls(spark, blocksOf("rpc_calls"),
      pairs("rpc_calls", "contract_address", "call_data"), nParts))
    put("rpc_calls_erc721")(src.fetchEthCalls(spark,
      blocksOf("rpc_calls_erc721"),
      pairs("rpc_calls_erc721", "contract_address", "call_data"), nParts))
    put("rpc_trace_calls")(src.fetchTraceCalls(spark,
      blocksOf("rpc_trace_calls"),
      pairs("rpc_trace_calls", "contract_address", "tx_call_data"), nParts))
  }

  /** Full sweep: materialize live bronzes, then diff every corpus
    * datatype (plus javascript_traces JSON-normalized, plus the
    * by-transaction time dimension for every hash-capable datatype).
    * Returns every outcome; callers decide how loudly to fail. */
  def run(spark: SparkSession, refDir: String, rpcUrl: String,
      range: BlockSyntax.Range, nParts: Int = 4,
      jsTracer: String = "{fake: true}",
      byTxSampleBlock: Option[Long] = None,
      // retry knobs (r11): default 0 keeps difftest fail-fast against a
      // healthy stub; the fault-injection harness turns them on to
      // drive the production retry/backoff path end-to-end
      maxRetries: Int = 0, initialBackoffMs: Long = 500,
      computeUnitsPerSecond: Long = 50): Seq[Outcome] = {
    val live = java.nio.file.Files.createTempDirectory("graft_difftest_").toString
    try runOver(spark, refDir, rpcUrl, live, range, nParts, jsTracer,
      byTxSampleBlock, maxRetries, initialBackoffMs, computeUnitsPerSecond)
    finally {
      // the staged live bronze is a full corpus per invocation —
      // repeated CI sweeps would otherwise fill the host's tmp
      try LakeFs.deleteTree(live) catch { case _: Exception => () }
    }
  }

  private def runOver(spark: SparkSession, refDir: String, rpcUrl: String,
      live: String, range: BlockSyntax.Range, nParts: Int,
      jsTracer: String, byTxSampleBlock: Option[Long],
      maxRetries: Int, initialBackoffMs: Long,
      computeUnitsPerSecond: Long): Seq[Outcome] = {
    // detect the chain id from the node like the freeze CLI does
    // (runImpl's loud-failure discipline): a hardcoded 1 would stamp
    // mainnet onto every live row and false-fail all 37+ datatypes the
    // moment the harness points at a non-mainnet node
    val cid = try
      new RpcSource(RpcConfig(rpcUrl, chainId = 1, maxRetries = maxRetries,
        initialBackoffMs = initialBackoffMs,
        computeUnitsPerSecond = computeUnitsPerSecond))
        .fetchChainId()
    catch {
      case e: Exception => throw new IllegalStateException(
        s"could not detect the chain id from $rpcUrl: ${e.getMessage}", e)
    }
    val src = new RpcSource(RpcConfig(rpcUrl, chainId = cid,
      maxRetries = maxRetries, initialBackoffMs = initialBackoffMs,
      computeUnitsPerSecond = computeUnitsPerSecond))
    materializeBronzes(spark, src, refDir, live, range, nParts, jsTracer)

    def compare(name: String, c: DataFrame => Seq[String],
        bld: (SparkSession, String) => DataFrame,
        allowEmpty: Boolean = false): Outcome = {
      val ref = c(bld(spark, refDir))
      val liv = c(bld(spark, live))
      Outcome(name, ref.size, liv.size,
        ref.zipAll(liv, "<missing>", "<missing>").find(p => p._1 != p._2),
        allowEmpty)
    }

    val scalar = corpus.map { case (n, bld) => compare(n, canon, bld) }
    val js = compare("javascript_traces", canonJs,
      (s, d) => ChainDatasets.javascriptTraces(s, d))

    // by-transaction dimension: hash list sampled from one reference
    // block (cryo_test default_combos pairs every datatype with both
    // time dimensions). Unless a sample block was pinned, pick the
    // FIRST in-range block that actually carries transactions — a
    // fixed start+k could land on an empty block and silently skip the
    // whole TimeDimension::Transactions surface while the summary
    // still read all-green.
    import org.apache.spark.sql.functions.{col, min => minC}
    val txs = spark.read.parquet(s"$refDir/rpc_transactions.parquet")
      .filter(col("block_number") >= range.start &&
        col("block_number") < range.endExclusive)
    val sampleBlock = byTxSampleBlock.orElse(
      txs.agg(minC(col("block_number"))).collect()(0) match {
        case r if r.isNullAt(0) => None
        case r => Some(r.getInt(0).toLong)
      })
    val hashes = sampleBlock.map { b =>
      txs.filter(col("block_number") === b)
        .select("transaction_hash").collect()
        .map(_.getAs[Array[Byte]](0)).toSeq
    }.getOrElse(Nil)
    val byTx =
      if (hashes.isEmpty)
        // loud, not silent: an untestable dimension is a FAILED outcome
        Seq(Outcome("by-transaction dimension", 0, 0, Some((
          "no transactions in the reference range — the " +
            "TimeDimension::Transactions surface was NOT exercised",
          "pick a --blocks range containing transactions"))))
      else corpus.flatMap { case (name, _) =>
        val ds = try Some(Datatypes(name)) catch { case _: Throwable => None }
        if (!ds.exists(_.byTransaction)) None
        else Some(compare(s"$name (by-transaction)", canon,
          (s, d) => Freeze.collectByTransaction(s, d, name, hashes),
          allowEmpty = true))
      }
    scalar ++ Seq(js) ++ byTx
  }
}
