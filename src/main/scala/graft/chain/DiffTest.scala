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
    * (superset of cryo_test defaults.py's 24) — every Freeze.catalog
    * entry but javascript_traces, whose opaque JSON output compares
    * through canonJs, at default options, in name order */
  val corpus: Seq[(String, Freeze.DatasetBuilder)] =
    (Freeze.catalog.keySet - "javascript_traces").toSeq.sorted
      .map(n => n -> Freeze.builder(n))

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

  /** Fetch every bronze the corpus needs from the live endpoint into one
    * `Bronze.persisted`: the block-range bronzes through the production
    * fetchBronze, the entity-scoped ones over work lists (blocks ×
    * addresses / slots / calls) pinned from the reference dir's own
    * bronzes. Release it when done. */
  def materializeBronzes(spark: SparkSession, src: RpcSource,
      refDir: String, range: BlockSyntax.Range,
      jsTracer: String): Bronze = {
    def ref(table: String) = spark.read.parquet(s"$refDir/$table.parquet")
    def hex(r: org.apache.spark.sql.Row, i: Int): String =
      "0x" + r.getAs[Array[Byte]](i).map("%02x".format(_)).mkString
    def hexes(table: String, col: String): Seq[String] =
      ref(table).select(col).distinct().collect().map(hex(_, 0)).sorted.toSeq
    def blockNumbers(table: String): Seq[Long] = ref(table).select("block_number")
      .distinct().collect().map(_.getInt(0).toLong).sorted.toSeq
    def pairs(table: String, c1: String, c2: String): Seq[(String, String)] =
      ref(table).select(c1, c2).distinct().collect().map(r => (hex(r, 0), hex(r, 1))).sorted.toSeq
    // entity-scoped bronzes, work lists pinned from the reference side;
    // the frames are lazy, so they fetch after the range bronzes
    val entity = Map(
      "rpc_accounts" -> src.fetchAccounts(spark,
        blockNumbers("rpc_accounts"), hexes("rpc_accounts", "address")),
      "rpc_storage" -> src.fetchStorage(spark, blockNumbers("rpc_storage"),
        pairs("rpc_storage", "address", "slot")),
      "rpc_calls" -> src.fetchEthCalls(spark, blockNumbers("rpc_calls"),
        pairs("rpc_calls", "contract_address", "call_data")),
      "rpc_calls_erc721" -> src.fetchEthCalls(spark,
        blockNumbers("rpc_calls_erc721"),
        pairs("rpc_calls_erc721", "contract_address", "call_data")),
      "rpc_trace_calls" -> src.fetchTraceCalls(spark,
        blockNumbers("rpc_trace_calls"),
        pairs("rpc_trace_calls", "contract_address", "tx_call_data")))
    // a failed entity fetch releases the range frames with the rest
    val ranged = src.fetchBronze(spark, range, rangeDatasets,
      jsTracer = Some(jsTracer))
    Bronze.persisted(rangeDatasets.flatMap(Freeze.catalog(_).bronze(Freeze.BuildOptions()))
      .map(t => t -> ranged(t)).toMap ++ entity)
  }

  /** Full sweep: fetch the live bronzes, then diff every corpus
    * datatype (plus javascript_traces JSON-normalized, plus the
    * by-transaction time dimension for every hash-capable datatype).
    * Returns every outcome; callers decide how loudly to fail. */
  def run(spark: SparkSession, refDir: String, rpcUrl: String,
      range: BlockSyntax.Range, jsTracer: String = "{fake: true}",
      byTxSampleBlock: Option[Long] = None,
      // retry knobs (r11): default 0 keeps difftest fail-fast against a
      // healthy stub; the fault-injection harness turns them on to
      // drive the production retry/backoff path end-to-end
      maxRetries: Int = 0, initialBackoffMs: Long = 500,
      computeUnitsPerSecond: Long = 50): Seq[Outcome] = {
    // the chain id comes from the node, as in the freeze CLI: a
    // hardcoded 1 would stamp mainnet onto every live row and
    // false-fail all 37+ datatypes against a non-mainnet node
    val src = RpcSource.detect(RpcConfig(rpcUrl, maxRetries = maxRetries,
      initialBackoffMs = initialBackoffMs,
      computeUnitsPerSecond = computeUnitsPerSecond))
    val live = materializeBronzes(spark, src, refDir, range, jsTracer)
    try compareAll(spark, refDir, live, range, byTxSampleBlock)
    finally live.release()
  }

  private def compareAll(spark: SparkSession, refDir: String, live: Bronze,
      range: BlockSyntax.Range, byTxSampleBlock: Option[Long]): Seq[Outcome] = {
    def compare(name: String, c: DataFrame => Seq[String],
        bld: Freeze.DatasetBuilder,
        allowEmpty: Boolean = false): Outcome = {
      val ref = c(bld(Bronze.dir(spark, refDir)))
      val liv = c(bld(live))
      Outcome(name, ref.size, liv.size,
        ref.zipAll(liv, "<missing>", "<missing>").find(p => p._1 != p._2),
        allowEmpty)
    }

    val scalar = corpus.map { case (n, bld) => compare(n, canon, bld) }
    val js = compare("javascript_traces", canonJs,
      Freeze.builder("javascript_traces"))

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
          Freeze.collectByTransaction(_, name, hashes),
          allowEmpty = true))
      }
    scalar ++ Seq(js) ++ byTx
  }
}
