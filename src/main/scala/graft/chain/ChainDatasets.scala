package graft.chain

import graft.functions.{Abi, BinaryStats, Keccak, Keccak256, U256}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Dataset transforms: RPC-response-shaped inputs (the `rpc_*` tables of
  * a [[Bronze]]) → the engine's output tables, mirroring each reference
  * dataset's `transform` phase (SURVEY §2.1). All logic is declarative
  * DataFrame code — Catalyst prunes, pushes filters into the scan, and
  * broadcasts the dimension sides; nothing here shuffles except the few
  * window/groupBy operators, which shuffle on their natural keys.
  *
  * Each builder emits every column its `Datatypes` declaration lists,
  * unsorted. The only columns a builder leaves out are those whose
  * bronze its options leave unfetched (`transactions`' receipt columns,
  * `geth_opcodes`' captures) or that a decode consumes (`logs`' topic1–3
  * and data). Column selection (`TableSchema.select`, through
  * `Freeze.build`) and row order (`Freeze.sortKeys`) happen once, at the
  * output.
  */
object ChainDatasets {

  /** datasets/blocks.rs:11-125 — the block headers, as fetched */
  def blocks(bronze: Bronze): DataFrame = bronze("rpc_blocks")

  /** datasets/transactions.rs:14-318 — tx ⋈ receipt, EIP-1559 effective
    * gas price, input-byte stats, success flag.
    *
    * Scale note: receipts is TX-cardinality (one row per transaction) —
    * at 100 TB a broadcast would OOM the driver, so the tx⋈receipt join is
    * left unhinted and AQE picks SMJ/shuffled-hash on transaction_hash
    * (cryo zips per-chunk, where both sides are chunk-sized; whole-table
    * we must shuffle). The base-fee dim (one row per block) is ALSO left
    * unhinted: it is chunk-bounded in a freeze run but grows with chain
    * length in whole-history collects (~20M rows on mainnet), the same
    * unbounded-under-a-forced-hint class as receipts — AQE broadcasts it
    * at chunk scale and shuffles it at history scale. (cryo computes the
    * effective gas price inline per chunk, transactions.rs:287-302; no
    * broadcast exists to mimic.)
    *
    * `receipts` off leaves out gas_used and success and never reads the
    * receipts bronze (see transactionsNeedReceipts); excludeFailed
    * reads it regardless.
    */
  def transactions(bronze: Bronze,
      excludeFailed: Boolean = false, receipts: Boolean = true): DataFrame = {
    val needReceipts = receipts || excludeFailed
    val txs = bronze("rpc_transactions")
    val baseFees = bronze("rpc_blocks")
      .select(col("block_number").as("bf_bn"), col("base_fee_per_gas"))
    val withReceipts =
      if (needReceipts)
        txs.join(bronze("rpc_receipts")
            .withColumnRenamed("gas_used", "receipt_gas_used"),
          Seq("transaction_hash"), "left")
      else txs
    val joined = withReceipts
      .join(baseFees, col("block_number") === col("bf_bn"), "left")
    // effective gas price (transactions.rs:287-302):
    //   legacy (type 0/1): declared gas_price
    //   eip-1559 (type 2): base_fee + least(max_priority, max_fee - base_fee)
    val effGasPrice = when(col("transaction_type") === 2,
        col("base_fee_per_gas") +
          least(col("max_priority_fee_per_gas"),
                col("max_fee_per_gas") - col("base_fee_per_gas")))
      .otherwise(col("gas_price"))
    val out0 = joined
      .withColumn("gas_price", effGasPrice)
      .withColumn("n_input_bytes", length(col("input")))
      .withColumn("n_input_zero_bytes", BinaryStats.zeroByteCount(col("input")))
      .withColumn("n_input_nonzero_bytes",
        length(col("input")) - BinaryStats.zeroByteCount(col("input")))
    val out =
      if (needReceipts) out0
        .withColumn("gas_used", col("receipt_gas_used"))
        .withColumn("success", col("status") === 1)
      else out0
    val filtered = if (excludeFailed) out.filter(col("success")) else out
    filtered.select(Datatypes.transactions.columnNames
      .filter(filtered.columns.contains).map(col): _*)
  }

  /** Whether `transactions` reads the receipts bronze. Receipts feed
    * exactly gas_used and success: when the resolved schema carries
    * neither (and excludeFailed doesn't need the status flag), the
    * receipts bronze is never read, so a live run never fetches it
    * (cryo transactions.rs:124-135). */
  def transactionsNeedReceipts(excludeFailed: Boolean,
      include: Seq[String], exclude: Seq[String],
      columns: Option[Seq[String]]): Boolean = {
    val used = TableSchema.resolve(Datatypes.transactions, include, exclude, columns)
    excludeFailed || used.contains("gas_used") || used.contains("success")
  }

  private val gethCaptures = Seq("memory", "stack", "storage")

  /** The struct-log captures `geth_opcodes` reads: those of memory, stack
    * and storage its resolved schema carries. All three are off by
    * default; the builder selects these, and a live run asks the tracer
    * to capture exactly these (cryo geth_opcodes.rs:44-59). */
  def gethOpcodesCaptures(include: Seq[String], exclude: Seq[String],
      columns: Option[Seq[String]]): Set[String] =
    TableSchema.resolve(Datatypes.gethOpcodes, include, exclude, columns)
      .filter(gethCaptures.contains).toSet

  /** datasets/logs.rs:11-191 — topics split to topic0..3; optional
    * address/topic0 predicate; optional ABI decode appending event__*
    * columns and dropping raw topic/data columns (to_df/lib.rs:165-166).
    */
  def logs(bronze: Bronze,
      address: Option[Array[Byte]] = None,
      eventSignature: Option[String] = None,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    eventSignature match {
      case None =>
        splitTopics(bronze("rpc_logs"), address)
          .select(Datatypes.logs.columnNames.map(col): _*)
      case Some(sig) =>
        val event = Abi.parseEvent(sig)
        val base = Datatypes.logs.columnNames
          .filterNot(Seq("topic1", "topic2", "topic3", "data").contains)
        val decoded = splitTopics(bronze("rpc_logs"), address)
          .withColumn("dec", Abi.decodeEvent(col("topics"), col("data"), sig))
          .filter(col("dec").isNotNull) // skip-on-error, logs.rs:161
        val eventCols = event.params.flatMap { p =>
          val c = col(s"dec.${p.name}")
          p.typ match {
            case Abi.UIntT(bits) if bits > 64 =>
              u256Reprs.map(r => U256.repr(c, r).as(s"event__${p.name}_${r.suffix}"))
            case _ => Seq(c.as(s"event__${p.name}"))
          }
        }
        decoded.select(base.map(col) ++ eventCols: _*)
    }

  // null-safe topic accessor (get() returns null out of bounds; ANSI
  // element_at/[] would throw on anonymous logs with no topics)
  private def logTopic(i: Int): Column = get(col("topics"), lit(i - 1))

  /** the logs bronze (of one emitter, given an address) with its topics
    * split to topic0..3 and its data bytes counted */
  private def splitTopics(logs: DataFrame, address: Option[Array[Byte]]): DataFrame =
    address.map(a => logs.filter(col("address") === lit(a))).getOrElse(logs)
      .withColumn("topic0", get(col("topics"), lit(0)))
      .withColumn("topic1", get(col("topics"), lit(1)))
      .withColumn("topic2", get(col("topics"), lit(2)))
      .withColumn("topic3", get(col("topics"), lit(3)))
      .withColumn("n_data_bytes", length(col("data")))

  /** shared shape for erc20_transfers / erc20_approvals
    * (datasets/erc20_transfers.rs:12-131: 3 topics + 32-byte data). */
  private def erc20Shaped(logsBronze: DataFrame,
      topic0: Array[Byte], contractCol: String,
      u256Reprs: Seq[U256.Repr],
      from: Option[Array[Byte]] = None,
      to: Option[Array[Byte]] = None): DataFrame = {
    val base = logsBronze
      .filter(logTopic(1) === lit(topic0) &&
              size(col("topics")) === 3 && length(col("data")) === 32)
    // from/to entity filters push into the topic positions — on a live
    // node these become server-side eth_getLogs topic filters
    // (datasets/erc20_transfers.rs:61-71 pushdown)
    val f1 = from.map(a => base.filter(logTopic(2) === lit(GenFixtures.pad32(a)))).getOrElse(base)
    val f2 = to.map(a => f1.filter(logTopic(3) === lit(GenFixtures.pad32(a)))).getOrElse(f1)
    f2
      .select(Seq(
        col("block_number"), col("transaction_index"), col("log_index"),
        col("transaction_hash"), col("address").as(contractCol),
        expr("substring(topics[1], 13, 20)").as("from_address"),
        expr("substring(topics[2], 13, 20)").as("to_address")) ++
        U256.expand(col("data"), "value", u256Reprs) :+ col("chain_id"): _*)
  }

  def erc20Transfers(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs,
      from: Option[Array[Byte]] = None,
      to: Option[Array[Byte]] = None): DataFrame =
    erc20Shaped(bronze("rpc_logs"),
      Keccak.hash("Transfer(address,address,uint256)"),
      "erc20", u256Reprs, from, to)

  def erc20Approvals(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    erc20Shaped(bronze("rpc_logs"),
      Keccak.hash("Approval(address,address,uint256)"),
      "erc20", u256Reprs)

  /** datasets/erc721_transfers.rs — 4 topics disambiguate from erc20. */
  def erc721Transfers(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    bronze("rpc_logs")
      .filter(logTopic(1) === lit(Keccak.hash("Transfer(address,address,uint256)")) &&
              size(col("topics")) === 4)
      .select(Seq(
        col("block_number"), col("transaction_index"), col("log_index"),
        col("transaction_hash"), col("address").as("erc721"),
        expr("substring(topics[1], 13, 20)").as("from_address"),
        expr("substring(topics[2], 13, 20)").as("to_address")) ++
        U256.expand(get(col("topics"), lit(3)), "token_id", u256Reprs) :+ col("chain_id"): _*)

  /** datasets/traces.rs:13-289. `excludeFailed` prunes failed subtrees:
    * a trace is dropped when any trace of the same tx with a prefix
    * trace_address has an error (traces.rs:258-289). The anti-join is
    * deliberately unhinted: `failed` is fact-cardinality (a sizeable
    * fraction of mainnet traces sit under reverted subtrees), so a
    * forced broadcast OOMs the driver at cluster scale. Both sides key
    * on transaction_hash, so Catalyst plans a shuffled join on the tx
    * hash with the prefix predicates as join-side filters; AQE still
    * broadcasts when runtime stats say the failed side is genuinely
    * small.
    */
  def traces(bronze: Bronze,
      excludeFailed: Boolean = false): DataFrame = {
    val t = bronze("rpc_traces")
    if (!excludeFailed) t else {
      val failed = t.filter(col("error").isNotNull)
        .select(col("transaction_hash").as("f_tx"), col("trace_address").as("f_path"))
      t.join(failed,
          col("transaction_hash") === col("f_tx") &&
            (col("trace_address") === col("f_path") ||
             col("trace_address").startsWith(concat(col("f_path"), lit("_"))) ||
             col("f_path") === ""),
          "left_anti")
    }
  }

  /** datasets/native_transfers.rs:11-107 — every value movement: calls &
    * creates with value, suicides (refund), block rewards. transfer_index
    * enumerates per block.
    */
  def nativeTransfers(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame = {
    val t = bronze("rpc_traces").filter(col("error").isNull)
    // reward endpoints (native_transfers.rs:99-103): from = the zero
    // address, to = the author — which the traces bronze stores in
    // action_from (traces.rs Action::Reward), so the endpoints swap here
    val zeroAddr = lit(new Array[Byte](20))
    val xfers = t.filter(
      (col("action_type").isin("call", "create") && col("action_value") =!= "0") ||
        col("action_type").isin("suicide", "reward"))
      .withColumn("from_unified",
        when(col("action_type") === "reward", zeroAddr)
          .otherwise(col("action_from")))
      .withColumn("to_unified",
        when(col("action_type") === "create", col("result_address"))
          .when(col("action_type") === "reward", col("action_from"))
          .otherwise(col("action_to")))
    val w = Window.partitionBy("block_number")
      .orderBy(col("transaction_index").asc_nulls_last, col("trace_address"))
    xfers
      .withColumn("transfer_index", row_number().over(w) - 1)
      .select(Seq(
        col("block_number"), col("transaction_index"), col("transfer_index"),
        col("transaction_hash"), col("from_unified").as("from_address"),
        col("to_unified").as("to_address")) ++
        U256.expand(BinaryStats.u256FromString(col("action_value")), "value", u256Reprs) :+
        col("chain_id"): _*)
  }

  /** datasets/contracts.rs:12-108 — one row per creation; deployer is the
    * root caller (first trace of the tx), factory the direct creator —
    * the order-sensitive deployer propagation done with a window over
    * trace_address (contracts.rs:74-84).
    */
  def contracts(bronze: Bronze): DataFrame = {
    val t = bronze("rpc_traces").filter(col("transaction_hash").isNotNull)
    val byTx = Window.partitionBy("transaction_hash")
      .orderBy(length(col("trace_address")), col("trace_address"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBlock = Window.partitionBy("block_number")
      .orderBy(col("transaction_index"), col("trace_address"))
    t.withColumn("deployer", first(col("action_from")).over(byTx))
      .filter(col("action_type") === "create" && col("error").isNull)
      .withColumn("create_index", row_number().over(perBlock) - 1)
      .select(
        col("block_number"), col("create_index"), col("transaction_hash"),
        col("result_address").as("contract_address"), col("deployer"),
        col("action_from").as("factory"), col("action_init").as("init_code"),
        col("result_code").as("code"),
        Keccak256.keccak256(col("action_init")).as("init_code_hash"),
        length(col("action_init")).as("n_init_code_bytes"),
        length(col("result_code")).as("n_code_bytes"),
        Keccak256.keccak256(col("result_code")).as("code_hash"),
        col("chain_id"))
  }

  /** datasets/four_byte_counts.rs — per-tx selector histogram, derived
    * from traces via groupBy (the reference's only aggregation-shaped
    * dataset; map-side partial agg keeps the shuffle tiny).
    */
  def fourByteCounts(bronze: Bronze): DataFrame =
    bronze("rpc_traces")
      .filter(col("transaction_hash").isNotNull && length(col("action_input")) >= 4)
      // chain_id rides the groupBy from the bronze (constant per chain,
      // a grouping key so multi-chain lakes never cross-attribute) —
      // NOT a fixture literal, which stamped Ethereum onto every chain
      .groupBy(col("block_number"), col("transaction_index"),
        col("transaction_hash"),
        expr("substring(action_input, 1, 4)").as("signature"),
        length(col("action_input")).cast("long").as("size"),
        col("chain_id"))
      .agg(count(lit(1)).as("count"))
      .select("block_number", "transaction_index", "transaction_hash",
        "signature", "size", "count", "chain_id")

  /** datasets/address_appearances.rs:15-344 — union of address mentions
    * across blocks/txs/logs/traces with relationship labels (an unpivot).
    */
  def addressAppearances(bronze: Bronze): DataFrame = {
    // r17 (guide §6 read-once): ONE scan per fixture table. The former
    // 9 union legs re-scanned their table per leg (txs ×2, logs ×3,
    // traces ×3) — each leg re-decoding the shared block/tx-id columns.
    // The relationship legs now ride one stack() unpivot per table over
    // a single scan (stack emits its rows directly — measured faster
    // than the array(struct(..)) + explode spelling, which pays an
    // extra per-row struct copy). Row multiset is identical: a leg
    // whose predicate fails (the two erc20 legs on a non-Transfer log)
    // emits a NULL address and the post-stack isNotNull filter drops it
    // exactly like the old per-leg shape() filter did.
    def legged(df: DataFrame, legs: Seq[(Column, String)],
        bn: Column = col("block_number"),
        txIdx: Column = col("transaction_index"),
        txHash: Column = col("transaction_hash")): DataFrame =
      df.select(Seq(bn.as("block_number"), txIdx.as("transaction_index"),
          txHash.as("transaction_hash"), col("chain_id")) ++
          legs.zipWithIndex.flatMap { case ((a, r), i) =>
            Seq(a.as(s"a$i"), lit(r).as(s"r$i")) }: _*)
        .selectExpr("block_number", "transaction_index",
          "transaction_hash", "chain_id",
          s"stack(${legs.size}, " + legs.indices.map(i => s"a$i, r$i")
            .mkString(", ") + ") AS (address, relationship)")
        .filter(col("address").isNotNull)
        .select("block_number", "transaction_index", "transaction_hash",
          "address", "relationship", "chain_id")
    val blocksDf = bronze("rpc_blocks")
    val txsDf = bronze("rpc_transactions")
    val logsDf = bronze("rpc_logs")
    val tracesDf = bronze("rpc_traces")
    val sigT = lit(Keccak.hash("Transfer(address,address,uint256)"))
    val isTransfer = get(col("topics"), lit(0)) === sigT &&
      size(col("topics")) >= 3
    legged(blocksDf, Seq(col("author") -> "miner"),
        txIdx = lit(null).cast("int"), txHash = lit(null).cast("binary"))
      .unionByName(legged(txsDf, Seq(
        col("from_address") -> "tx_from",
        col("to_address") -> "tx_to")))
      .unionByName(legged(logsDf, Seq(
        col("address") -> "log_address",
        when(isTransfer, expr("substring(topics[1], 13, 20)"))
          -> "erc20_transfer_from",
        when(isTransfer, expr("substring(topics[2], 13, 20)"))
          -> "erc20_transfer_to")))
      .unionByName(legged(tracesDf, Seq(
        col("action_from") -> "trace_from",
        col("action_to") -> "trace_to",
        col("result_address") -> "trace_created")))
  }

  /** point-lookup family (balances/codes/nonces/slots, datasets/balances.rs
    * family) — projections of account state at sampled blocks. */
  def balances(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    bronze("rpc_accounts")
      .select(Seq(col("block_number"), col("address")) ++
        U256.expand(col("balance"), "balance", u256Reprs) :+ col("chain_id"): _*)

  def nonces(bronze: Bronze): DataFrame =
    bronze("rpc_accounts")
      .select("block_number", "address", "nonce", "chain_id")

  def codes(bronze: Bronze): DataFrame =
    bronze("rpc_accounts")
      .select("block_number", "address", "code", "chain_id")

  def slots(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    bronze("rpc_storage")
      .select(Seq(col("block_number"), col("address"), col("slot")) ++
        U256.expand(col("value"), "value", u256Reprs) :+ col("chain_id"): _*)

  /** state-diff family (multi_datasets/state_diffs.rs:8-75) — one shared
    * scan would feed all four at once via persist(); as standalone
    * datasets each projects its own fixture table. */
  def storageDiffs(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    bronze("rpc_storage_diffs")
      .select(Seq(col("block_number"), col("transaction_index"),
        col("transaction_hash"), col("address"), col("slot")) ++
        U256.expand(col("from_value"), "from_value", u256Reprs) ++
        U256.expand(col("to_value"), "to_value", u256Reprs) :+ col("chain_id"): _*)

  def balanceDiffs(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    bronze("rpc_balance_diffs")
      .select(Seq(col("block_number"), col("transaction_index"),
        col("transaction_hash"), col("address")) ++
        U256.expand(col("from_value"), "from_value", u256Reprs) ++
        U256.expand(col("to_value"), "to_value", u256Reprs) :+ col("chain_id"): _*)

  def nonceDiffs(bronze: Bronze): DataFrame =
    bronze("rpc_nonce_diffs")
      .select("block_number", "transaction_index", "transaction_hash",
        "address", "from_value", "to_value", "chain_id")

  def codeDiffs(bronze: Bronze): DataFrame =
    bronze("rpc_code_diffs")
      .select("block_number", "transaction_index", "transaction_hash",
        "address", "from_value", "to_value", "chain_id")

  /** geth prestate-diff family (multi_datasets/geth_state_diffs.rs):
    * pre FULL OUTER post per (tx, address[, slot]) with blank-state fill
    * (geth_state_diffs.rs:117-144) — the reference's only real join.
    * The join keys carry block/tx context, so USING-style join coalesces
    * them; one shuffle on the composite key, emitted rows only where the
    * value actually changed.
    */
  private def gethDiff(bronze: Bronze, valueCol: String,
      withSlot: Boolean, zero: Column,
      project: (DataFrame, Seq[U256.Repr]) => DataFrame,
      u256Reprs: Seq[U256.Repr]): DataFrame = {
    val base = bronze("rpc_geth_prestate")
      .filter(if (withSlot) col("slot").isNotNull else col("slot").isNull)
      .filter(col(valueCol).isNotNull)
    val keys = Seq("block_number", "transaction_index", "transaction_hash",
      "address") ++ (if (withSlot) Seq("slot") else Nil) :+ "chain_id"
    val pre = base.filter(col("phase") === "pre")
      .select(keys.map(col) :+ col(valueCol).as("pre_value"): _*)
    val post = base.filter(col("phase") === "post")
      .select(keys.map(col) :+ col(valueCol).as("post_value"): _*)
    val joined = pre.join(post, keys, "full_outer")
      .withColumn("from_value", coalesce(col("pre_value"), zero))
      .withColumn("to_value", coalesce(col("post_value"), zero))
      .filter(col("from_value") =!= col("to_value"))
    project(joined, u256Reprs)
  }

  private def u256DiffProject(withSlot: Boolean)(df: DataFrame, reprs: Seq[U256.Repr]): DataFrame =
    df.select(Seq(col("block_number"), col("transaction_index"),
      col("transaction_hash"), col("address")) ++
      (if (withSlot) Seq(col("slot")) else Nil) ++
      U256.expand(col("from_value"), "from_value", reprs) ++
      U256.expand(col("to_value"), "to_value", reprs) :+ col("chain_id"): _*)

  def gethBalanceDiffs(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    gethDiff(bronze, "balance", withSlot = false,
      lit(new Array[Byte](32)), u256DiffProject(withSlot = false), u256Reprs)

  def gethStorageDiffs(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    gethDiff(bronze, "slot_value", withSlot = true,
      lit(new Array[Byte](32)), u256DiffProject(withSlot = true), u256Reprs)

  def gethCodeDiffs(bronze: Bronze): DataFrame =
    gethDiff(bronze, "code", withSlot = false,
      lit(Array.emptyByteArray),
      (df, _) => df.select("block_number", "transaction_index",
        "transaction_hash", "address", "from_value", "to_value", "chain_id"),
      Seq.empty)

  def gethNonceDiffs(bronze: Bronze): DataFrame =
    gethDiff(bronze, "nonce", withSlot = false, lit(0L),
      (df, _) => df.select("block_number", "transaction_index",
        "transaction_hash", "address", "from_value", "to_value", "chain_id"),
      Seq.empty)

  /** datasets/eth_calls.rs:11-82 — call results + keccak of calldata and
    * output. */
  def ethCalls(bronze: Bronze): DataFrame =
    bronze("rpc_calls")
      .select(
        col("block_number"), col("contract_address"), col("call_data"),
        Keccak256.keccak256(col("call_data")).as("call_data_hash"),
        col("output_data"),
        Keccak256.keccak256(col("output_data")).as("output_data_hash"),
        col("chain_id"))

  /** datasets/erc20_metadata.rs:8-93 — pivot the three metadata calls into
    * one row per contract; ABI string decode + control-char scrub
    * (erc20_metadata.rs:37-40). */
  /** ABI-encoded string return decode (word1=offset(32), word2=len, then
    * bytes): length is the low 4 bytes of word 2, data starts at byte 65
    * (1-indexed); control chars scrubbed (erc20_metadata.rs:37-40).
    * Typed Column ops, not SQL-text interpolation — survives renames. */
  private def abiStr(c: Column): Column = {
    val len = conv(hex(substring(c, 61, 4)), 16, 10).cast("int")
    regexp_replace(c.substr(lit(65), len).cast("string"),
      "[\\x00-\\x1F\\x7F]", "")
  }

  def erc20Metadata(bronze: Bronze): DataFrame = {
    val calls = bronze("rpc_calls")
    def sel(selector: Array[Byte]): Column = col("call_data") === lit(selector)
    calls
      .groupBy(col("block_number"), col("contract_address").as("erc20"), col("chain_id"))
      .agg(
        min(when(sel(GenFixtures.selName), col("output_data"))).as("name_raw"),
        min(when(sel(GenFixtures.selSymbol), col("output_data"))).as("symbol_raw"),
        min(when(sel(GenFixtures.selDecimals), col("output_data"))).as("decimals_raw"))
      .filter(col("name_raw").isNotNull)
      .select(
        col("block_number"), col("erc20"),
        abiStr(col("name_raw")).as("name"),
        abiStr(col("symbol_raw")).as("symbol"),
        U256.toU32(col("decimals_raw")).cast("int").as("decimals"),
        col("chain_id"))
  }

  /** datasets/erc20_supplies.rs — totalSupply per contract/block. */
  def erc20Supplies(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    bronze("rpc_calls")
      .filter(col("call_data") === lit(GenFixtures.selTotalSupply))
      .select(Seq(col("block_number"), col("contract_address").as("erc20")) ++
        U256.expand(col("output_data"), "total_supply", u256Reprs) :+ col("chain_id"): _*)

  /** datasets/vm_traces.rs:13-133 — one row per EVM opcode step (the
    * recursive sub-call flatten already happened at bronze time). */
  def vmTraces(bronze: Bronze): DataFrame =
    bronze("rpc_vm_traces")
      .select("block_number", "transaction_index", "pc", "cost", "used",
        "push", "mem_off", "mem_data", "storage_key", "storage_val", "op",
        "chain_id")

  /** datasets/geth_opcodes.rs:14-167 — struct-log opcode trace, with
    * the memory/stack/storage `captures` (see gethOpcodesCaptures). */
  def gethOpcodes(bronze: Bronze, captures: Set[String] = Set.empty): DataFrame = {
    val base = Seq("block_number", "transaction_index", "pc", "op", "gas",
      "gas_cost", "depth")
    bronze("rpc_geth_opcodes")
      .select(base ++ gethCaptures.filter(captures) :+ "chain_id" map col: _*)
  }

  /** datasets/geth_calls.rs — flattened callTracer frames. */
  def gethCalls(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    bronze("rpc_geth_calls")
      .select(Seq(col("block_number"), col("transaction_index"),
        col("from_address"), col("to_address")) ++
        U256.expand(col("value"), "value", u256Reprs) ++
        Seq(col("gas"), col("gas_used"), col("input"), col("output"),
          col("call_type"), col("error"), col("depth"), col("chain_id")): _*)

  /** datasets/javascript_traces.rs:10-90 — opaque user-tracer JSON
    * strings; downstream extraction is from_json/get_json_object. */
  def javascriptTraces(bronze: Bronze): DataFrame =
    bronze("rpc_js_traces")
      .select("block_number", "transaction_index", "transaction_hash",
        "output", "chain_id")

  /** datasets/trace_calls.rs:9-179 — call tree of a simulated call,
    * keyed by (contract, calldata) instead of a transaction. */
  def traceCalls(bronze: Bronze): DataFrame =
    bronze("rpc_trace_calls")
      .select("block_number", "contract_address", "tx_call_data",
        "action_from", "action_to", "action_value", "action_gas",
        "action_input", "action_type", "trace_address", "subtraces",
        "error", "chain_id")

  /** state-reads family (multi_datasets/state_reads.rs:8-111) — account
    * state touched during execution: the prestate tracer's pre-phase
    * rows, one shared scan feeding all four tables. */
  private def stateReads(bronze: Bronze,
      valueCol: String, withSlot: Boolean): DataFrame =
    bronze("rpc_geth_prestate")
      .filter(col("phase") === "pre" &&
        (if (withSlot) col("slot").isNotNull else col("slot").isNull) &&
        col(valueCol).isNotNull)

  def balanceReads(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    stateReads(bronze, "balance", withSlot = false)
      .select(Seq(col("block_number"), col("transaction_index"),
        col("transaction_hash"), col("address")) ++
        U256.expand(col("balance"), "balance", u256Reprs) :+ col("chain_id"): _*)

  def nonceReads(bronze: Bronze): DataFrame =
    stateReads(bronze, "nonce", withSlot = false)
      .select("block_number", "transaction_index", "transaction_hash",
        "address", "nonce", "chain_id")

  def codeReads(bronze: Bronze): DataFrame =
    stateReads(bronze, "code", withSlot = false)
      .select("block_number", "transaction_index", "transaction_hash",
        "address", "code", "chain_id")

  def storageReads(bronze: Bronze): DataFrame =
    stateReads(bronze, "slot_value", withSlot = true)
      .select(col("block_number"), col("transaction_index"),
        col("transaction_hash"), col("address"), col("slot"),
        col("slot_value").as("value"), col("chain_id"))

  /** datasets/erc721_metadata.rs — name/symbol per NFT contract. */
  def erc721Metadata(bronze: Bronze): DataFrame = {
    val calls = bronze("rpc_calls_erc721")
    def sel(selector: Array[Byte]): Column = col("call_data") === lit(selector)
    calls
      .groupBy(col("block_number"), col("contract_address").as("erc721"), col("chain_id"))
      .agg(
        min(when(sel(GenFixtures.selName), col("output_data"))).as("name_raw"),
        min(when(sel(GenFixtures.selSymbol), col("output_data"))).as("symbol_raw"))
      .filter(col("name_raw").isNotNull)
      .select(col("block_number"), col("erc721"),
        abiStr(col("name_raw")).as("name"),
        abiStr(col("symbol_raw")).as("symbol"),
        col("chain_id"))
  }

  /** datasets/erc20_balances.rs:8-58 — balanceOf(address) results; the
    * queried address is recovered from the calldata tail. */
  def erc20Balances(bronze: Bronze,
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs): DataFrame =
    bronze("rpc_calls")
      .filter(expr("substring(call_data, 1, 4)") === lit(GenFixtures.selBalanceOf) &&
        length(col("call_data")) === 36)
      .select(Seq(col("block_number"), col("contract_address").as("erc20"),
        expr("substring(call_data, 17, 20)").as("address")) ++
        U256.expand(col("output_data"), "balance", u256Reprs) :+ col("chain_id"): _*)
}
