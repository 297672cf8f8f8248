package graft.chain

import org.apache.spark.sql.types._

/** Column-type vocabulary of the reference engine
  * (cryo types/schemas.rs:110-135) mapped to Spark types per SURVEY §1.3.
  * U256 is logical — it expands to a configurable set of physical columns
  * (see [[graft.functions.U256]]).
  */
sealed abstract class ColType(val sparkType: DataType)
object ColType {
  case object Bool extends ColType(BooleanType)
  case object UInt32 extends ColType(IntegerType) // value-range safe widening
  case object UInt64 extends ColType(LongType)    // documented overflow caveat
  case object Int32 extends ColType(IntegerType)
  case object Int64 extends ColType(LongType)
  case object Float64 extends ColType(DoubleType)
  case object Str extends ColType(StringType)
  case object Binary extends ColType(BinaryType)
  case object Hex extends ColType(StringType)
  case object U256 extends ColType(BinaryType) // canonical 32-byte big-endian
}

/** Entity-filter dimensions a dataset can require/accept
  * (cryo types/partitions.rs:8-33). */
object Dim extends Enumeration {
  val BlockNumber, TransactionHash, Address, Contract, FromAddress,
      ToAddress, Slot, CallData, Topic0, Topic1, Topic2, Topic3 = Value
}

/** One dataset (table kind) of the engine — the Spark rendering of the
  * reference's `Datatype` enum (cryo types/datatypes/scalar.rs:5-43) plus
  * its per-dataset schema/sort/required-dim declarations.
  *
  * @param name           canonical dataset name
  * @param aliases        CLI aliases (e.g. txs, events)
  * @param columns        ordered (column, type) pairs — the full declarable set
  * @param defaultExclude columns present but excluded by default (e.g. v/r/s)
  * @param sortColumns    default sort (cryo types/columns.rs:34-51)
  * @param requiredDims   dims that must be present to collect
  * @param u256Columns    logical u256 columns that expand to repr families
  * @param byBlock/byTransaction  supported time dimensions
  */
case class DatasetDef(
    name: String,
    aliases: Seq[String] = Seq.empty,
    columns: Seq[(String, ColType)],
    defaultExclude: Seq[String] = Seq.empty,
    sortColumns: Seq[String] = Seq.empty,
    requiredDims: Seq[Dim.Value] = Seq.empty,
    u256Columns: Seq[String] = Seq.empty,
    byBlock: Boolean = true,
    byTransaction: Boolean = false) {
  def columnNames: Seq[String] = columns.map(_._1)
  def defaultColumns: Seq[String] = columnNames.filterNot(defaultExclude.contains)
}

/** The dataset registry: all 37 scalar datasets + 5 multi-dataset bundles of
  * the reference (SURVEY §2.1), declared with Spark-typed schemas.
  */
object Datatypes {
  import ColType._
  import Dim._

  private val bn: (String, ColType) = "block_number" -> UInt32
  private val txIdx: (String, ColType) = "transaction_index" -> UInt32
  private val txHash: (String, ColType) = "transaction_hash" -> Binary
  private val chainId: (String, ColType) = "chain_id" -> UInt64

  val blocks = DatasetDef(
    name = "blocks",
    columns = Seq(
      bn, "block_hash" -> Binary, "parent_hash" -> Binary, "uncles_hash" -> Binary,
      "author" -> Binary, "state_root" -> Binary, "transactions_root" -> Binary,
      "receipts_root" -> Binary, "gas_used" -> UInt64, "gas_limit" -> UInt64,
      "extra_data" -> Binary, "logs_bloom" -> Binary, "timestamp" -> UInt32,
      "difficulty" -> UInt64, "size" -> UInt64, "mix_hash" -> Binary,
      "nonce" -> Binary, "base_fee_per_gas" -> UInt64, "withdrawals_root" -> Binary,
      "total_difficulty" -> U256, chainId),
    defaultExclude = Seq("state_root", "transactions_root", "receipts_root",
      "uncles_hash", "logs_bloom", "mix_hash", "nonce", "withdrawals_root",
      "total_difficulty"),
    sortColumns = Seq("block_number"),
    u256Columns = Seq("total_difficulty"),
    byBlock = true, byTransaction = true)

  val transactions = DatasetDef(
    name = "transactions", aliases = Seq("txs"),
    columns = Seq(
      bn, txIdx, txHash, "nonce" -> UInt64, "from_address" -> Binary,
      "to_address" -> Binary, "value" -> U256, "input" -> Binary,
      "gas_limit" -> UInt64, "gas_used" -> UInt64, "gas_price" -> UInt64,
      "transaction_type" -> UInt32, "max_priority_fee_per_gas" -> UInt64,
      "max_fee_per_gas" -> UInt64, "success" -> Bool,
      "n_input_bytes" -> UInt32, "n_input_zero_bytes" -> UInt32,
      "n_input_nonzero_bytes" -> UInt32, "block_hash" -> Binary,
      "timestamp" -> UInt32, "v" -> Bool, "r" -> Binary, "s" -> Binary, chainId),
    defaultExclude = Seq("block_hash", "v", "r", "s"),
    sortColumns = Seq("block_number", "transaction_index"),
    u256Columns = Seq("value"),
    byBlock = true, byTransaction = true)

  val logs = DatasetDef(
    name = "logs", aliases = Seq("events"),
    columns = Seq(
      bn, txIdx, "log_index" -> UInt32, txHash, "block_hash" -> Binary,
      "address" -> Binary, "topic0" -> Binary, "topic1" -> Binary,
      "topic2" -> Binary, "topic3" -> Binary, "data" -> Binary,
      "n_data_bytes" -> UInt32, chainId),
    defaultExclude = Seq("block_hash"),
    sortColumns = Seq("block_number", "log_index"),
    byBlock = true, byTransaction = true)

  val traces = DatasetDef(
    name = "traces",
    columns = Seq(
      "action_from" -> Binary, "action_to" -> Binary, "action_value" -> Str,
      "action_gas" -> UInt32, "action_input" -> Binary, "action_call_type" -> Str,
      "action_init" -> Binary, "action_reward_type" -> Str, "action_type" -> Str,
      "result_gas_used" -> UInt32, "result_output" -> Binary, "result_code" -> Binary,
      "result_address" -> Binary, "trace_address" -> Str, "subtraces" -> UInt32,
      "error" -> Str, bn, "block_hash" -> Binary, txIdx, txHash, chainId),
    defaultExclude = Seq("block_hash"),
    sortColumns = Seq("block_number", "transaction_index"),
    byBlock = true, byTransaction = true)

  private def stateDiff(nm: String, valueType: ColType, u256: Seq[String],
      extra: Seq[(String, ColType)] = Seq.empty) = DatasetDef(
    name = nm,
    aliases = if (nm == "storage_diffs") Seq("slot_diffs") else Seq.empty,
    columns = Seq(bn, txIdx, txHash, "address" -> Binary) ++ extra ++
      Seq("from_value" -> valueType, "to_value" -> valueType, chainId),
    sortColumns = Seq("block_number", "transaction_index"),
    u256Columns = u256,
    byBlock = true, byTransaction = true)

  val balanceDiffs = stateDiff("balance_diffs", U256, Seq("from_value", "to_value"))
  val codeDiffs = stateDiff("code_diffs", Binary, Seq.empty)
  val nonceDiffs = stateDiff("nonce_diffs", UInt64, Seq.empty)
  val storageDiffs = stateDiff("storage_diffs", U256, Seq("from_value", "to_value"),
    extra = Seq("slot" -> Binary))

  val vmTraces = DatasetDef(
    name = "vm_traces", aliases = Seq("opcode_traces"),
    columns = Seq(bn, txIdx, "pc" -> UInt64, "cost" -> UInt64,
      "used" -> UInt64, "push" -> Binary, "mem_off" -> UInt32,
      "mem_data" -> Binary, "storage_key" -> Binary, "storage_val" -> Binary,
      "op" -> Str, chainId),
    sortColumns = Seq("block_number", "transaction_index", "pc"),
    byBlock = true, byTransaction = true)

  val nativeTransfers = DatasetDef(
    name = "native_transfers",
    columns = Seq(bn, txIdx, "transfer_index" -> UInt32, txHash,
      "from_address" -> Binary, "to_address" -> Binary, "value" -> U256, chainId),
    sortColumns = Seq("block_number", "transfer_index"),
    u256Columns = Seq("value"),
    byBlock = true, byTransaction = true)

  val contracts = DatasetDef(
    name = "contracts",
    columns = Seq(bn, "create_index" -> UInt32, txHash,
      "contract_address" -> Binary, "deployer" -> Binary, "factory" -> Binary,
      "init_code" -> Binary, "code" -> Binary, "init_code_hash" -> Binary,
      "n_init_code_bytes" -> UInt32, "n_code_bytes" -> UInt32,
      "code_hash" -> Binary, chainId),
    sortColumns = Seq("block_number", "create_index"),
    byBlock = true, byTransaction = true)

  val addressAppearances = DatasetDef(
    name = "address_appearances",
    columns = Seq(bn, txIdx, txHash, "address" -> Binary,
      "relationship" -> Str, chainId),
    sortColumns = Seq("block_number", "transaction_index", "address", "relationship"),
    byBlock = true, byTransaction = true)

  private def pointLookup(nm: String, valueCols: Seq[(String, ColType)],
      dims: Seq[Dim.Value], u256: Seq[String] = Seq.empty) = DatasetDef(
    name = nm,
    aliases = if (nm == "slots") Seq("storages") else Seq.empty,
    columns = Seq(bn, "address" -> Binary) ++ valueCols :+ chainId,
    sortColumns = Seq("block_number", "address"),
    requiredDims = dims,
    u256Columns = u256)

  val balances = pointLookup("balances", Seq("balance" -> U256), Seq(Address), Seq("balance"))
  val codes = pointLookup("codes", Seq("code" -> Binary), Seq(Address))
  val nonces = pointLookup("nonces", Seq("nonce" -> UInt64), Seq(Address))
  val slots = DatasetDef(
    name = "slots", aliases = Seq("storages"),
    columns = Seq(bn, "address" -> Binary, "slot" -> Binary, "value" -> U256, chainId),
    sortColumns = Seq("block_number", "address", "slot"),
    requiredDims = Seq(Address, Slot),
    u256Columns = Seq("value"))

  private def stateRead(nm: String, valueCols: Seq[(String, ColType)],
      u256: Seq[String] = Seq.empty) = DatasetDef(
    name = nm,
    columns = Seq(bn, txIdx, txHash, "address" -> Binary) ++ valueCols :+ chainId,
    sortColumns = Seq("block_number", "transaction_index"),
    u256Columns = u256,
    byBlock = true, byTransaction = true)

  val balanceReads = stateRead("balance_reads", Seq("balance" -> U256), Seq("balance"))
  val codeReads = stateRead("code_reads", Seq("code" -> Binary))
  val nonceReads = stateRead("nonce_reads", Seq("nonce" -> UInt64))
  val storageReads = stateRead("storage_reads",
    Seq("slot" -> Binary, "value" -> Binary))

  private def erc20Transferish(nm: String, valueCol: String) = DatasetDef(
    name = nm,
    columns = Seq(bn, txIdx, "log_index" -> UInt32, txHash,
      "erc20" -> Binary, "from_address" -> Binary, "to_address" -> Binary,
      valueCol -> U256, chainId),
    sortColumns = Seq("block_number", "log_index"),
    u256Columns = Seq(valueCol),
    byBlock = true, byTransaction = true)

  val erc20Transfers = erc20Transferish("erc20_transfers", "value")
  val erc20Approvals = erc20Transferish("erc20_approvals", "value")
  val erc721Transfers = DatasetDef(
    name = "erc721_transfers",
    columns = Seq(bn, txIdx, "log_index" -> UInt32, txHash,
      "erc721" -> Binary, "from_address" -> Binary, "to_address" -> Binary,
      "token_id" -> U256, chainId),
    sortColumns = Seq("block_number", "log_index"),
    u256Columns = Seq("token_id"),
    byBlock = true, byTransaction = true)

  val erc20Metadata = DatasetDef(
    name = "erc20_metadata",
    columns = Seq(bn, "erc20" -> Binary, "name" -> Str, "symbol" -> Str,
      "decimals" -> UInt32, chainId),
    sortColumns = Seq("symbol", "block_number"),
    requiredDims = Seq(Address))

  val erc20Supplies = DatasetDef(
    name = "erc20_supplies",
    columns = Seq(bn, "erc20" -> Binary, "total_supply" -> U256, chainId),
    sortColumns = Seq("erc20", "block_number"),
    requiredDims = Seq(Address),
    u256Columns = Seq("total_supply"))

  val erc20Balances = DatasetDef(
    name = "erc20_balances",
    columns = Seq(bn, "erc20" -> Binary, "address" -> Binary,
      "balance" -> U256, chainId),
    sortColumns = Seq("erc20", "block_number", "address"),
    requiredDims = Seq(Contract, Address),
    u256Columns = Seq("balance"))

  val erc721Metadata = DatasetDef(
    name = "erc721_metadata",
    columns = Seq(bn, "erc721" -> Binary, "name" -> Str, "symbol" -> Str, chainId),
    sortColumns = Seq("symbol", "block_number"),
    requiredDims = Seq(Contract))

  val ethCalls = DatasetDef(
    name = "eth_calls",
    columns = Seq(bn, "contract_address" -> Binary, "call_data" -> Binary,
      "call_data_hash" -> Binary, "output_data" -> Binary,
      "output_data_hash" -> Binary, chainId),
    defaultExclude = Seq("call_data_hash", "output_data_hash"),
    sortColumns = Seq("block_number", "contract_address"),
    requiredDims = Seq(Contract, CallData))

  val traceCalls = DatasetDef(
    name = "trace_calls",
    columns = Seq(bn, "contract_address" -> Binary, "tx_call_data" -> Binary,
      "action_from" -> Binary, "action_to" -> Binary, "action_value" -> Str,
      "action_gas" -> UInt32, "action_input" -> Binary, "action_type" -> Str,
      "trace_address" -> Str, "subtraces" -> UInt32, "error" -> Str, chainId),
    sortColumns = Seq("block_number", "trace_address"),
    requiredDims = Seq(Contract, CallData))

  val gethCalls = DatasetDef(
    name = "geth_calls",
    columns = Seq(bn, txIdx, "from_address" -> Binary, "to_address" -> Binary,
      "value" -> U256, "gas" -> UInt64, "gas_used" -> UInt64,
      "input" -> Binary, "output" -> Binary, "call_type" -> Str,
      "error" -> Str, "depth" -> UInt32, chainId),
    sortColumns = Seq("block_number", "transaction_index"),
    u256Columns = Seq("value"),
    byBlock = true, byTransaction = true)

  val gethOpcodes = DatasetDef(
    name = "geth_opcodes",
    columns = Seq(bn, txIdx, "pc" -> UInt64, "op" -> Str, "gas" -> UInt64,
      "gas_cost" -> UInt64, "depth" -> UInt32, "memory" -> Str,
      "stack" -> Str, "storage" -> Str, chainId),
    defaultExclude = Seq("memory", "stack", "storage"),
    sortColumns = Seq("block_number", "transaction_index", "pc"),
    byBlock = true, byTransaction = true)

  private def gethDiff(nm: String, valueType: ColType, u256: Seq[String],
      extra: Seq[(String, ColType)] = Seq.empty) = DatasetDef(
    name = nm,
    columns = Seq(bn, txIdx, txHash, "address" -> Binary) ++ extra ++
      Seq("from_value" -> valueType, "to_value" -> valueType, chainId),
    sortColumns = Seq("block_number", "transaction_index"),
    u256Columns = u256,
    byBlock = true, byTransaction = true)

  val gethBalanceDiffs = gethDiff("geth_balance_diffs", U256, Seq("from_value", "to_value"))
  val gethCodeDiffs = gethDiff("geth_code_diffs", Binary, Seq.empty)
  val gethNonceDiffs = gethDiff("geth_nonce_diffs", UInt64, Seq.empty)
  val gethStorageDiffs = gethDiff("geth_storage_diffs", U256,
    Seq("from_value", "to_value"), extra = Seq("slot" -> Binary))

  val javascriptTraces = DatasetDef(
    name = "javascript_traces", aliases = Seq("js_traces"),
    columns = Seq(bn, txIdx, txHash, "output" -> Str, chainId),
    sortColumns = Seq("block_number", "transaction_index"),
    byBlock = true, byTransaction = true)

  val fourByteCounts = DatasetDef(
    name = "four_byte_counts", aliases = Seq("4byte_counts"),
    columns = Seq(bn, txIdx, txHash, "signature" -> Binary, "size" -> UInt64,
      "count" -> UInt64, chainId),
    sortColumns = Seq("block_number", "transaction_index"),
    byBlock = true, byTransaction = true)

  /** all 37 scalar datasets, in the reference's declaration order */
  val all: Seq[DatasetDef] = Seq(
    addressAppearances, balanceDiffs, balanceReads, balances, blocks,
    codeDiffs, codeReads, codes, contracts, erc20Balances, erc20Metadata,
    erc20Supplies, erc20Transfers, erc20Approvals, erc721Metadata,
    erc721Transfers, ethCalls, fourByteCounts, gethCalls, gethCodeDiffs,
    gethBalanceDiffs, gethNonceDiffs, gethOpcodes, gethStorageDiffs,
    javascriptTraces, logs, nativeTransfers, nonceDiffs, nonceReads, nonces,
    slots, storageDiffs, storageReads, traceCalls, traces, transactions,
    vmTraces)

  /** multi-dataset bundles sharing one extraction pass
    * (cryo types/datatypes/multi.rs:6-50) */
  val multis: Map[String, Seq[String]] = Map(
    "blocks_and_transactions" -> Seq("blocks", "transactions"),
    "call_trace_derivatives" -> Seq("contracts", "native_transfers", "traces"),
    "state_diffs" -> Seq("balance_diffs", "code_diffs", "nonce_diffs", "storage_diffs"),
    "geth_state_diffs" -> Seq("geth_balance_diffs", "geth_code_diffs",
      "geth_nonce_diffs", "geth_storage_diffs"),
    "state_reads" -> Seq("balance_reads", "code_reads", "nonce_reads", "storage_reads"))

  val byName: Map[String, DatasetDef] =
    all.flatMap(d => (d.name +: d.aliases).map(_ -> d)).toMap

  /** canonical dataset names only — the set cryo FILENAMES can carry.
    * Ambiguity guards (labels, partition-dim values) check against
    * this, not byName: aliases never appear in a filename's dataset
    * segment or a readStream glob, so a label like "txs" is harmless
    * while "transactions" is not. */
  val canonicalNames: Set[String] = all.map(_.name).toSet

  def apply(name: String): DatasetDef =
    byName.getOrElse(name, throw new IllegalArgumentException(s"unknown dataset: $name"))
}
