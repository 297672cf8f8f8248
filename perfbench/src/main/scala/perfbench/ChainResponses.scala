package perfbench

import java.math.BigInteger

import org.apache.spark.sql.{Row, SparkSession}

/** JSON-RPC results for one fixture chain, encoded once per block so the
  * stub node only concatenates strings while it serves. Encoding is the
  * inverse of the program's `RpcExtract` parsers: nullable columns become
  * omitted keys, u256 binaries become hex quantities, and every state
  * diff becomes a "*" {from,to} delta. */
final class ChainResponses(
    val chainId: Long,
    val firstBlock: Int,
    val lastBlock: Int,
    headers: Array[String],
    fullBlocks: Array[String],
    receipts: Array[String],
    logs: Array[Array[String]],
    traces: Array[String],
    stateDiffs: Array[String]) extends Serializable {

  private def at[A](xs: Array[A], b: Long): Option[A] =
    if (b < firstBlock || b > lastBlock) None else Some(xs((b - firstBlock).toInt))

  def header(b: Long): String = at(headers, b).getOrElse("null")
  def fullBlock(b: Long): String = at(fullBlocks, b).getOrElse("null")
  def blockReceipts(b: Long): String = at(receipts, b).getOrElse("null")
  def blockTraces(b: Long): String = at(traces, b).getOrElse("null")
  def stateDiff(b: Long): String = at(stateDiffs, b).getOrElse("null")
  def logsBetween(from: Long, to: Long): String = {
    val sb = new java.lang.StringBuilder("[")
    var first = true
    var b = math.max(from, firstBlock.toLong)
    while (b <= math.min(to, lastBlock.toLong)) {
      for (l <- logs((b - firstBlock).toInt)) {
        if (!first) sb.append(',')
        sb.append(l)
        first = false
      }
      b += 1
    }
    sb.append(']').toString
  }

  /** Every per-block result with the parser that reads it, for the
    * single-thread parse measurement. */
  def parseInputs: Seq[(String, Array[String])] = Seq(
    "blocks_and_transactions" -> fullBlocks, "receipts" -> receipts,
    "traces" -> traces, "state_diffs" -> stateDiffs)
}

object ChainResponses {

  private val digits = "0123456789abcdef".toCharArray
  private def hx(b: Array[Byte]): String =
    if (b == null) null
    else {
      val c = new Array[Char](2 + 2 * b.length)
      c(0) = '0'; c(1) = 'x'
      var i = 0
      while (i < b.length) {
        c(2 + 2 * i) = digits((b(i) >> 4) & 0xf)
        c(3 + 2 * i) = digits(b(i) & 0xf)
        i += 1
      }
      new String(c)
    }
  private def u256(b: Array[Byte]): String =
    if (b == null) null else js("0x" + new BigInteger(1, b).toString(16))
  private def qty(l: Long): String = "0x" + java.lang.Long.toHexString(l)
  private def js(s: String): String =
    if (s == null) null
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def obj(fields: (String, String)*): String =
    fields.filter(_._2 != null)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  /** Encoded responses of `fixDir`, kept in `cacheDir` after the first
    * encode: reading them back is the set-up a run repeats. */
  def cached(spark: SparkSession, fixDir: String, cacheDir: String,
      headersOnly: Boolean): ChainResponses = {
    import java.io._
    val f = new File(cacheDir, if (headersOnly) "responses-headers.bin" else "responses.bin")
    if (!f.exists) {
      f.getParentFile.mkdirs()
      val tmp = new File(cacheDir, f.getName + ".tmp")
      val out = new ObjectOutputStream(new BufferedOutputStream(new FileOutputStream(tmp), 1 << 20))
      try out.writeObject(encode(load(spark, fixDir, headersOnly))) finally out.close()
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val in = new ObjectInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 20))
    try in.readObject().asInstanceOf[ChainResponses] finally in.close()
  }

  val Tables: Seq[String] = Seq("rpc_blocks", "rpc_transactions", "rpc_receipts",
    "rpc_logs", "rpc_traces", "rpc_balance_diffs", "rpc_code_diffs",
    "rpc_nonce_diffs", "rpc_storage_diffs")

  /** The `rpc_*` bronze tables of `fixDir`, collected into this JVM.
    * With `headersOnly` only blocks and transactions are read. */
  def load(spark: SparkSession, fixDir: String,
      headersOnly: Boolean = false): Map[String, Array[Row]] =
    Tables.take(if (headersOnly) 2 else Tables.size).map { t =>
      t -> spark.read.parquet(s"$fixDir/$t.parquet").collect()
    }.toMap

  /** Encodes loaded tables. Without the full table set only
    * `eth_getBlockByNumber(…, false)` is served. */
  def encode(tables: Map[String, Array[Row]]): ChainResponses = {
    val headersOnly = !Tables.forall(tables.contains)
    def rows(name: String): Array[Row] = tables(name)
    def bn(r: Row): Int = r.getAs[Int]("block_number")
    def txi(r: Row): Int = r.getAs[Int]("transaction_index")
    def optL(r: Row, c: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    def optI(r: Row, c: String): Option[Int] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Int](c))
    def bin(r: Row, c: String): Array[Byte] = r.getAs[Array[Byte]](c)

    def rowsIf(name: String): Array[Row] = if (headersOnly) Array.empty else rows(name)
    val blocks = rows("rpc_blocks").map(r => bn(r) -> r).toMap
    val txsByBlock = rows("rpc_transactions").groupBy(bn)
      .map { case (k, v) => k -> v.sortBy(txi).toSeq }
    val receiptOf = rowsIf("rpc_receipts")
      .map(r => hx(bin(r, "transaction_hash")) ->
        (r.getAs[Long]("gas_used"), r.getAs[Int]("status"))).toMap
    val logsByBlock = rowsIf("rpc_logs").groupBy(bn)
    val tracesByBlock = rowsIf("rpc_traces").groupBy(bn)
    def byTx(name: String): Map[(Int, Int), Seq[Row]] =
      rowsIf(name).toSeq.groupBy(r => (bn(r), txi(r)))
    val balD = byTx("rpc_balance_diffs")
    val codD = byTx("rpc_code_diffs")
    val nonD = byTx("rpc_nonce_diffs")
    val stoD = byTx("rpc_storage_diffs")
    def txsOf(b: Int): Seq[Row] = txsByBlock.getOrElse(b, Nil)

    def encTx(t: Row): String = obj(
      "transactionIndex" -> js(qty(txi(t))),
      "hash" -> js(hx(bin(t, "transaction_hash"))),
      "nonce" -> js(qty(t.getAs[Long]("nonce"))),
      "from" -> js(hx(bin(t, "from_address"))),
      "to" -> js(hx(bin(t, "to_address"))),
      "value" -> u256(bin(t, "value")),
      "input" -> js(hx(bin(t, "input"))),
      "gas" -> js(qty(t.getAs[Long]("gas_limit"))),
      "gasPrice" -> optL(t, "gas_price").map(v => js(qty(v))).orNull,
      "maxFeePerGas" -> optL(t, "max_fee_per_gas").map(v => js(qty(v))).orNull,
      "maxPriorityFeePerGas" ->
        optL(t, "max_priority_fee_per_gas").map(v => js(qty(v))).orNull,
      "type" -> js(qty(t.getAs[Int]("transaction_type"))),
      "r" -> js(hx(bin(t, "r"))), "s" -> js(hx(bin(t, "s"))),
      "v" -> js(if (t.getAs[Boolean]("v")) "0x1" else "0x0"))

    def encBlock(b: Int, fullTxs: Boolean): String = {
      val r = blocks(b)
      val txs =
        if (fullTxs) arr(txsOf(b).map(encTx))
        else arr(txsOf(b).map(t => js(hx(bin(t, "transaction_hash")))))
      obj(
        "number" -> js(qty(b)),
        "hash" -> js(hx(bin(r, "block_hash"))),
        "parentHash" -> js(hx(bin(r, "parent_hash"))),
        "sha3Uncles" -> js(hx(bin(r, "uncles_hash"))),
        "miner" -> js(hx(bin(r, "author"))),
        "stateRoot" -> js(hx(bin(r, "state_root"))),
        "transactionsRoot" -> js(hx(bin(r, "transactions_root"))),
        "receiptsRoot" -> js(hx(bin(r, "receipts_root"))),
        "gasUsed" -> js(qty(r.getAs[Long]("gas_used"))),
        "gasLimit" -> js(qty(r.getAs[Long]("gas_limit"))),
        "extraData" -> js(hx(bin(r, "extra_data"))),
        "logsBloom" -> js(hx(bin(r, "logs_bloom"))),
        "timestamp" -> js(qty(r.getAs[Int]("timestamp"))),
        "difficulty" -> js(qty(r.getAs[Long]("difficulty"))),
        "size" -> js(qty(r.getAs[Long]("size"))),
        "mixHash" -> js(hx(bin(r, "mix_hash"))),
        "nonce" -> js(hx(bin(r, "nonce"))),
        "baseFeePerGas" -> optL(r, "base_fee_per_gas").map(v => js(qty(v))).orNull,
        "withdrawalsRoot" -> js(hx(bin(r, "withdrawals_root"))),
        "totalDifficulty" -> u256(bin(r, "total_difficulty")),
        "transactions" -> txs)
    }

    def encReceipts(b: Int): String = arr(txsOf(b).map { t =>
      val h = hx(bin(t, "transaction_hash"))
      val (gas, status) = receiptOf(h)
      obj("transactionHash" -> js(h), "gasUsed" -> js(qty(gas)),
        "status" -> js(qty(status)))
    })

    def encLog(r: Row): String = {
      val topics = r.getAs[scala.collection.Seq[Array[Byte]]]("topics")
      obj(
        "blockNumber" -> js(qty(bn(r))),
        "transactionIndex" -> js(qty(txi(r))),
        "logIndex" -> js(qty(r.getAs[Int]("log_index"))),
        "transactionHash" -> js(hx(bin(r, "transaction_hash"))),
        "blockHash" -> js(hx(bin(r, "block_hash"))),
        "address" -> js(hx(bin(r, "address"))),
        "topics" -> arr(topics.map(t => js(hx(t)))),
        "data" -> js(hx(bin(r, "data"))))
    }

    def encTrace(r: Row): String = {
      val typ = r.getAs[String]("action_type")
      // node wire shapes: rewards carry {author, rewardType, value},
      // self-destructs {address, refundAddress, balance}
      val (fromKey, toKey, valKey) = typ match {
        case "reward" => ("author", "to", "value")
        case "suicide" => ("address", "refundAddress", "balance")
        case _ => ("from", "to", "value")
      }
      val action = obj(
        fromKey -> js(hx(bin(r, "action_from"))),
        toKey -> js(hx(bin(r, "action_to"))),
        valKey -> Option(r.getAs[String]("action_value"))
          .map(v => js("0x" + new BigInteger(v).toString(16))).orNull,
        "gas" -> optI(r, "action_gas").map(v => js(qty(v))).orNull,
        "input" -> js(hx(bin(r, "action_input"))),
        "callType" -> js(r.getAs[String]("action_call_type")),
        "init" -> js(hx(bin(r, "action_init"))),
        "rewardType" -> js(r.getAs[String]("action_reward_type")))
      val resFields = Seq(
        "gasUsed" -> optI(r, "result_gas_used").map(v => js(qty(v))).orNull,
        "output" -> js(hx(bin(r, "result_output"))),
        "code" -> js(hx(bin(r, "result_code"))),
        "address" -> js(hx(bin(r, "result_address"))))
      val result = if (resFields.forall(_._2 == null)) null else obj(resFields: _*)
      val ta = r.getAs[String]("trace_address")
      obj(
        "action" -> action,
        "result" -> result,
        "traceAddress" -> arr(if (ta.isEmpty) Nil else ta.split('_').toSeq),
        "subtraces" -> r.getAs[Int]("subtraces").toString,
        "type" -> js(typ),
        "error" -> js(r.getAs[String]("error")),
        "blockNumber" -> bn(r).toString,
        "blockHash" -> js(hx(bin(r, "block_hash"))),
        "transactionPosition" -> optI(r, "transaction_index").map(_.toString).orNull,
        "transactionHash" -> js(hx(bin(r, "transaction_hash"))))
    }

    def star(from: String, to: String): String =
      s"""{"*":{"from":$from,"to":$to}}"""

    // one address-keyed entry per bronze row: the parser walks the field
    // list, so repeated keys round-trip losslessly
    def encStateDiff(b: Int): String = arr(txsOf(b).map { t =>
      val key = (b, txi(t))
      val entries = Seq.newBuilder[String]
      for (r <- balD.getOrElse(key, Nil))
        entries += js(hx(bin(r, "address"))) + ":" + obj("balance" ->
          star(u256(bin(r, "from_value")), u256(bin(r, "to_value"))))
      for (r <- nonD.getOrElse(key, Nil))
        entries += js(hx(bin(r, "address"))) + ":" + obj("nonce" -> star(
          js(qty(r.getAs[Long]("from_value"))), js(qty(r.getAs[Long]("to_value")))))
      for (r <- codD.getOrElse(key, Nil))
        entries += js(hx(bin(r, "address"))) + ":" + obj("code" -> star(
          js(hx(bin(r, "from_value"))), js(hx(bin(r, "to_value")))))
      for (r <- stoD.getOrElse(key, Nil))
        entries += js(hx(bin(r, "address"))) + ":" + obj("storage" ->
          ("{" + js(hx(bin(r, "slot"))) + ":" +
            star(u256(bin(r, "from_value")), u256(bin(r, "to_value"))) + "}"))
      obj("transactionHash" -> js(hx(bin(t, "transaction_hash"))),
        "stateDiff" -> entries.result().mkString("{", ",", "}"))
    })

    val first = blocks.keys.min
    val last = blocks.keys.max
    val range = (first to last).toArray
    def each[A: scala.reflect.ClassTag](f: Int => A, empty: A): Array[A] =
      if (headersOnly) range.map(_ => empty) else range.map(f)
    new ChainResponses(
      chainId = blocks(first).getAs[Long]("chain_id"),
      firstBlock = first, lastBlock = last,
      headers = range.map(encBlock(_, fullTxs = false)),
      fullBlocks = each(encBlock(_, fullTxs = true), "null"),
      receipts = each(encReceipts, "null"),
      logs = each(b => logsByBlock.getOrElse(b, Array.empty[Row])
        .sortBy(_.getAs[Int]("log_index")).map(encLog), Array.empty[String]),
      traces = each(b => arr(tracesByBlock.getOrElse(b, Array.empty[Row])
        .map(encTrace)), "null"),
      stateDiffs = each(encStateDiff, "null"))
  }
}
