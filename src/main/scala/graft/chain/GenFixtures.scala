package graft.chain

import java.math.BigInteger
import java.util.{Random => JRandom}

import graft.functions.{Keccak, U256}
import graft.sources.RpcSource
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic chain-shaped fixture generator (FIXTURES.md family 2).
  *
  * Emulates the RPC responses the reference consumes — full blocks,
  * receipts, logs with raw topic arrays, flat parity-style traces, state
  * diffs, point-lookup account state, eth_call results — so every dataset
  * transform runs offline. Seeded java.util.Random (spec-fixed LCG) ⇒
  * byte-identical output on every run/platform.
  *
  * Planted cases: >2^64 u256 values, type-0/1/2 txs, pre-1559 blocks
  * (null base fee), failed txs, contract creations (root + factory),
  * failed trace subtrees (error at "0" with children to prune), ERC20/721
  * transfer + approval logs, malformed transfer-shaped logs (31-byte
  * data), anonymous logs, control characters in an ERC20 name.
  */
object GenFixtures {
  val ChainId = 1L
  val FirstBlock = 1000
  val NBlocks = 60

  def addr(i: Int): Array[Byte] = Keccak.hash(s"addr$i").take(20)
  def token(i: Int): Array[Byte] = Keccak.hash(s"token$i").take(20)
  val nft: Array[Byte] = Keccak.hash("nft0").take(20)

  def pad32(a: Array[Byte]): Array[Byte] = new Array[Byte](32 - a.length) ++ a
  def u256(v: BigInteger): Array[Byte] = U256.toBytes32(v)
  def u256(v: Long): Array[Byte] = u256(BigInteger.valueOf(v))

  val sigTransfer: Array[Byte] = Keccak.hash("Transfer(address,address,uint256)")
  val sigApproval: Array[Byte] = Keccak.hash("Approval(address,address,uint256)")
  val sigOther: Array[Byte] = Keccak.hash("Other(uint256)")

  // ERC20 selectors (public constants, cryo types/signatures.rs:3-26)
  val selName = Array[Byte](0x06, 0xfd.toByte, 0xde.toByte, 0x03)
  val selSymbol = Array[Byte](0x95.toByte, 0xd8.toByte, 0x9b.toByte, 0x41)
  val selDecimals = Array[Byte](0x31, 0x3c, 0xe5.toByte, 0x67)
  val selTotalSupply = Array[Byte](0x18, 0x16, 0x0d, 0xdd.toByte)
  val selBalanceOf = Array[Byte](0x70, 0xa0.toByte, 0x82.toByte, 0x31)

  /** ABI-encode a single string return value */
  def abiString(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8")
    val padded = b ++ new Array[Byte]((32 - b.length % 32) % 32)
    u256(32L) ++ u256(b.length.toLong) ++ padded
  }

  case class Tx(bn: Int, idx: Int, hash: Array[Byte], from: Array[Byte],
      to: Array[Byte], value: BigInteger, input: Array[Byte], txType: Int,
      gasLimit: Long, gasPrice: java.lang.Long, maxFee: java.lang.Long,
      maxPriority: java.lang.Long, gasUsed: Long, status: Int)

  /** args: [outDir] [nBlocks] — nBlocks scales every table linearly, so
    * `runMain graft.chain.GenFixtures fixtures/chain_sf0.1 6000` emits a
    * bench-scale variant while the default stays the canonical 60-block
    * correctness fixture the oracle SQL reads. */
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else graft.queries.ChainQueries.FixDir
    val nb = if (args.length > 1) args(1).toInt else NBlocks
    val spark = graft.GraftSession()
    generate(spark, out, nb)
    spark.stop()
  }

  def generate(spark: SparkSession, out: String, nBlocks: Int = NBlocks,
      chainId: Long = GenFixtures.ChainId): Unit = {
    val rnd = new JRandom(42)
    val B = BinaryType; val I = IntegerType; val L = LongType

    def f(n: String, t: DataType, nullable: Boolean = true) = StructField(n, t, nullable)
    // r17 (guide §6 file layout): split each table into contiguous,
    // deterministic slices (parallelize preserves row order across the
    // concatenated parts) instead of coalesce(1). A single-file,
    // single-row-group table cannot be split by ANY reader — every
    // fixture scan ran as one task regardless of cores, which
    // under-represents the scan parallelism a real 100 TB lake has
    // (thousands of row groups) and serialized every chain query's
    // decode at bench scale. The split count is deliberately SMALL
    // (≥4k rows per part, capped 4): a 3-arm interleaved A/B
    // (1/4/32 files, identical code and window) showed scan-shaped
    // queries gain from a few splits while the geth full-outer-join
    // family LOSES ~50% at 32 files — M map tasks × R reducers shuffle
    // blocks (guide §2.2) and per-file open cost overtake the decode
    // parallelism on a 13 MB fixture. Row CONTENT is unchanged — same
    // rows, same order, same schema; only the physical file count
    // changes.
    def writeAs(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val k = math.max(1, math.min(4, rows.size / 4000))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, k), schema)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    // a table the live source also fetches takes the live schema, so
    // fixture bronze and live bronze cannot drift apart
    def write(name: String, rows: Seq[Row]): Unit =
      writeAs(name, RpcSource.bronzeSchemas(name), rows)

    // ---- blocks ----
    val blockRows = (0 until nBlocks).map { i =>
      val n = FirstBlock + i
      Row(n, Keccak.hash(s"block$n"), Keccak.hash(s"block${n - 1}"),
        Keccak.hash("uncles"), addr(n % 5), Keccak.hash(s"state$n"),
        Keccak.hash(s"txroot$n"), Keccak.hash(s"rcptroot$n"),
        1000000L + rnd.nextInt(20000000).toLong, 30000000L,
        Keccak.hash(s"extra$n").take(8), new Array[Byte](256),
        1700000000 + 12 * n,
        if (i < 10) 1000000L + rnd.nextInt(1000) else 0L,
        500000L + rnd.nextInt(100000).toLong, Keccak.hash(s"mix$n"),
        Keccak.hash(s"nonce$n").take(8),
        if (i < 10) null else java.lang.Long.valueOf(10000000000L + rnd.nextInt(1000000000)),
        if (i < 10) null else Keccak.hash(s"withdrawals$n"),
        u256(new BigInteger("58750003716598352816469").add(BigInteger.valueOf(n))),
        chainId)
    }
    write("rpc_blocks", blockRows)

    // ---- transactions + receipts ----
    val txs = scala.collection.mutable.ArrayBuffer.empty[Tx]
    (0 until nBlocks).foreach { i =>
      val n = FirstBlock + i
      val nTx = rnd.nextInt(6)
      (0 until nTx).foreach { t =>
        val hash = Keccak.hash(s"tx$n-$t")
        val from = addr(rnd.nextInt(20))
        val isCreate = rnd.nextInt(10) == 0
        val to = if (isCreate) null else addr(rnd.nextInt(20))
        val value = rnd.nextInt(4) match {
          case 0 => BigInteger.ZERO
          case 1 => BigInteger.valueOf(rnd.nextInt(1000000).toLong)
          case 2 => new BigInteger("1000000000000000000").multiply(BigInteger.valueOf(1 + rnd.nextInt(100)))
          case _ => new BigInteger("2").pow(64 + rnd.nextInt(100)) // > u64
        }
        val input: Array[Byte] =
          if (isCreate) Keccak.hash(s"init$n-$t") ++ new Array[Byte](20)
          else rnd.nextInt(3) match {
            case 0 => Array.emptyByteArray
            case 1 => selBalanceOf ++ pad32(addr(rnd.nextInt(20)))
            case _ => selTotalSupply.clone()
          }
        val txType = rnd.nextInt(3)
        val gasPrice = if (txType < 2) java.lang.Long.valueOf(12000000000L + rnd.nextInt(1000000000)) else null
        val maxFee = if (txType == 2) java.lang.Long.valueOf(15000000000L + rnd.nextInt(5000000000L.toInt)) else null
        val maxPriority = if (txType == 2) java.lang.Long.valueOf(1000000000L + rnd.nextInt(1000000000)) else null
        txs += Tx(n, t, hash, from, to, value, input, txType,
          21000L + rnd.nextInt(300000), gasPrice, maxFee, maxPriority,
          21000L + rnd.nextInt(200000), if (rnd.nextInt(10) == 0) 0 else 1)
      }
    }
    write("rpc_transactions", txs.toSeq.map { t =>
        Row(t.bn, t.idx, t.hash, Keccak.hash(s"block${t.bn}"),
          rnd.nextInt(100).toLong, t.from, t.to, u256(t.value), t.input,
          t.gasLimit, t.gasPrice, t.maxFee, t.maxPriority, t.txType,
          Keccak.hash(s"r${t.bn}-${t.idx}"), Keccak.hash(s"s${t.bn}-${t.idx}"),
          rnd.nextBoolean(), 1700000000 + 12 * t.bn, chainId)
      })
    write("rpc_receipts", txs.toSeq.map(t => Row(t.hash, t.gasUsed, t.status)))

    // ---- logs ----
    val logRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    txs.foreach { t =>
      var logIdxBase = t.idx * 4 // per-block log index approximation
      (0 until rnd.nextInt(4)).foreach { j =>
        val kind = rnd.nextInt(20)
        val contract = token(rnd.nextInt(3))
        val a1 = pad32(addr(rnd.nextInt(20)))
        val a2 = pad32(addr(rnd.nextInt(20)))
        val value = u256(rnd.nextInt(4) match {
          case 3 => new BigInteger("2").pow(80).add(BigInteger.valueOf(j))
          case k => BigInteger.valueOf((k + 1) * 1000L + j)
        })
        val (address, topics, data): (Array[Byte], Seq[Array[Byte]], Array[Byte]) =
          if (kind < 8) (contract, Seq(sigTransfer, a1, a2), value)                 // ERC20 Transfer
          else if (kind < 10) (contract, Seq(sigApproval, a1, a2), value)           // ERC20 Approval
          else if (kind < 13) (nft, Seq(sigTransfer, a1, a2, u256(rnd.nextInt(10000).toLong)), Array.emptyByteArray) // ERC721
          else if (kind < 15) (contract, Seq(sigTransfer, a1, a2), value.take(31))  // malformed: 31-byte data
          else if (kind < 18) (contract, Seq(sigOther), value)                      // other event
          else (contract, Seq.empty, value)                                         // anonymous
        logRows += Row(t.bn, t.idx, logIdxBase + j, t.hash,
          Keccak.hash(s"block${t.bn}"), address, topics, data,
          data.length, chainId)
      }
    }
    write("rpc_logs", logRows.toSeq)

    // ---- traces ----
    val traceRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    def trace(t: Tx, path: Seq[Int], typ: String, from: Array[Byte],
        to: Array[Byte], value: BigInteger, callType: String,
        input: Array[Byte], init: Array[Byte], error: String,
        subtraces: Int, createdAddr: Array[Byte], code: Array[Byte],
        rewardType: String = null): Row =
      Row(from, to, value.toString, 50000 + rnd.nextInt(500000),
        input, callType, init, rewardType, typ,
        if (error == null) java.lang.Integer.valueOf(20000 + rnd.nextInt(100000)) else null,
        if (typ == "call" && error == null) Keccak.hash(s"out${t.bn}-${t.idx}-${path.mkString("_")}").take(8) else null,
        code, createdAddr, path.mkString("_"), subtraces, error,
        t.bn, Keccak.hash(s"block${t.bn}"), t.idx, t.hash, chainId)

    txs.zipWithIndex.foreach { case (t, ti) =>
      val root = t.to == null
      if (root) {
        // contract creation at root: deployer = tx sender
        val created = Keccak.hash(s"created${t.bn}-${t.idx}").take(20)
        val code = Keccak.hash(s"code${t.bn}-${t.idx}") ++ Keccak.hash(s"code2${t.bn}-${t.idx}")
        traceRows += trace(t, Seq.empty, "create", t.from, null, t.value,
          null, null, t.input, null, 0, created, code)
      } else {
        val failSubtree = ti % 7 == 3 // plant failed subtrees deterministically
        val nested = ti % 3 == 0
        val sub = (if (nested) 2 else 0)
        traceRows += trace(t, Seq.empty, "call", t.from, t.to, t.value,
          "call", t.input, null, if (t.status == 0) "Reverted" else null, sub, null, null)
        if (nested) {
          traceRows += trace(t, Seq(0), "call", t.to, addr(3), BigInteger.valueOf(500),
            "call", Array.emptyByteArray, null, if (failSubtree) "Out of gas" else null, 2, null, null)
          traceRows += trace(t, Seq(0, 0), "call", addr(3), addr(4),
            BigInteger.ZERO, "delegatecall", selTotalSupply, null, null, 0, null, null)
          traceRows += trace(t, Seq(0, 1), "call", addr(3), addr(5),
            BigInteger.valueOf(7), "staticcall", Array.emptyByteArray, null, null, 0, null, null)
          if (ti % 6 == 0) {
            // factory create inside a call: deployer ≠ factory
            val created = Keccak.hash(s"factory${t.bn}-${t.idx}").take(20)
            traceRows += trace(t, Seq(1), "create", t.to, null,
              BigInteger.ZERO, null, null, Keccak.hash(s"finit${t.bn}").take(40), null, 0,
              created, Keccak.hash(s"fcode${t.bn}"))
          } else if (ti % 6 == 3) {
            traceRows += trace(t, Seq(1), "suicide", addr(6), t.from,
              BigInteger.valueOf(12345), null, null, null, null, 0, null, null)
          }
        }
      }
    }
    // block reward rows (tx-less traces) — author sits in action_from
    // with action_to null (traces.rs Action::Reward stores author in
    // action_from)
    (0 until nBlocks).foreach { i =>
      val n = FirstBlock + i
      traceRows += Row(addr(n % 5), null, "2000000000000000000",
        null, null, null, null, "block", "reward", null, null, null, null,
        "", 0, null, n, Keccak.hash(s"block$n"), null, null, chainId)
    }
    write("rpc_traces", traceRows.toSeq)

    // ---- state diffs ----
    val balRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val nonceRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val codeRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val storRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    txs.foreach { t =>
      val pre = new BigInteger("5000000000000000000")
      balRows += Row(t.bn, t.idx, t.hash, t.from, u256(pre), u256(pre.subtract(t.value.min(pre))), chainId)
      if (t.to != null)
        balRows += Row(t.bn, t.idx, t.hash, t.to, u256(BigInteger.ZERO), u256(t.value), chainId) // Added
      nonceRows += Row(t.bn, t.idx, t.hash, t.from, 5L + t.idx, 6L + t.idx, chainId)
      if (t.to == null) {
        val created = Keccak.hash(s"created${t.bn}-${t.idx}").take(20)
        codeRows += Row(t.bn, t.idx, t.hash, created, Array.emptyByteArray,
          Keccak.hash(s"code${t.bn}-${t.idx}") ++ Keccak.hash(s"code2${t.bn}-${t.idx}"), chainId)
      }
      (0 until rnd.nextInt(3)).foreach { k =>
        val slot = Keccak.hash(s"slot${t.bn}-${t.idx}-$k")
        val (fromV, toV) = rnd.nextInt(3) match {
          case 0 => (BigInteger.ZERO, BigInteger.valueOf(1000 + k))          // Added
          case 1 => (BigInteger.valueOf(2000 + k), BigInteger.ZERO)          // Removed
          case _ => (BigInteger.valueOf(10 + k), BigInteger.valueOf(20 + k)) // Changed
        }
        storRows += Row(t.bn, t.idx, t.hash, token(k % 3), slot, u256(fromV), u256(toV), chainId)
      }
    }
    val diffSchema = StructType(Seq(
      f("block_number", I, false), f("transaction_index", I, false),
      f("transaction_hash", B, false), f("address", B, false),
      f("from_value", B), f("to_value", B), f("chain_id", L, false)))
    writeAs("rpc_balance_diffs", diffSchema, balRows.toSeq)
    writeAs("rpc_nonce_diffs", StructType(Seq(
      f("block_number", I, false), f("transaction_index", I, false),
      f("transaction_hash", B, false), f("address", B, false),
      f("from_value", L), f("to_value", L), f("chain_id", L, false))),
      nonceRows.toSeq)
    writeAs("rpc_code_diffs", diffSchema, codeRows.toSeq)
    writeAs("rpc_storage_diffs", StructType(Seq(
      f("block_number", I, false), f("transaction_index", I, false),
      f("transaction_hash", B, false), f("address", B, false), f("slot", B, false),
      f("from_value", B), f("to_value", B), f("chain_id", L, false))),
      storRows.toSeq)

    // ---- point-lookup account state ----
    val acctRows = for {
      i <- 0 until nBlocks by 10
      a <- 0 until 8
    } yield {
      val n = FirstBlock + i
      Row(n, addr(a), u256(new BigInteger("1000000000000000000").multiply(BigInteger.valueOf(a * 7L + i))),
        (a * 3 + i).toLong, if (a % 4 == 0) Keccak.hash(s"acctcode$a") else Array.emptyByteArray, chainId)
    }
    write("rpc_accounts", acctRows)
    val storageRows = for {
      i <- 0 until nBlocks by 10
      tk <- 0 until 3
      sl <- 0 until 3
    } yield Row(FirstBlock + i, token(tk), Keccak.hash(s"gslot$sl"),
      u256(BigInteger.valueOf(1000L * tk + 10L * sl + i)), chainId)
    write("rpc_storage", storageRows)

    // ---- eth_call results (ERC20 metadata etc.) ----
    val names = Seq("Alpha Token", "BetaToken", "Gamma") // control char scrub case
    val symbols = Seq("ALP", "BET", "GAM")
    val callRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val lastBlock = FirstBlock + nBlocks - 1
    (0 until 3).foreach { i =>
      callRows += Row(lastBlock, token(i), selName.clone(), abiString(names(i)), chainId)
      callRows += Row(lastBlock, token(i), selSymbol.clone(), abiString(symbols(i)), chainId)
      callRows += Row(lastBlock, token(i), selDecimals.clone(), u256(18L), chainId)
      callRows += Row(lastBlock, token(i), selTotalSupply.clone(),
        u256(new BigInteger("1000000000000000000000000").multiply(BigInteger.valueOf(i + 1))), chainId)
      (0 until 4).foreach { a =>
        callRows += Row(lastBlock, token(i), selBalanceOf ++ pad32(addr(a)),
          u256(BigInteger.valueOf(1000L * (a + 1) * (i + 1))), chainId)
      }
    }
    // a reverted call
    callRows += Row(lastBlock, token(0), Array[Byte](0x12, 0x34, 0x56, 0x78), null, chainId)
    write("rpc_calls", callRows.toSeq)

    // ---- geth prestate-tracer diffMode (pre/post account + storage rows) ----
    // fresh RNG so earlier tables stay byte-identical across generator edits
    val grnd = new JRandom(43)
    val gethRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    def acct(t: Tx, phase: String, a: Array[Byte], bal: BigInteger,
        nonce: java.lang.Long, code: Array[Byte]): Row =
      Row(t.bn, t.idx, t.hash, phase, a,
        if (bal == null) null else u256(bal), nonce, code, null, null, chainId)
    def stor(t: Tx, phase: String, a: Array[Byte], slot: Array[Byte], v: BigInteger): Row =
      Row(t.bn, t.idx, t.hash, phase, a, null, null, null, slot, u256(v), chainId)
    txs.foreach { t =>
      val pre = new BigInteger("7000000000000000000")
      gethRows += acct(t, "pre", t.from, pre, 5L + t.idx, null)
      gethRows += acct(t, "post", t.from, pre.subtract(t.value.min(pre)), 6L + t.idx, null)
      if (t.to != null) {
        if (grnd.nextBoolean()) {
          // receiver existed: balance Changed
          gethRows += acct(t, "pre", t.to, BigInteger.valueOf(900), null, null)
          gethRows += acct(t, "post", t.to, BigInteger.valueOf(900).add(t.value.min(pre)), null, null)
        } else {
          // receiver created by transfer: post-only (Added — zero-filled pre)
          gethRows += acct(t, "post", t.to, t.value.min(pre), null, null)
        }
        // callee code read: prestate default-mode includes the called
        // contract's bytecode; identical pre/post → surfaces in code_reads
        // but never in code_diffs. Deterministic from the address and no
        // RNG draws, so every pre-existing row stays byte-identical
        // (append-only fixture discipline).
        val calleeCode =
          Keccak.hash("ccode" + t.to.map("%02x".format(_)).mkString).take(24)
        gethRows += acct(t, "pre", t.to, null, null, calleeCode)
        gethRows += acct(t, "post", t.to, null, null, calleeCode)
      }
      if (grnd.nextInt(5) == 0) {
        // selfdestructed account: pre-only (Removed — zero-filled post)
        gethRows += acct(t, "pre", addr(19), BigInteger.valueOf(1234), 9L, null)
      }
      if (t.to == null) {
        // contract creation: code appears post-only
        val created = Keccak.hash(s"created${t.bn}-${t.idx}").take(20)
        gethRows += acct(t, "post", created, null, null,
          Keccak.hash(s"gcode${t.bn}-${t.idx}"))
      }
      (0 until grnd.nextInt(3)).foreach { k =>
        val slot = Keccak.hash(s"gp${t.bn}-${t.idx}-$k")
        grnd.nextInt(3) match {
          case 0 => // Added: post only
            gethRows += stor(t, "post", token(k % 3), slot, BigInteger.valueOf(500 + k))
          case 1 => // Removed: pre only
            gethRows += stor(t, "pre", token(k % 3), slot, BigInteger.valueOf(600 + k))
          case _ => // Changed
            gethRows += stor(t, "pre", token(k % 3), slot, BigInteger.valueOf(1 + k))
            gethRows += stor(t, "post", token(k % 3), slot, BigInteger.valueOf(100 + k))
        }
      }
    }
    write("rpc_geth_prestate", gethRows.toSeq)

    // ---- opcode-level traces (parity vmTrace / geth struct-log shapes) ----
    val vrnd = new JRandom(44)
    val ops = Seq("PUSH1", "MSTORE", "CALLDATALOAD", "SLOAD", "SSTORE",
      "ADD", "JUMPI", "RETURN")
    val vmRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val opRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    txs.filter(_.idx == 0).foreach { t =>
      var gas = 100000L
      (0 until 8).foreach { step =>
        val op = ops(step % ops.size)
        val cost = 3L + vrnd.nextInt(200)
        gas -= cost
        val isStore = op == "SSTORE"
        vmRows += Row(t.bn, t.idx, step.toLong * 2, cost, 100000L - gas,
          if (op.startsWith("PUSH")) u256(step.toLong) else null,
          if (op == "MSTORE") java.lang.Integer.valueOf(step * 32) else null,
          if (op == "MSTORE") Keccak.hash(s"mem${t.bn}-$step").take(8) else null,
          if (isStore) Keccak.hash(s"vsk${t.bn}-$step") else null,
          if (isStore) u256(step.toLong + 7) else null,
          op, chainId)
        opRows += Row(t.bn, t.idx, step.toLong * 2, op, gas, cost, 1,
          s"mem$step", s"stack$step", if (isStore) s"storage$step" else null,
          chainId)
      }
    }
    write("rpc_vm_traces", vmRows.toSeq)
    write("rpc_geth_opcodes", opRows.toSeq)

    // ---- geth callTracer frames (flattened CallFrame tree) ----
    val gcRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    txs.filter(t => t.idx <= 1 && t.to != null).foreach { t =>
      gcRows += Row(t.bn, t.idx, t.from, t.to, u256(t.value),
        t.gasLimit, t.gasUsed, t.input,
        Keccak.hash(s"gout${t.bn}-${t.idx}").take(8), "CALL",
        if (t.status == 0) "execution reverted" else null, 0, chainId)
      if (vrnd.nextBoolean())
        gcRows += Row(t.bn, t.idx, t.to, addr(7), u256(0L),
          50000L, 21000L, selTotalSupply.clone(), u256(42L), "STATICCALL",
          null, 1, chainId)
    }
    write("rpc_geth_calls", gcRows.toSeq)

    // ---- user JS-tracer outputs (opaque JSON strings) ----
    val jsRows = txs.filter(_.idx == 0).map { t =>
      Row(t.bn, t.idx, t.hash,
        s"""{"gasUsed": ${t.gasUsed}, "reverted": ${t.status == 0}, "steps": ${4 + t.bn % 7}}""",
        chainId)
    }
    write("rpc_js_traces", jsRows.toSeq)

    // ---- simulated call trees (trace_call results) ----
    val tcRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    (0 until 3).foreach { i =>
      val cd = selBalanceOf ++ pad32(addr(i))
      tcRows += Row(lastBlock, token(i), cd, addr(0), token(i), "0", 90000,
        cd, "call", "", 1, null, chainId)
      tcRows += Row(lastBlock, token(i), cd, token(i), addr(8), "0", 40000,
        Array.emptyByteArray, "staticcall", "0", 0, null, chainId)
    }
    write("rpc_trace_calls", tcRows.toSeq)

    // ---- erc721 metadata calls (separate from rpc_calls so erc20_metadata
    //      results stay unchanged) ----
    val nftCalls = Seq(
      Row(lastBlock, nft, selName.clone(), abiString("Punk Apes"), chainId),
      Row(lastBlock, nft, selSymbol.clone(), abiString("PUNKAPE"), chainId))
    writeAs("rpc_calls_erc721", RpcSource.callsSchema, nftCalls)
  }
}
