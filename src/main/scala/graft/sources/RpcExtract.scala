package graft.sources

import java.math.BigInteger

import org.apache.spark.sql.Row
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pure JSON-RPC response → bronze-row parsers for the extract phase of
  * every major dataset family — the offline-testable half of live
  * extraction (no egress in CI: request builders + these parsers are
  * unit-tested against canned node responses; the HTTP loop in RpcSource
  * composes them unchanged).
  *
  * Shapes mirror the reference's per-dataset extract/transform pairs:
  * transactions (cryo datasets/transactions.rs:124-135 block-with-txs +
  * receipt zip), traces (datasets/traces.rs trace_block), eth_call
  * batches (datasets/eth_calls.rs), geth prestate/call/opcode tracers
  * (datasets/geth_state_diffs.rs, geth_calls.rs, geth_opcodes.rs).
  * Output rows land in the exact rpc_* bronze schemas the ChainDatasets
  * transforms consume, so live extraction and fixtures share one path.
  */
object RpcExtract {

  private def jstr(v: JValue, k: String): String = (v \ k) match {
    case JString(s) => s; case _ => null
  }
  private def hexB(v: JValue, k: String): Array[Byte] =
    RpcCodec.parseHexBytes(jstr(v, k))
  private def jlong(v: JValue, k: String): Option[Long] = (v \ k) match {
    case JInt(n) => Some(n.toLong)
    case JString(s) => Some(RpcCodec.parseHexLong(s))
    case _ => None
  }
  private def boxL(o: Option[Long]): java.lang.Long =
    o.map(java.lang.Long.valueOf).orNull
  /** hex quantity → decimal string; bare "0x" is zero (the same client
    * quirk RpcCodec.parseHexU256 guards — BigInteger("", 16) throws) */
  private def hexQuantityToDecimal(v: String): String = {
    val h = v.stripPrefix("0x")
    if (h.isEmpty) "0" else new BigInteger(h, 16).toString
  }

  private def boxI(o: Option[Long]): java.lang.Integer =
    o.map(n => java.lang.Integer.valueOf(n.toInt)).orNull

  /** parity `traceAddress` array → the bronze's `_`-joined string —
    * shared by trace_block and trace_call parsing */
  private def traceAddr(t: JValue): String = (t \ "traceAddress") match {
    case JArray(xs) => xs.collect { case JInt(i) => i }.mkString("_")
    case _ => ""
  }

  /** rpc_blocks row from one eth_getBlockByNumber response — header
    * fields only; a fullTxs=true response parses identically (the
    * transactions array is simply not read), which is what lets ONE
    * full-block pass serve both the blocks and transactions bronzes
    * (cryo multi_datasets/blocks_and_transactions.rs:7-72). */
  def blockHeader(body: String, chainId: Long): Row = {
    val b = JsonMethods.parse(body) \ "result"
    // a null result with NO error member (a pruned/unknown block on
    // some providers) must fail, not fabricate Row(0, null, …) into the
    // non-nullable bronze schema (error members throw upstream in
    // fetchPerBlockRaw)
    b match {
      case _: JObject => ()
      case _ => throw new RuntimeException(
        s"eth_getBlockByNumber returned no block: ${body.take(200)}")
    }
    def str(k: String): String = jstr(b, k)
    Row(
      RpcCodec.parseHexLong(str("number")).toInt,
      RpcCodec.parseHexBytes(str("hash")),
      RpcCodec.parseHexBytes(str("parentHash")),
      RpcCodec.parseHexBytes(str("sha3Uncles")),
      RpcCodec.parseHexBytes(str("miner")),
      RpcCodec.parseHexBytes(str("stateRoot")),
      RpcCodec.parseHexBytes(str("transactionsRoot")),
      RpcCodec.parseHexBytes(str("receiptsRoot")),
      RpcCodec.parseHexLong(str("gasUsed")),
      RpcCodec.parseHexLong(str("gasLimit")),
      RpcCodec.parseHexBytes(str("extraData")),
      RpcCodec.parseHexBytes(str("logsBloom")),
      RpcCodec.parseHexLong(str("timestamp")).toInt,
      RpcCodec.parseHexLong(str("difficulty")),
      RpcCodec.parseHexLong(str("size")),
      RpcCodec.parseHexBytes(str("mixHash")),
      RpcCodec.parseHexBytes(str("nonce")),
      Option(str("baseFeePerGas")).map(s => java.lang.Long.valueOf(RpcCodec.parseHexLong(s))).orNull,
      RpcCodec.parseHexBytes(str("withdrawalsRoot")),
      Option(str("totalDifficulty")).map(RpcCodec.parseHexU256).orNull,
      chainId)
  }

  /** rpc_transactions rows from one eth_getBlockByNumber(fullTxs=true)
    * response (transactions.rs:124-130). */
  def blockTransactions(body: String, chainId: Long): Seq[Row] = {
    val res = JsonMethods.parse(body) \ "result"
    val bn = jlong(res, "number").getOrElse(0L).toInt
    val ts = jlong(res, "timestamp").getOrElse(0L).toInt
    val blockHash = hexB(res, "hash")
    (res \ "transactions") match {
      case JArray(txs) => txs.map { t =>
        Row(bn,
          jlong(t, "transactionIndex").getOrElse(0L).toInt,
          hexB(t, "hash"), blockHash,
          jlong(t, "nonce").getOrElse(0L),
          hexB(t, "from"), hexB(t, "to"),
          Option(jstr(t, "value")).map(RpcCodec.parseHexU256).orNull,
          hexB(t, "input"),
          jlong(t, "gas").getOrElse(0L),
          boxL(jlong(t, "gasPrice")),
          boxL(jlong(t, "maxFeePerGas")),
          boxL(jlong(t, "maxPriorityFeePerGas")),
          jlong(t, "type").getOrElse(0L).toInt,
          hexB(t, "r"), hexB(t, "s"),
          // v is the NORMALIZED y-parity like the reference (alloy
          // Signature::v()): typed txs carry it raw (0/1), pre-155
          // legacy encodes it as 27/28, EIP-155 as 35+2*chainId+parity
          // — a raw v%2 flipped the meaning between encodings (27 is
          // parity 0 but odd)
          jlong(t, "v").map { v =>
            val parity =
              if (v >= 35) (v - 35) % 2 == 1
              else if (v >= 27) v == 28
              else v == 1
            java.lang.Boolean.valueOf(parity)
          }.orNull,
          ts, chainId)
      }
      case _ => Nil
    }
  }

  /** rpc_receipts rows from one eth_getBlockReceipts response
    * (transactions.rs:131-135 receipt phase). */
  def blockReceipts(body: String): Seq[Row] =
    (JsonMethods.parse(body) \ "result") match {
      case JArray(rs) => rs.map { r =>
        Row(hexB(r, "transactionHash"),
          jlong(r, "gasUsed").getOrElse(0L),
          // pre-Byzantium receipts carry "root" instead of "status":
          // the honest value is NULL (unknown), not a fabricated
          // success=1 that marks historical failed txs as succeeded
          boxI(jlong(r, "status")))
      }
      case _ => Nil
    }

  /** tx hash strings from one eth_getBlockByNumber(fullTxs=false)
    * response — the hash source for the per-tx receipt fallback
    * (cryo types/sources.rs:80-92 fetches the block's hashes the same
    * way before fanning out eth_getTransactionReceipt). */
  def blockTxHashes(body: String): Seq[String] =
    (JsonMethods.parse(body) \ "result" \ "transactions") match {
      case JArray(ts) => ts.collect {
        case JString(h) => h
        case t: JObject => jstr(t, "hash") // fullTxs=true responses work too
      }.filter(_ != null)
      case _ => Nil
    }

  /** one rpc_receipts row from an eth_getTransactionReceipt response —
    * the per-tx fallback codec (sources.rs:66-107); shape identical to a
    * blockReceipts element so degraded mode yields the same bronze. */
  def transactionReceipt(body: String): Option[Row] =
    (JsonMethods.parse(body) \ "result") match {
      case r: JObject => Some(Row(hexB(r, "transactionHash"),
        jlong(r, "gasUsed").getOrElse(0L),
        boxI(jlong(r, "status")))) // pre-Byzantium: null, see blockReceipts
      case _ => None
    }

  /** rpc_traces rows from one trace_block response (traces.rs:45-90):
    * flat parity traces with `_`-joined trace addresses, decimal-string
    * values, and reward authors folded into action_from. */
  def traceBlock(body: String, chainId: Long): Seq[Row] =
    (JsonMethods.parse(body) \ "result") match {
      case JArray(ts) => ts.map { t =>
        val action = t \ "action"
        val result = t \ "result"
        val typ = jstr(t, "type")
        val ta = traceAddr(t)
        Row(
          // selfdestruct actions carry {address, refundAddress, balance}
          // instead of {from, to, value} — the reference folds them to
          // (from, to, value); reward actions carry {author, rewardType,
          // value} and fold author→action_from with action_to left null
          // (traces.rs:176-196 Action::Reward stores author in
          // action_from) — without the folds SELFDESTRUCTs lost their
          // addresses/balance and rewards their author on the live path
          typ match {
            case "suicide" => hexB(action, "address")
            case "reward" => hexB(action, "author")
            case _ => hexB(action, "from")
          },
          typ match {
            case "reward" => null
            case "suicide" => hexB(action, "refundAddress")
            case _ => hexB(action, "to")
          },
          Option(jstr(action,
              if (typ == "suicide") "balance" else "value"))
            .map(hexQuantityToDecimal).orNull,
          boxI(jlong(action, "gas")),
          hexB(action, "input"),
          jstr(action, "callType"),
          hexB(action, "init"),
          jstr(action, "rewardType"),
          typ,
          boxI(jlong(result, "gasUsed")),
          hexB(result, "output"),
          hexB(result, "code"),
          hexB(result, "address"),
          ta,
          jlong(t, "subtraces").getOrElse(0L).toInt,
          jstr(t, "error"),
          jlong(t, "blockNumber").getOrElse(0L).toInt,
          hexB(t, "blockHash"),
          boxI(jlong(t, "transactionPosition")),
          hexB(t, "transactionHash"),
          chainId)
      }
      case _ => Nil
    }

  /** one rpc_calls row from an eth_call response (the request's
    * block/contract/calldata travel alongside — eth_calls.rs:48-63). */
  def ethCallRow(blockNumber: Int, contract: Array[Byte],
      callData: Array[Byte], body: String, chainId: Long): Row = {
    val out = (JsonMethods.parse(body) \ "result") match {
      case JString(s) => RpcCodec.parseHexBytes(s)
      case _ => null
    }
    Row(blockNumber, contract, callData, out, chainId)
  }

  /** rpc_geth_prestate rows from one debug_traceBlockByNumber
    * prestateTracer(diffMode) response (geth_state_diffs.rs:36-112):
    * per tx × phase × address one account row (balance/nonce/code) plus
    * one row per touched storage slot. */
  def gethPrestateBlock(body: String, blockNumber: Int,
      chainId: Long): Seq[Row] = {
    val results = (JsonMethods.parse(body) \ "result") match {
      case JArray(xs) => xs; case _ => Nil
    }
    results.zipWithIndex.flatMap { case (txr, idx) =>
      val txHash = hexB(txr, "txHash")
      val res = txr \ "result"
      Seq("pre", "post").flatMap { phase =>
        (res \ phase) match {
          case JObject(accounts) => accounts.flatMap { case (addrHex, acct) =>
            val address = RpcCodec.parseHexBytes(addrHex)
            val bal = Option(jstr(acct, "balance")).map(RpcCodec.parseHexU256).orNull
            val nonce = boxL(jlong(acct, "nonce"))
            val code = hexB(acct, "code")
            val acctRow =
              if (bal != null || nonce != null || code != null)
                Seq(Row(blockNumber, idx, txHash, phase, address,
                  bal, nonce, code, null, null, chainId))
              else Nil
            val storRows = (acct \ "storage") match {
              case JObject(slots) => slots.map { case (slotHex, v) =>
                Row(blockNumber, idx, txHash, phase, address,
                  null, null, null, RpcCodec.parseHexU256(slotHex),
                  (v match {
                    case JString(s) => RpcCodec.parseHexU256(s)
                    case _ => null
                  }), chainId)
              }
              case _ => Nil
            }
            acctRow ++ storRows
          }
          case _ => Nil
        }
      }
    }
  }

  /** rpc_geth_calls rows from one debug_traceBlockByNumber callTracer
    * response: the nested CallFrame tree flattened depth-first
    * (geth_calls.rs:33-84). The frame `type` is stored RAW — geth
    * reports "CALL"/"STATICCALL"/… uppercase and the reference keeps
    * `trace.typ` verbatim (geth_calls.rs:88 `store! typ`); lowercasing
    * here would diverge from a fixture-path collection (caught by the
    * DifferentialSpec sweep). A tx entry whose `result` is missing
    * (geth returns {txHash, error} with NO frame when a trace fails)
    * contributes zero rows instead of a fabricated null frame; the
    * entry stays in the array so later txs keep their positional
    * index. */
  def gethCallFrames(body: String, blockNumber: Int,
      chainId: Long): Seq[Row] = {
    def flatten(frame: JValue, txIdx: Int, depth: Int): Seq[Row] = {
      val row = Row(blockNumber, txIdx,
        hexB(frame, "from"), hexB(frame, "to"),
        Option(jstr(frame, "value")).map(RpcCodec.parseHexU256).orNull,
        jlong(frame, "gas").getOrElse(0L),
        jlong(frame, "gasUsed").getOrElse(0L),
        hexB(frame, "input"), hexB(frame, "output"),
        jstr(frame, "type"),
        jstr(frame, "error"), depth, chainId)
      val children = (frame \ "calls") match {
        case JArray(cs) => cs.flatMap(flatten(_, txIdx, depth + 1))
        case _ => Nil
      }
      row +: children
    }
    (JsonMethods.parse(body) \ "result") match {
      case JArray(txs) => txs.zipWithIndex.flatMap { case (t, i) =>
        (t \ "result") match {
          case frame: JObject if (frame \ "from") != JNothing =>
            flatten(frame, i, 0)
          case _ => Nil
        }
      }
      case _ => Nil
    }
  }

  /** the four rpc_*_diffs bronze row sets parsed from one
    * trace_replayBlockTransactions(stateDiff) response. */
  case class StateDiffRows(balances: Seq[Row], codes: Seq[Row],
      nonces: Seq[Row], storage: Seq[Row])

  private val zero32 = new Array[Byte](32)

  /** Parity stateDiff → the four diff families in one pass
    * (multi_datasets/state_diffs.rs:8-75). Delta mapping follows
    * balance_diffs.rs:85-91: "=" unchanged → skip, "+" added → (0, v),
    * "-" removed → (v, 0), "*" changed → (from, to); an added-but-empty
    * code entry is skipped (code_diffs.rs:87-92). */
  def stateDiffBlock(body: String, blockNumber: Int,
      chainId: Long): StateDiffRows = {
    val results = (JsonMethods.parse(body) \ "result") match {
      case JArray(xs) => xs; case _ => Nil
    }
    val bal = Seq.newBuilder[Row]; val cod = Seq.newBuilder[Row]
    val non = Seq.newBuilder[Row]; val sto = Seq.newBuilder[Row]
    // one delta object has exactly one key: "+", "-", or "*"
    def delta(v: JValue): Option[(JValue, JValue)] = v match {
      case JObject(List((k, value))) => k match {
        case "+" => Some((JNothing, value))
        case "-" => Some((value, JNothing))
        case "*" => Some((value \ "from", value \ "to"))
        case _ => None
      }
      case _ => None // JString("=") unchanged
    }
    def str(v: JValue): String = v match {
      case JString(s) => s; case _ => null
    }
    def u256(v: JValue): Array[Byte] =
      Option(str(v)).map(RpcCodec.parseHexU256).getOrElse(zero32)
    def hexLong(v: JValue): Long =
      Option(str(v)).map(RpcCodec.parseHexLong).getOrElse(0L)
    def bytes(v: JValue): Array[Byte] =
      Option(str(v)).map(RpcCodec.parseHexBytes).getOrElse(Array.empty[Byte])
    results.zipWithIndex.foreach { case (tx, txIdx) =>
      val txHash = hexB(tx, "transactionHash")
      (tx \ "stateDiff") match {
        case JObject(addrs) => addrs.foreach { case (addrHex, d) =>
          val addr = RpcCodec.parseHexBytes(addrHex)
          delta(d \ "balance").foreach { case (f, t) =>
            bal += Row(blockNumber, txIdx, txHash, addr, u256(f), u256(t), chainId)
          }
          delta(d \ "nonce").foreach { case (f, t) =>
            non += Row(blockNumber, txIdx, txHash, addr, hexLong(f), hexLong(t), chainId)
          }
          delta(d \ "code").foreach { case (f, t) =>
            val added = f == JNothing
            if (!(added && bytes(t).isEmpty))
              cod += Row(blockNumber, txIdx, txHash, addr, bytes(f), bytes(t), chainId)
          }
          (d \ "storage") match {
            case JObject(slots) => slots.foreach { case (slotHex, sd) =>
              delta(sd).foreach { case (f, t) =>
                sto += Row(blockNumber, txIdx, txHash, addr,
                  RpcCodec.parseHexU256(slotHex), u256(f), u256(t), chainId)
              }
            }
            case _ => ()
          }
        }
        case _ => ()
      }
    }
    StateDiffRows(bal.result(), cod.result(), non.result(), sto.result())
  }

  /** A struct log's memory/stack/storage capture as compact JSON text
    * (the array or object the tracer returned, stored as
    * javascript_traces stores tracer output); null when the log carries
    * none, as it does unless the capture was requested. */
  private def capture(l: JValue, key: String): String = (l \ key) match {
    case JNothing | JNull => null
    case v => JsonMethods.compact(JsonMethods.render(v))
  }

  private def structLogRow(l: JValue, blockNumber: Int, txIndex: Int,
      chainId: Long): Row =
    Row(blockNumber, txIndex,
      jlong(l, "pc").getOrElse(0L),
      jstr(l, "op"),
      jlong(l, "gas").getOrElse(0L),
      jlong(l, "gasCost").getOrElse(0L),
      boxI(jlong(l, "depth")),
      capture(l, "memory"), capture(l, "stack"), capture(l, "storage"),
      chainId)

  /** rpc_geth_opcodes rows from one debug_traceTransaction default
    * struct-log response (geth_opcodes.rs:43-78). */
  def gethOpcodes(body: String, blockNumber: Int, txIndex: Int,
      chainId: Long): Seq[Row] =
    (JsonMethods.parse(body) \ "result" \ "structLogs") match {
      case JArray(ls) => ls.map(structLogRow(_, blockNumber, txIndex, chainId))
      case _ => Nil
    }

  /** rpc_geth_opcodes rows for a whole block: debug_traceBlockByNumber
    * default tracer returns one struct-log result per tx (in tx order;
    * newer geth wraps each in {txHash, result}). */
  def gethOpcodesBlock(body: String, blockNumber: Int,
      chainId: Long): Seq[Row] =
    (JsonMethods.parse(body) \ "result") match {
      case JArray(txs) => txs.zipWithIndex.flatMap { case (t, i) =>
        val inner = (t \ "result") match {
          case JNothing => t
          case r => r
        }
        (inner \ "structLogs") match {
          case JArray(ls) => ls.map(structLogRow(_, blockNumber, i, chainId))
          case _ => Nil
        }
      }
      case _ => Nil
    }

  /** rpc_js_traces rows: debug_traceBlockByNumber with a custom JS
    * tracer — each tx's tracer output is kept as its JSON text
    * (javascript_traces.rs: the tracer defines the shape, we store it
    * opaque). */
  def jsTraceBlock(body: String, blockNumber: Int, chainId: Long): Seq[Row] =
    (JsonMethods.parse(body) \ "result") match {
      case JArray(txs) => txs.zipWithIndex.flatMap { case (t, i) =>
        // a {txHash, error} entry with no tracer result (geth reports
        // per-tx trace failures exactly this way: an object holding only
        // txHash and/or error) yields no row; the entry still occupies
        // its array slot so positions stay aligned. The shape test is
        // FIELD-SET based, not txHash-presence based: legacy nodes
        // return the bare tracer output per tx, and a custom tracer
        // legitimately echoes a txHash key alongside its payload — a
        // NONEMPTY object with no fields beyond {txHash, error} is
        // geth's failure/skip shape (a bare {txHash} is a skipped tx,
        // not tracer output). A tracer whose entire output is literally
        // {txHash, error} is indistinguishable and dropped; every
        // payload-carrying output survives, as does a literal {} (a
        // legacy tracer that returned the empty object).
        val wrappedShape = t match {
          case JObject(fields) => fields.nonEmpty && fields.forall(f =>
            f._1 == "txHash" || f._1 == "result" || f._1 == "error")
          case _ => false
        }
        (if (wrappedShape) t \ "result" else JNothing) match {
          case JNull =>
            // the result FIELD IS PRESENT and explicitly null: the
            // tracer ran and returned null. The reference serializes
            // every entry's value verbatim (javascript_traces.rs:
            // process_javascript_traces — value.to_string(), one row
            // per tx), so this row survives with output "null".
            Some(Row(blockNumber, i, hexB(t, "txHash"), "null", chainId))
          case JNothing =>
            val failureShape = t match {
              case JObject(fields) =>
                fields.nonEmpty &&
                  fields.forall(f => f._1 == "error" || f._1 == "txHash")
              case _ => false
            }
            if (failureShape || t == JNothing || t == JNull) None
            else // legacy nodes: the bare tracer output per tx
              Some(Row(blockNumber, i, hexB(t, "txHash"),
                JsonMethods.compact(JsonMethods.render(t)), chainId))
          case r =>
            Some(Row(blockNumber, i, hexB(t, "txHash"),
              JsonMethods.compact(JsonMethods.render(r)), chainId))
        }
      }
      case _ => Nil
    }

  /** rpc_vm_traces rows from trace_replayBlockTransactions(vmTrace):
    * recursive ops flatten (vm_traces.rs:84-132 add_ops — sub-call
    * vmTraces inline depth-first after their caller opcode; push words
    * concatenate big-endian like ex.push.to_vec_u8()). */
  def vmTraceBlock(body: String, blockNumber: Int,
      chainId: Long): Seq[Row] = {
    val out = Seq.newBuilder[Row]
    def addOps(vt: JValue, txIdx: Int): Unit = (vt \ "ops") match {
      case JArray(ops) => ops.foreach { o =>
        val ex = o \ "ex"
        val mem = ex \ "mem"
        val store = ex \ "store"
        val push = (ex \ "push") match {
          case JArray(ws) =>
            val bs = ws.collect { case JString(w) => RpcCodec.parseHexU256(w) }
            if (bs.isEmpty) null else bs.reduce(_ ++ _)
          case _ => null
        }
        out += Row(blockNumber, txIdx,
          jlong(o, "pc").getOrElse(0L),
          jlong(o, "cost").getOrElse(0L),
          boxL(jlong(ex, "used")),
          push,
          boxI(jlong(mem, "off")),
          Option(jstr(mem, "data")).map(RpcCodec.parseHexBytes).orNull,
          Option(jstr(store, "key")).map(RpcCodec.parseHexU256).orNull,
          Option(jstr(store, "val")).map(RpcCodec.parseHexU256).orNull,
          jstr(o, "op"),
          chainId)
        (o \ "sub") match {
          case s: JObject => addOps(s, txIdx)
          case _ => ()
        }
      }
      case _ => ()
    }
    (JsonMethods.parse(body) \ "result") match {
      case JArray(txs) => txs.zipWithIndex.foreach { case (t, i) =>
        (t \ "vmTrace") match {
          case v: JObject => addOps(v, i)
          case _ => ()
        }
      }
      case _ => ()
    }
    out.result()
  }

  /** rpc_trace_calls rows from one trace_call response: the simulated
    * call's trace tree tagged with the (contract, calldata) request
    * context (trace_calls.rs extract/transform). */
  def traceCallRows(body: String, blockNumber: Int, contract: Array[Byte],
      callData: Array[Byte], chainId: Long): Seq[Row] =
    (JsonMethods.parse(body) \ "result" \ "trace") match {
      case JArray(ts) => ts.map { t =>
        val action = t \ "action"
        val ta = traceAddr(t)
        Row(blockNumber, contract, callData,
          hexB(action, "from"),
          hexB(action, "to"),
          Option(jstr(action, "value"))
            .map(hexQuantityToDecimal).orNull,
          boxI(jlong(action, "gas")),
          hexB(action, "input"),
          jstr(t, "type"),
          ta,
          jlong(t, "subtraces").getOrElse(0L).toInt,
          jstr(t, "error"),
          chainId)
      }
      case _ => Nil
    }
}
