package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import graft.chain.BlockSyntax
import graft.sources.{RpcConfig, RpcSource, TokenBucket}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Loop-level tests for the composed live-RPC fetch paths: a stub
  * JSON-RPC node on 127.0.0.1 (JDK HttpServer — zero egress) serves a
  * deterministic 4-block chain, and each fetch* loop is driven
  * end-to-end through Spark mapPartitions → HTTP → parser → bronze
  * DataFrame. The stub also counts HTTP round trips, proving
  * inner_request_size batching (cryo sources.rs:110).
  */
class RpcLoopSpec extends AnyFunSuite {
  import SparkTestSession._

  private def h64(n: Long): String = "0x" + "%064x".format(n)
  private def h40(n: Long): String = "0x" + "%040x".format(n)

  /** canned result JSON for one request, by method */
  private def result(method: String, params: JValue): String = {
    def p(i: Int): JValue = params match {
      case JArray(xs) if xs.size > i => xs(i); case _ => JNothing
    }
    def hexParam(i: Int): Long = p(i) match {
      case JString(s) => java.lang.Long.parseLong(s.stripPrefix("0x"), 16)
      case _ => 0L
    }
    method match {
      case "eth_getBlockByNumber" =>
        val bn = hexParam(0)
        val fullTxs = p(1) == JBool(true)
        val txs =
          if (!fullTxs) // hashes only — what the receipt fallback reads
            (0 until 2).map(i => s""""${h64(bn * 10 + i)}"""").mkString("[", ",", "]")
          else (0 until 2).map { i =>
            s"""{"transactionIndex":"0x$i","hash":"${h64(bn * 10 + i)}",
               |"nonce":"0x1","from":"${h40(bn)}","to":"${h40(bn + 1)}",
               |"value":"0xde0b6b3a7640000","input":"0x","gas":"0x5208",
               |"gasPrice":"0x3b9aca00","type":"0x0","r":"0x1","s":"0x2",
               |"v":"0x1b"}""".stripMargin.replace("\n", "")
          }.mkString("[", ",", "]")
        s"""{"number":"0x${bn.toHexString}","hash":"${h64(bn)}",
           |"parentHash":"${h64(bn - 1)}","miner":"${h40(99)}",
           |"gasUsed":"0xa410","gasLimit":"0x1c9c380","extraData":"0x",
           |"timestamp":"0x${(1700000000L + bn * 12).toHexString}",
           |"difficulty":"0x0","size":"0x220","nonce":"0x0000000000000000",
           |"baseFeePerGas":"0x3b9aca00",
           |"transactions":$txs}""".stripMargin.replace("\n", "")
      case "eth_getBlockReceipts" =>
        val bn = hexParam(0)
        (0 until 2).map { i =>
          s"""{"transactionHash":"${h64(bn * 10 + i)}","gasUsed":"0x5208","status":"0x1"}"""
        }.mkString("[", ",", "]")
      case "eth_getTransactionReceipt" =>
        val h = p(0) match { case JString(s) => s; case _ => "0x0" }
        s"""{"transactionHash":"$h","gasUsed":"0x5208","status":"0x1"}"""
      case "trace_block" =>
        val bn = hexParam(0)
        (0 until 2).map { i =>
          s"""{"action":{"from":"${h40(bn)}","to":"${h40(bn + 1)}",
             |"value":"0x1","gas":"0x5208","input":"0x","callType":"call"},
             |"result":{"gasUsed":"0x5208","output":"0x"},
             |"traceAddress":[],"subtraces":0,"type":"call",
             |"blockNumber":$bn,"blockHash":"${h64(bn)}",
             |"transactionPosition":$i,
             |"transactionHash":"${h64(bn * 10 + i)}"}""".stripMargin.replace("\n", "")
        }.mkString("[", ",", "]")
      case "debug_traceBlockByNumber" =>
        val bn = hexParam(0)
        val tracer = (p(1) \ "tracer") match {
          case JString(t) => t; case _ => ""
        }
        if (tracer == "")
          // default tracer: struct logs per tx
          (0 until 2).map { i =>
            s"""{"txHash":"${h64(bn * 10 + i)}","result":{"structLogs":[
               |{"pc":0,"op":"PUSH1","gas":21000,"gasCost":3,"depth":1},
               |{"pc":2,"op":"SSTORE","gas":20997,"gasCost":20000,"depth":1}
               |]}}""".stripMargin.replace("\n", "")
          }.mkString("[", ",", "]")
        else if (tracer.startsWith("{")) // custom JS tracer source
          (0 until 2).map { i =>
            s"""{"txHash":"${h64(bn * 10 + i)}","result":{"myCount":${bn + i}}}"""
          }.mkString("[", ",", "]")
        else if (tracer == "callTracer")
          (0 until 2).map { i =>
            s"""{"txHash":"${h64(bn * 10 + i)}","result":{
               |"from":"${h40(bn)}","to":"${h40(bn + 1)}","value":"0x1",
               |"gas":"0x5208","gasUsed":"0x5208","input":"0x","output":"0x",
               |"type":"CALL","calls":[{"from":"${h40(bn + 1)}",
               |"to":"${h40(bn + 2)}","gas":"0x100","gasUsed":"0x100",
               |"input":"0x","type":"STATICCALL"}]}}""".stripMargin.replace("\n", "")
          }.mkString("[", ",", "]")
        else // prestateTracer diffMode
          (0 until 2).map { i =>
            s"""{"txHash":"${h64(bn * 10 + i)}","result":{
               |"pre":{"${h40(bn)}":{"balance":"0x100","nonce":1}},
               |"post":{"${h40(bn)}":{"balance":"0xff","nonce":2}}}}"""
              .stripMargin.replace("\n", "")
          }.mkString("[", ",", "]")
      case "trace_replayBlockTransactions" if (p(1) match {
        case JArray(List(JString("vmTrace"))) => true; case _ => false
      }) =>
        val bn = hexParam(0)
        (0 until 2).map { i =>
          s"""{"transactionHash":"${h64(bn * 10 + i)}","vmTrace":{"ops":[
             |{"pc":0,"cost":3,"op":"PUSH1",
             | "ex":{"used":20997,"push":["${h64(7)}"]}},
             |{"pc":2,"cost":20000,"op":"SSTORE",
             | "ex":{"used":997,"push":[],
             |  "store":{"key":"${h64(1)}","val":"${h64(9)}"},
             |  "mem":{"off":64,"data":"0xdeadbeef"}},
             | "sub":{"ops":[{"pc":0,"cost":3,"op":"STOP","ex":{"used":1,"push":[]}}]}}
             |]}}""".stripMargin.replace("\n", "")
        }.mkString("[", ",", "]")
      case "trace_call" =>
        s"""{"trace":[{"action":{"from":"${h40(1)}","to":"${h40(2)}",
           |"value":"0x0","gas":"0x5208","input":"0x18160ddd",
           |"callType":"call"},"traceAddress":[],"subtraces":1,
           |"type":"call"},
           |{"action":{"from":"${h40(2)}","to":"${h40(3)}","value":"0x1",
           |"gas":"0x100","input":"0x","callType":"staticcall"},
           |"traceAddress":[0],"subtraces":0,"type":"call"}]}"""
          .stripMargin.replace("\n", "")
      case "eth_getBalance" => s""""0x1bc16d674ec80000""""
      case "eth_getTransactionCount" => s""""0x2a""""
      case "eth_getCode" => s""""0x6080604052""""
      case "eth_getStorageAt" => s""""${h64(321)}""""
      case "trace_replayBlockTransactions" =>
        val bn = hexParam(0)
        (0 until 2).map { i =>
          s"""{"transactionHash":"${h64(bn * 10 + i)}","stateDiff":{
             |"${h40(bn)}":{
             |  "balance":{"*":{"from":"0x100","to":"0xff"}},
             |  "nonce":{"*":{"from":"0x1","to":"0x2"}},
             |  "code":"=",
             |  "storage":{"${h64(7)}":{"+":"${h64(42)}"}}},
             |"${h40(bn + 1)}":{
             |  "balance":{"+":"0x5"},
             |  "nonce":"=",
             |  "code":{"+":"0x6080"},
             |  "storage":{}}}}""".stripMargin.replace("\n", "")
        }.mkString("[", ",", "]")
      case "eth_call" =>
        s""""${h64(1234)}""""
      case "eth_chainId" => "\"0x1\""
      case "eth_blockNumber" => "\"0x13\""
      case "eth_getLogs" =>
        // echo the filter back: one log per block in range carrying the
        // requested topic0 (or a default) — proves server-side pushdown
        val filt = p(0)
        val from = (filt \ "fromBlock") match {
          case JString(s) => java.lang.Long.parseLong(s.stripPrefix("0x"), 16)
          case _ => 0L
        }
        val to = (filt \ "toBlock") match {
          case JString(s) => java.lang.Long.parseLong(s.stripPrefix("0x"), 16)
          case _ => from
        }
        val t0 = (filt \ "topics") match {
          case JArray(JString(t) :: _) => t
          case _ => h64(0xaaaa)
        }
        val addr = (filt \ "address") match {
          case JString(a) => a
          case _ => h40(5)
        }
        (from to to).map { bn =>
          s"""{"blockNumber":"0x${bn.toHexString}","transactionIndex":"0x0",
             |"logIndex":"0x0","transactionHash":"${h64(bn * 10)}",
             |"blockHash":"${h64(bn)}","address":"$addr",
             |"topics":["$t0","${h64(1)}"],"data":"0x01"}"""
            .stripMargin.replace("\n", "")
        }.mkString("[", ",", "]")
      case other =>
        throw new IllegalArgumentException(s"stub: unknown method $other")
    }
  }

  /** serve canned JSON-RPC (single or batch), counting round trips */
  private def withStub[T](f: (String, AtomicInteger) => T): T =
    withStubRejecting(Set.empty)(f)

  /** withStub, but methods in `reject` answer a JSON-RPC method-not-found
    * error (HTTP 200) — how a node without e.g. eth_getBlockReceipts
    * actually behaves. */
  private def withStubRejecting[T](reject: Set[String])(
      f: (String, AtomicInteger) => T): T = {
    val posts = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      posts.incrementAndGet()
      val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (sys.env.contains("GRAFT_STUB_DEBUG"))
        println(s"[stub] post#${posts.get()}: " + "\"method\":\"(\\w+)\"".r
          .findAllMatchIn(body).map(_.group(1)).toSeq.distinct.mkString(","))
      def one(req: JValue): String = {
        val id = (req \ "id") match { case JInt(i) => i.toString; case _ => "0" }
        val JString(method) = (req \ "method"): @unchecked
        if (reject(method))
          s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,"message":"the method $method does not exist/is not available"}}"""
        else
          s"""{"jsonrpc":"2.0","id":$id,"result":${result(method, req \ "params")}}"""
      }
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => reqs.map(one).mkString("[", ",", "]")
        case req => one(req)
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/", posts)
    finally server.stop(0)
  }

  private val range = BlockSyntax.Range(16, 20) // 4 blocks

  private def src(url: String, batchSize: Long = 2) =
    new RpcSource(RpcConfig(url, chainId = 1, innerRequestSize = batchSize,
      maxRetries = 0))

  test("fetchBlocks: batched headers land in the bronze shape") {
    withStub { (url, posts) =>
      val df = src(url).fetchBlocks(spark, range, numPartitions = 1)
      val rows = df.collect().sortBy(_.getInt(0))
      assert(rows.map(_.getInt(0)).toSeq == Seq(16, 17, 18, 19))
      assert(rows.head.getAs[Long]("gas_used") == 0xa410L)
      assert(rows.head.getAs[Int]("timestamp") == 1700000000 + 16 * 12)
      // 4 blocks at innerRequestSize=2 → 2 HTTP round trips, not 4
      assert(posts.get() == 2)
    }
  }

  test("fetchTransactions: full-tx blocks flatten, batched") {
    // rpc_transactions comes from the shared full-block pass alone
    withStub { (url, posts) =>
      val (_, t, done) = src(url).fetchBlocksAndTransactions(spark, range,
        numPartitions = 1)
      val rows = t.collect()
      assert(rows.length == 8) // 2 txs × 4 blocks
      assert(posts.get() == 2)
      val r0 = rows.sortBy(r => (r.getInt(0), r.getInt(1))).head
      assert(r0.getInt(0) == 16 && r0.getInt(1) == 0)
      assert(r0.getAs[Int]("timestamp") == 1700000000 + 16 * 12)
      done()
    }
  }

  test("fetchBlocksAndTransactions: one full-block pass serves both bronzes") {
    withStub { (url, posts) =>
      val (b, t, done) = src(url).fetchBlocksAndTransactions(spark, range,
        numPartitions = 1)
      assert(b.collect().map(_.getInt(0)).sorted.toSeq == Seq(16, 17, 18, 19))
      assert(t.count() == 8)
      done()
      assert(posts.get() == 2, s"expected 2 round trips, got ${posts.get()}")
    }
  }

  test("fetchReceipts + fetchTraces: per-block families batch and parse") {
    withStub { (url, posts) =>
      val s = src(url)
      assert(s.fetchReceipts(spark, range, numPartitions = 1).count() == 8)
      assert(s.fetchTraces(spark, range, numPartitions = 1).count() == 8)
      assert(posts.get() == 4) // 2 batched round trips per family
    }
  }

  test("fetchReceipts: per-tx fallback when eth_getBlockReceipts is unsupported") {
    def norm(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (BigInt(r.getAs[Array[Byte]](0)), r.getLong(1), r.getInt(2)))
      .sortBy(_._1).toSeq
    val fast = withStub { (url, posts) =>
      val rows = src(url).fetchReceipts(spark, range, numPartitions = 1).collect()
      assert(posts.get() == 2) // supported node: zero extra round trips
      norm(rows)
    }
    withStubRejecting(Set("eth_getBlockReceipts")) { (url, posts) =>
      val rows = src(url).fetchReceipts(spark, range, numPartitions = 1).collect()
      // degraded bronze is identical to the fast path's
      assert(norm(rows) == fast)
      // 2 rejected block-receipt trips + 2 hash-list trips + 4 per-tx
      // receipt trips (8 txs at innerRequestSize=2)
      assert(posts.get() == 8, s"expected 8 round trips, got ${posts.get()}")
    }
  }

  test("receipt fallback keeps >1 request in flight per partition") {
    // Every eth_getTransactionReceipt batch blocks until TWO such batches
    // are present simultaneously — only the sliding-window pipeline
    // (window = maxConcurrentRequests / numTasks = 2) satisfies the
    // latch; a serial fallback loop would time out.
    val latch = new java.util.concurrent.CountDownLatch(2)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (body.contains("eth_getTransactionReceipt")) {
        latch.countDown()
        assert(latch.await(10, java.util.concurrent.TimeUnit.SECONDS),
          "second fallback batch never arrived: fallback lost the async window")
      }
      def one(req: JValue): String = {
        val id = (req \ "id") match { case JInt(i) => i.toString; case _ => "0" }
        val JString(method) = (req \ "method"): @unchecked
        if (method == "eth_getBlockReceipts")
          s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,"message":"unsupported"}}"""
        else
          s"""{"jsonrpc":"2.0","id":$id,"result":${result(method, req \ "params")}}"""
      }
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => reqs.map(one).mkString("[", ",", "]")
        case req => one(req)
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes); exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val cfg = RpcConfig(url, chainId = 1, innerRequestSize = 2,
        maxConcurrentRequests = 2, maxRetries = 0)
      val rows = new RpcSource(cfg).fetchReceipts(spark, range, numPartitions = 1)
        .collect()
      assert(rows.length == 8) // 2 txs × 4 blocks via the per-tx path
    } finally server.stop(0)
  }

  test("fetchGethCalls: call frames flatten depth-first") {
    withStub { (url, _) =>
      val df = src(url).fetchGethCalls(spark, range, numPartitions = 1)
      val rows = df.collect()
      assert(rows.length == 16) // (root + 1 nested) × 2 txs × 4 blocks
      assert(rows.map(_.getAs[Int]("depth")).toSet == Set(0, 1))
      assert(rows.map(_.getAs[String]("call_type")).toSet == Set("CALL", "STATICCALL"))
    }
  }

  test("fetchStateDiffs: one replay pass feeds all four diff bronzes") {
    withStub { (url, posts) =>
      val (diffs, diffsDone) = src(url).fetchStateDiffs(spark, range, numPartitions = 1)
      // per block: 2 txs × (addr1: balance,nonce,storage; addr2: balance,code)
      assert(diffs("rpc_balance_diffs").count() == 16)
      assert(diffs("rpc_nonce_diffs").count() == 8)
      assert(diffs("rpc_code_diffs").count() == 8)
      assert(diffs("rpc_storage_diffs").count() == 8)
      // the union RDD is persisted: four materializations, one fetch pass
      assert(posts.get() == 2)
      val bal = diffs("rpc_balance_diffs")
        .filter(org.apache.spark.sql.functions.col("block_number") === 16)
        .collect().sortBy(r => (r.getInt(1), BigInt(r.getAs[Array[Byte]]("address"))))
      // "+" added balance → from_value is the 32-byte zero
      val added = bal.filter(_.getAs[Array[Byte]]("from_value").forall(_ == 0))
      assert(added.nonEmpty)
      assert(added.head.getAs[Array[Byte]]("to_value").last == 5.toByte)
      diffsDone() // release the shared replay-pass persist
    }
  }

  test("fetchEthCalls: batched calls pair request context with outputs") {
    withStub { (url, posts) =>
      val calls = Seq((h40(7), "0x18160ddd"), (h40(8), "0x06fdde03"))
      val df = src(url).fetchEthCalls(spark, Seq(16L, 17L), calls, numPartitions = 1)
      val rows = df.collect()
      assert(rows.length == 4) // 2 blocks × 2 calls
      assert(rows.forall(_.getAs[Array[Byte]]("output_data").length == 32))
      assert(rows.forall(r => BigInt(r.getAs[Array[Byte]]("output_data")) == 1234))
      assert(posts.get() == 2) // 4 calls at innerRequestSize=2
    }
  }

  test("fetchGethOpcodes + fetchJsTraces: block-level geth tracers") {
    withStub { (url, _) =>
      val s = src(url)
      val ops = s.fetchGethOpcodes(spark, range, numPartitions = 1).collect()
      assert(ops.length == 16) // 2 logs × 2 txs × 4 blocks
      assert(ops.map(_.getAs[String]("op")).toSet == Set("PUSH1", "SSTORE"))
      val js = s.fetchJsTraces(spark, range,
        """{count: 0, step: function() {}, result: function() { return this.count }}""",
        numPartitions = 1).collect()
      assert(js.length == 8)
      assert(js.forall(_.getAs[String]("output").contains("myCount")))
    }
  }

  test("fetchVmTraces: parity opcode trace flattens sub-calls depth-first") {
    withStub { (url, _) =>
      val rows = src(url).fetchVmTraces(spark, range, numPartitions = 1).collect()
      assert(rows.length == 24) // (2 ops + 1 sub op) × 2 txs × 4 blocks
      val sstore = rows.filter(_.getAs[String]("op") == "SSTORE")
      assert(sstore.forall { r =>
        BigInt(r.getAs[Array[Byte]]("storage_val")) == 9 &&
          r.getAs[Int]("mem_off") == 64
      })
      val push = rows.filter(_.getAs[String]("op") == "PUSH1")
      assert(push.forall(r => BigInt(r.getAs[Array[Byte]]("push")) == 7))
    }
  }

  test("fetchAccounts + fetchStorage: batched point lookups") {
    withStub { (url, posts) =>
      val s = src(url, batchSize = 6)
      val accts = s.fetchAccounts(spark, Seq(16L, 17L),
        Seq(h40(1), h40(2)), numPartitions = 1).collect()
      assert(accts.length == 4) // 2 blocks × 2 addresses
      assert(accts.forall(_.getAs[Long]("nonce") == 42L))
      assert(accts.forall(r => BigInt(r.getAs[Array[Byte]]("balance")) ==
        BigInt("2000000000000000000")))
      val postsAfterAccounts = posts.get()
      assert(postsAfterAccounts == 2) // 4 items × 3 reqs at 6/batch
      val sto = s.fetchStorage(spark, Seq(16L),
        Seq((h40(1), h64(0)), (h40(1), h64(1))), numPartitions = 1).collect()
      assert(sto.length == 2)
      assert(sto.forall(r => BigInt(r.getAs[Array[Byte]]("value")) == 321))
    }
    // a JSON-RPC error part fails the lookup instead of writing a row
    // with a made-up nonce 0 / null code, or a null storage value
    withStubRejecting(Set("eth_getCode", "eth_getStorageAt")) { (url, _) =>
      val s = src(url, batchSize = 6)
      val ea = intercept[org.apache.spark.SparkException] {
        s.fetchAccounts(spark, Seq(16L), Seq(h40(1)), numPartitions = 1).collect()
      }
      assert(ea.getMessage.contains("RPC error for account"), ea.getMessage)
      val es = intercept[org.apache.spark.SparkException] {
        s.fetchStorage(spark, Seq(16L), Seq((h40(1), h64(0))),
          numPartitions = 1).collect()
      }
      assert(es.getMessage.contains("RPC error for slot"), es.getMessage)
    }
  }

  test("fetchTraceCalls: simulated call trace tagged with request context") {
    withStub { (url, _) =>
      val rows = src(url).fetchTraceCalls(spark, Seq(16L),
        Seq((h40(7), "0x18160ddd")), numPartitions = 1).collect()
      assert(rows.length == 2) // root + 1 subtrace
      assert(rows.forall(r =>
        r.getAs[Array[Byte]]("tx_call_data").toSeq ==
          Seq(0x18, 0x16, 0x0d, 0xdd).map(_.toByte)))
      assert(rows.map(_.getAs[String]("trace_address")).toSet == Set("", "0"))
    }
    // a JSON-RPC error part fails the call instead of silently dropping it
    withStubRejecting(Set("trace_call")) { (url, _) =>
      val e = intercept[org.apache.spark.SparkException] {
        src(url).fetchTraceCalls(spark, Seq(16L),
          Seq((h40(7), "0x18160ddd")), numPartitions = 1).collect()
      }
      assert(e.getMessage.contains("RPC error for trace_call"), e.getMessage)
    }
  }

  test("fetchLogs: range-batched getLogs with topic pushdown") {
    withStub { (url, posts) =>
      val sig = h64(0xbeef)
      val df = src(url).fetchLogs(spark, range,
        address = Some(h40(5)), topics = Seq(Some(sig), None, None, None),
        numPartitions = 1)
      val rows = df.collect()
      assert(rows.length == 4) // 1 log per block, served per range batch
      assert(posts.get() == 2) // 4 blocks at innerRequestSize=2 ranges
      // the server-side filter echoed our topic0 back — pushdown proven
      assert(rows.forall(r =>
        r.getAs[Seq[Array[Byte]]]("topics").head.toSeq ==
          graft.sources.RpcCodec.parseHexBytes(sig).toSeq))
    }
  }

  test("--rpc live mode: the CLI freezes straight from a node") {
    withStub { (url, posts) =>
      val out = java.nio.file.Files.createTempDirectory("graft_live").toString
      val r = Cli.run(Array("blocks", "transactions", "--rpc", url,
        "--blocks", "16:20", "--chunk-size", "4", "--output-dir", out,
        "--inner-request-size", "2", "--no-verbose"), spark).get
      assert(r.completed.size == 2)
      // chain id detected from the node (stub: 0x1 → ethereum)
      assert(r.completed.forall(_.contains("ethereum__")))
      val blocksFile = r.completed.find(_.contains("__blocks__")).get
      assert(spark.read.parquet(blocksFile).count() == 4)
      val txFile = r.completed.find(_.contains("__transactions__")).get
      val txs = spark.read.parquet(txFile)
      assert(txs.count() == 8) // 2 txs × 4 blocks, receipts joined
      assert(txs.columns.contains("gas_used"))
      // only the needed bronzes were materialized
      val bronze = new java.io.File(s"$out/.graft/bronze").list().toSet
      assert(bronze == Set("rpc_blocks.parquet", "rpc_transactions.parquet",
        "rpc_receipts.parquet"))
      // blocks+transactions share ONE full-block pass
      // (blocks_and_transactions multi): 2 driver probes (eth_chainId,
      // eth_blockNumber) + 4 shared full-block trips + 4 receipt trips
      // (materializeBronze runs 32 partitions, so these 4 blocks land one
      // per partition and per-partition batching can't pair them) — the
      // full-block count is N, not the 2N a separate header pass would add
      assert(posts.get() == 10, s"expected 10 round trips, got ${posts.get()}")
    }
  }

  test("--rpc live mode: excluding gas_used/success skips the receipt fetch") {
    withStub { (url, posts) =>
      val out = java.nio.file.Files.createTempDirectory("graft_noreceipt").toString
      val r = Cli.run(Array("transactions", "--rpc", url,
        "--blocks", "16:20", "--chunk-size", "4", "--output-dir", out,
        "--inner-request-size", "2",
        "--exclude-columns", "gas_used", "success", "--no-verbose"), spark).get
      val txs = spark.read.parquet(r.completed.head)
      assert(txs.count() == 8)
      assert(!txs.columns.contains("gas_used") && !txs.columns.contains("success"))
      // receipts bronze never materialized...
      val bronze = new java.io.File(s"$out/.graft/bronze").list().toSet
      assert(bronze == Set("rpc_blocks.parquet", "rpc_transactions.parquet"))
      // ...and never fetched: 2 driver probes + 4 full-block trips (one
      // per block across 32 partitions), ZERO receipt round trips
      // (transactions.rs:124-135 semantics)
      assert(posts.get() == 6, s"expected 6 round trips, got ${posts.get()}")
    }
  }

  test("collectDf with --rpc: in-memory collect straight from a node") {
    withStub { (url, _) =>
      val out = java.nio.file.Files.createTempDirectory("graft_live3").toString
      val df = Cli.collectDf(Array("transactions", "--rpc", url,
        "--blocks", "16:18", "--output-dir", out, "--no-verbose"), spark)
      assert(df.count() == 4) // 2 txs × 2 blocks
      assert(df.columns.contains("gas_used"))
    }
  }

  test("opcode tracer request carries schema-driven capture flags") {
    val r = graft.sources.RpcCodec.debugTraceBlockOpcodeRequest(1, 16,
      memory = true, stack = false, storage = false)
    assert(r.contains(""""enableMemory":true"""))
    assert(r.contains(""""disableStack":true"""))
    assert(r.contains(""""disableStorage":true"""))
    val all = graft.sources.RpcCodec.debugTraceBlockOpcodeRequest(1, 16,
      memory = false, stack = true, storage = true)
    assert(all.contains(""""enableMemory":false"""))
    assert(all.contains(""""disableStack":false"""))
    assert(all.contains(""""disableStorage":false"""))
  }

  test("--rpc: dry runs make no node traffic; explicit --network wins") {
    withStub { (url, posts) =>
      val out = java.nio.file.Files.createTempDirectory("graft_dry").toString
      val r = Cli.run(Array("blocks", "--rpc", url, "--blocks", "16:20",
        "--chunk-size", "4", "--output-dir", out, "--dry-run",
        "--no-verbose"), spark)
      assert(r.isEmpty)
      // only driver-side metadata probes (eth_chainId, eth_blockNumber)
      // — no bronze fetches
      assert(posts.get() <= 2)
      val r2 = Cli.run(Array("blocks", "--rpc", url, "--blocks", "16:20",
        "--chunk-size", "4", "--output-dir", out, "--network", "ethereum",
        "--no-verbose"), spark).get
      assert(r2.completed.forall(_.contains("ethereum__")))
    }
  }

  test("--rpc live mode: --latest resolves from eth_blockNumber") {
    withStub { (url, _) =>
      val out = java.nio.file.Files.createTempDirectory("graft_live2").toString
      // open-ended range: 16: → latest (0x13 = 19) inclusive
      val r = Cli.run(Array("blocks", "--rpc", url, "--blocks", "16:",
        "--chunk-size", "10", "--output-dir", out, "--no-verbose"),
        spark).get
      assert(r.completed.size == 1)
      assert(spark.read.parquet(r.completed.head).count() == 4) // 16..19
    }
  }

  test("followLive: blocks appended by the advancing node flow to cryo files") {
    // A stub whose head ADVANCES: each eth_blockNumber poll reports the
    // current head then moves the chain forward 13 blocks (capped at
    // 1055) — the live-node condition followLive exists for. Everything
    // else answers the canned chain.
    val head = new java.util.concurrent.atomic.AtomicLong(999L)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      def one(req: JValue): String = {
        val id = (req \ "id") match { case JInt(i) => i.toString; case _ => "0" }
        val JString(method) = (req \ "method"): @unchecked
        val res =
          if (method == "eth_blockNumber")
            "\"0x" + head.getAndUpdate(h => math.min(h + 13, 1055L)).toHexString + "\""
          else result(method, req \ "params")
        s"""{"jsonrpc":"2.0","id":$id,"result":$res}"""
      }
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => reqs.map(one).mkString("[", ",", "]")
        case req => one(req)
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val bronze = java.nio.file.Files.createTempDirectory("graft_fl_bronze").toString
      val out = java.nio.file.Files.createTempDirectory("graft_fl_out").toString
      val chk = java.nio.file.Files.createTempDirectory("graft_fl_chk").toString
      val spec = graft.chain.Freeze.FreezeSpec(
        datasets = Seq("blocks"), blocks = BlockSyntax.Range(1000, 1060),
        chunkSize = 25, outputDir = out)
      // head stalls at 1055 < range end 1059: completed chunks freeze
      // incrementally, then followLive FAILS LOUDLY that the range
      // never settled (a silent return would look converged while the
      // tail is unfrozen) — the message names the resume path
      val ex = intercept[IllegalStateException] {
        graft.streaming.FollowMode.followLive(spark,
          new RpcSource(RpcConfig(url, chainId = 1, maxRetries = 0)),
          bronze, spec, chk, pollMs = 10, maxPolls = 100, fetchPartitions = 2)
      }
      assert(ex.getMessage.contains("range incomplete") &&
        ex.getMessage.contains("re-run followLive"))
      // chunks [1000,1025) and [1025,1050) are complete and frozen
      // BEFORE the loud exit; [1050,1060) is partial and must NOT exist
      val written = java.nio.file.Files.list(java.nio.file.Paths.get(out))
        .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
      assert(written.map(p => p.substring(p.indexOf("__000") + 2)) ==
        Seq("00001000_to_00001024.parquet", "00001025_to_00001049.parquet"))
      val frozen = spark.read.parquet(written: _*)
      assert(frozen.count() == 50)
      val bns = frozen.select("block_number").collect().map(_.getInt(0)).sorted
      assert(bns.head == 1000 && bns.last == 1049 && bns.distinct.length == 50)
    } finally server.stop(0)
  }

  test("followLive: a 2-block reorg converges to the canonical chain") {
    // The node advances to head 1023, ROLLS BACK to 1021 (blocks
    // 1022-1023 were a dead fork with different hashes), then re-advances
    // on the canonical fork past the range end + reorg buffer. followLive
    // must detect the rollback from the head going backwards, re-fetch
    // the window, rewrite bronze to canonical-only rows, and the frozen
    // files must come out IDENTICAL to a run that never saw the fork —
    // same chunk names, same rows, no duplicates, no orphan hashes.
    def runFollow(withReorg: Boolean): (Seq[String], Seq[Seq[String]]) = {
      val script: Seq[Long] =
        if (withReorg) Seq(1005L, 1014L, 1023L, 1021L, 1030L, 1043L)
        else Seq(1005L, 1014L, 1023L, 1030L, 1043L)
      val idx = new AtomicInteger(0)
      val lastServed = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
      // false = the stub is still on the doomed fork: blocks >= 1022
      // answer with fork hashes. The ROLLBACK POLL flips it — exactly
      // how a real node behaves (you only see the new fork after the
      // head moved back).
      val canonical = new java.util.concurrent.atomic.AtomicBoolean(!withReorg)
      def oh(n: Long): String = "0x" + "%064x".format(n + 0x5a5a000000L)
      val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", { exchange =>
        val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        def one(req: JValue): String = {
          val id = (req \ "id") match { case JInt(i) => i.toString; case _ => "0" }
          val JString(method) = (req \ "method"): @unchecked
          val res = method match {
            case "eth_blockNumber" =>
              val h = script(math.min(idx.getAndIncrement(), script.size - 1))
              if (h < lastServed.get()) canonical.set(true)
              lastServed.set(h)
              "\"0x" + h.toHexString + "\""
            case "eth_getBlockByNumber" =>
              val bn = (req \ "params") match {
                case JArray(JString(s) :: _) =>
                  java.lang.Long.parseLong(s.stripPrefix("0x"), 16)
                case _ => 0L
              }
              val canon = result(method, req \ "params")
              if (!canonical.get() && bn >= 1022) {
                // fork blocks: own hashes, parent links inside the fork
                var s = canon.replace(s""""hash":"${h64(bn)}"""",
                  s""""hash":"${oh(bn)}"""")
                if (bn >= 1023)
                  s = s.replace(s""""parentHash":"${h64(bn - 1)}"""",
                    s""""parentHash":"${oh(bn - 1)}"""")
                s
              } else canon
            case m => result(m, req \ "params")
          }
          s"""{"jsonrpc":"2.0","id":$id,"result":$res}"""
        }
        val resp = JsonMethods.parse(body) match {
          case JArray(reqs) => reqs.map(one).mkString("[", ",", "]")
          case req => one(req)
        }
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        exchange.getResponseHeaders.set("Content-Type", "application/json")
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
      server.start()
      try {
        val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
        val bronze = java.nio.file.Files.createTempDirectory("graft_rg_bronze").toString
        val out = java.nio.file.Files.createTempDirectory("graft_rg_out").toString
        val chk = java.nio.file.Files.createTempDirectory("graft_rg_chk").toString
        val spec = graft.chain.Freeze.FreezeSpec(
          datasets = Seq("blocks"), blocks = BlockSyntax.Range(1000, 1040),
          chunkSize = 20, reorgBuffer = 2, outputDir = out)
        graft.streaming.FollowMode.followLive(spark,
          new RpcSource(RpcConfig(url, chainId = 1, maxRetries = 0)),
          bronze, spec, chk, pollMs = 10, maxPolls = 80, fetchPartitions = 2)
        val files = java.nio.file.Files.list(java.nio.file.Paths.get(out))
          .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
        val rows = files.map(f => spark.read.parquet(f)
          .select("block_number", "block_hash", "parent_hash")
          .collect().map { r =>
            def hx(i: Int) = r.getAs[Array[Byte]](i).map("%02x".format(_)).mkString
            s"${r.get(0)}|${hx(1)}|${hx(2)}"
          }.sorted.toSeq)
        (files.map(_.split('/').last), rows)
      } finally server.stop(0)
    }
    val (reorgFiles, reorgRows) = runFollow(withReorg = true)
    val (cleanFiles, cleanRows) = runFollow(withReorg = false)
    assert(reorgFiles.size == 2, s"expected both chunks frozen: $reorgFiles")
    assert(reorgFiles == cleanFiles) // same chunk files, no extras
    assert(reorgRows == cleanRows)   // canonical rows only, orphans gone
  }

  test("followLive: a reorg deeper than the buffer fails loudly") {
    // Head reaches 1023 (buffer 2 → chunk [1000,1020) is freezable),
    // then rolls back SIX blocks to 1017 — below the freezable boundary.
    // Files on disk may now hold orphaned rows that skip-existing would
    // never replace, so followLive must refuse to continue rather than
    // converge bronze under diverged frozen files.
    val script = Seq(1023L, 1017L, 1030L, 1043L)
    val idx = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      def one(req: JValue): String = {
        val id = (req \ "id") match { case JInt(i) => i.toString; case _ => "0" }
        val JString(method) = (req \ "method"): @unchecked
        val res =
          if (method == "eth_blockNumber")
            "\"0x" + script(math.min(idx.getAndIncrement(), script.size - 1)).toHexString + "\""
          else result(method, req \ "params")
        s"""{"jsonrpc":"2.0","id":$id,"result":$res}"""
      }
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => reqs.map(one).mkString("[", ",", "]")
        case req => one(req)
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val bronze = java.nio.file.Files.createTempDirectory("graft_dr_bronze").toString
      val out = java.nio.file.Files.createTempDirectory("graft_dr_out").toString
      val chk = java.nio.file.Files.createTempDirectory("graft_dr_chk").toString
      val spec = graft.chain.Freeze.FreezeSpec(
        datasets = Seq("blocks"), blocks = BlockSyntax.Range(1000, 1040),
        chunkSize = 20, reorgBuffer = 2, outputDir = out)
      val e = intercept[IllegalStateException] {
        graft.streaming.FollowMode.followLive(spark,
          new RpcSource(RpcConfig(url, chainId = 1, maxRetries = 0)),
          bronze, spec, chk, pollMs = 10, maxPolls = 40, fetchPartitions = 2)
      }
      assert(e.getMessage.contains("deeper than the buffer"))
    } finally server.stop(0)
  }

  test("followLive: a rollback before anything was freezable is not a deep reorg") {
    // Head starts barely past the range start (1002; buffer 2 → NOTHING
    // is freezable yet, frozenCeil == lo), rolls back BELOW lo to 998,
    // then re-advances past the range end + buffer. The deep-reorg
    // guard compares the rollback against the freezable boundary; with
    // no chunk freezable the rollback is an ordinary refetch, not a
    // buffer violation — followLive must converge, not spuriously fail.
    val script = Seq(1002L, 998L, 1012L, 1026L, 1043L)
    val idx = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      def one(req: JValue): String = {
        val id = (req \ "id") match { case JInt(i) => i.toString; case _ => "0" }
        val JString(method) = (req \ "method"): @unchecked
        val res =
          if (method == "eth_blockNumber")
            "\"0x" + script(math.min(idx.getAndIncrement(), script.size - 1)).toHexString + "\""
          else result(method, req \ "params")
        s"""{"jsonrpc":"2.0","id":$id,"result":$res}"""
      }
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => reqs.map(one).mkString("[", ",", "]")
        case req => one(req)
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val bronze = java.nio.file.Files.createTempDirectory("graft_pr_bronze").toString
      val out = java.nio.file.Files.createTempDirectory("graft_pr_out").toString
      val chk = java.nio.file.Files.createTempDirectory("graft_pr_chk").toString
      val spec = graft.chain.Freeze.FreezeSpec(
        datasets = Seq("blocks"), blocks = BlockSyntax.Range(1000, 1040),
        chunkSize = 20, reorgBuffer = 2, outputDir = out)
      graft.streaming.FollowMode.followLive(spark,
        new RpcSource(RpcConfig(url, chainId = 1, maxRetries = 0)),
        bronze, spec, chk, pollMs = 10, maxPolls = 80, fetchPartitions = 2)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(out))
        .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
      assert(files.size == 2, s"expected both chunks frozen: $files")
      val bns = spark.read.parquet(files: _*)
        .select("block_number").collect().map(_.getInt(0)).sorted
      assert(bns.head == 1000 && bns.last == 1039 && bns.distinct.length == 40)
    } finally server.stop(0)
  }

  test("followLive: a head that never settles past the buffer fails loudly") {
    // Head reaches the range end (1039) but never clears it by the
    // reorg buffer — the tail chunk is complete on disk but UNSETTLED.
    // A silent return would look converged while the closing freeze
    // never ran; followLive must raise with the resume guidance.
    val script = Seq(1012L, 1026L, 1039L)
    val idx = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      def one(req: JValue): String = {
        val id = (req \ "id") match { case JInt(i) => i.toString; case _ => "0" }
        val JString(method) = (req \ "method"): @unchecked
        val res =
          if (method == "eth_blockNumber")
            "\"0x" + script(math.min(idx.getAndIncrement(), script.size - 1)).toHexString + "\""
          else result(method, req \ "params")
        s"""{"jsonrpc":"2.0","id":$id,"result":$res}"""
      }
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => reqs.map(one).mkString("[", ",", "]")
        case req => one(req)
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val bronze = java.nio.file.Files.createTempDirectory("graft_ns_bronze").toString
      val out = java.nio.file.Files.createTempDirectory("graft_ns_out").toString
      val chk = java.nio.file.Files.createTempDirectory("graft_ns_chk").toString
      val spec = graft.chain.Freeze.FreezeSpec(
        datasets = Seq("blocks"), blocks = BlockSyntax.Range(1000, 1040),
        chunkSize = 20, reorgBuffer = 2, outputDir = out)
      val e = intercept[IllegalStateException] {
        graft.streaming.FollowMode.followLive(spark,
          new RpcSource(RpcConfig(url, chainId = 1, maxRetries = 0)),
          bronze, spec, chk, pollMs = 10, maxPolls = 15, fetchPartitions = 2)
      }
      assert(e.getMessage.contains("never settled") &&
        e.getMessage.contains("re-run followLive"))
    } finally server.stop(0)
  }

  test("async pipelining: >1 request in flight per partition") {
    // A latch-gated stub: every eth_getBlockByNumber handler blocks until
    // TWO requests are present simultaneously, then all respond. With the
    // old synchronous per-partition loop (one request at a time in one
    // task) the first request would wait out the 10s latch and fail; the
    // sliding-window pipeline holds window = maxConcurrentRequests /
    // numTasks = 2 batches in flight, so both arrive concurrently.
    val latch = new java.util.concurrent.CountDownLatch(2)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      latch.countDown()
      assert(latch.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "second request never arrived: no overlap between in-flight requests")
      val resp = JsonMethods.parse(body) match {
        case JArray(reqs) => reqs.map { req =>
          val id = (req \ "id") match { case JInt(i) => i.toString; case _ => "0" }
          s"""{"jsonrpc":"2.0","id":$id,"result":${result("eth_getBlockByNumber", req \ "params")}}"""
        }.mkString("[", ",", "]")
        case _ => "[]"
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes); exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      // 4 blocks / innerRequestSize 2 = 2 batches in ONE partition;
      // maxConcurrentRequests 2 / 1 task = window 2
      val cfg = RpcConfig(url, chainId = 1, innerRequestSize = 2,
        maxConcurrentRequests = 2, maxRetries = 0)
      val rows = new RpcSource(cfg).fetchBlocks(spark, range, numPartitions = 1)
        .collect()
      assert(rows.map(_.getInt(0)).sorted.toSeq == Seq(16, 17, 18, 19))
    } finally server.stop(0)
  }

  test("retries: a flaky first response is retried with backoff") {
    val fails = new AtomicInteger(2)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      if (fails.getAndDecrement() > 0) {
        exchange.sendResponseHeaders(503, -1); exchange.close()
      } else {
        val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val resp = JsonMethods.parse(body) match {
          case JArray(reqs) => reqs.map { req =>
            val id = (req \ "id") match { case JInt(i) => i.toString; case _ => "0" }
            s"""{"jsonrpc":"2.0","id":$id,"result":${result("eth_getBlockByNumber", req \ "params")}}"""
          }.mkString("[", ",", "]")
          case _ => "[]"
        }
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes); exchange.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/"
      val cfg = RpcConfig(url, chainId = 1, innerRequestSize = 4,
        maxRetries = 3, initialBackoffMs = 10)
      val df = new RpcSource(cfg).fetchBlocks(spark, range, numPartitions = 1)
      assert(df.count() == 4)
    } finally server.stop(0)
  }

  test("fractional-rate token bucket (rps < task count) spaces instead of hanging") {
    // a global rate split across more tasks than rps hands each bucket a
    // rate < 1.0; the refill cap must still allow accumulating the one
    // token acquire() waits for (capping at ratePerSecond < 1 hung every
    // task forever). rate=0.8 → burst token spent instantly, second
    // acquire waits ~1.25 s — assert completion and that spacing happened.
    val bucket = new TokenBucket(0.8)
    val t0 = System.nanoTime()
    bucket.acquire() // initial burst token
    val t1 = System.nanoTime()
    bucket.acquire() // must refill past 1.0 despite rate < 1
    val t2 = System.nanoTime()
    assert((t1 - t0) < 500_000_000L, "first acquire should be instant")
    val spacingMs = (t2 - t1) / 1_000_000L
    assert(spacingMs >= 1000, s"second acquire returned after ${spacingMs}ms; " +
      "a sub-1 rate must space requests at ~1/rate seconds")
    assert(spacingMs < 10_000, "second acquire took implausibly long")
  }
}
