package graft.sources

import java.math.BigInteger
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.reflect.ClassTag

import graft.chain.BlockSyntax
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** JSON-RPC source config — mirrors the reference's `Source` concurrency
  * envelope (cryo types/sources.rs:44-61, defaults 110-114):
  * per-executor request concurrency, token-bucket rate limiting, retries
  * with exponential backoff (args.rs:101-107), and range batching
  * (inner_request_size) for range-capable endpoints like eth_getLogs.
  */
case class RpcConfig(
    url: String,
    chainId: Long = 1,
    maxConcurrentRequests: Int = 100,
    requestsPerSecond: Int = 0, // 0 = unlimited (args.rs:97-99)
    maxRetries: Int = 5,
    initialBackoffMs: Long = 500,
    innerRequestSize: Long = 100,
    /** provider compute-units budget (args.rs:109-111, default 50):
      * sizes the floor of the retry backoff — after a failed synchronous
      * attempt the next waits at least innerRequestSize / this many
      * seconds. A batch whose pipelined attempt fails (a 429 included) is
      * re-sent at once as the synchronous path's first attempt; only a
      * failure of that attempt starts the wait. */
    computeUnitsPerSecond: Long = 50)

object RpcConfig {
  /** URL resolution chain (cryo types/sources.rs:119-150): explicit flag →
    * MESC config (MESC_PATH / ~/.mesc/mesc.json default_endpoint) →
    * ETH_RPC_URL env. Env and config injectable for offline tests. */
  def resolveUrl(flag: Option[String],
      env: Map[String, String] = sys.env,
      mescPathOverride: Option[String] = None): String = {
    flag.filter(_.nonEmpty).getOrElse {
      val mescPath = mescPathOverride
        .orElse(env.get("MESC_PATH"))
        .getOrElse(System.getProperty("user.home") + "/.mesc/mesc.json")
      val fromMesc: Option[String] =
        if (new java.io.File(mescPath).isFile) {
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          val cfg = JsonMethods.parse(new java.io.File(mescPath))
          (cfg \ "default_endpoint") match {
            case JString(name) => (cfg \ "endpoints" \ name \ "url") match {
              case JString(u) => Some(u)
              case _ => Some(name) // default_endpoint may be a literal url
            }
            case _ => None
          }
        } else None
      fromMesc
        .orElse(env.get("ETH_RPC_URL").filter(_.nonEmpty))
        .getOrElse(throw new IllegalArgumentException(
          "no RPC url: pass --rpc, configure MESC, or set ETH_RPC_URL"))
    }
  }

  def chainIdRequest(id: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_chainId","params":[]}"""

  /** parse the eth_chainId response — the autodetection half of
    * sources.rs:119-150 (used when no --network is given). */
  def parseChainId(body: String): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    (JsonMethods.parse(body) \ "result") match {
      case JString(s) => RpcCodec.parseHexLong(s)
      case _ => throw new IllegalArgumentException(s"bad eth_chainId response")
    }
  }
}

/** Executor-side helpers: deterministic, dependency-free JSON-RPC request
  * building and hex decoding (unit-testable without a live node). */
object RpcCodec {
  def hexQuantity(n: Long): String = "0x" + java.lang.Long.toHexString(n)

  def parseHexLong(s: String): Long =
    if (s == null || s == "0x") 0L
    else java.lang.Long.parseLong(s.stripPrefix("0x"), 16)

  def parseHexBytes(s: String): Array[Byte] = {
    if (s == null) return null
    val h0 = s.stripPrefix("0x")
    val h = if (h0.length % 2 == 1) "0" + h0 else h0
    val out = new Array[Byte](h.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  /** 32-byte big-endian from a hex quantity of any width; bare "0x" is
    * zero (some clients encode empty quantities that way — parseHexLong
    * already accepts it, and BigInteger("", 16) would throw). */
  def parseHexU256(s: String): Array[Byte] = {
    if (s == null) return null
    val h = s.stripPrefix("0x")
    val bi = if (h.isEmpty) BigInteger.ZERO else new BigInteger(h, 16)
    graft.functions.U256.toBytes32(bi)
  }

  def getBlockRequest(id: Long, blockNumber: Long, fullTxs: Boolean): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_getBlockByNumber","params":["${hexQuantity(blockNumber)}",$fullTxs]}"""

  /** eth_getLogs with the topic0..3 position filter
    * (types/rpc_params.rs:99-131): trailing null positions are trimmed;
    * interior wildcards serialize as null. */
  def getLogsRequest(id: Long, fromBlock: Long, toBlock: Long,
      address: Option[String], topics: Seq[Option[String]]): String = {
    val addr = address.map(a => s""","address":"$a"""").getOrElse("")
    val trimmed = topics.reverse.dropWhile(_.isEmpty).reverse
    val ts =
      if (trimmed.isEmpty) ""
      else trimmed.map {
        case Some(t) => s""""$t""""
        case None => "null"
      }.mkString(""","topics":[""", ",", "]")
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_getLogs","params":[{"fromBlock":"${hexQuantity(fromBlock)}","toBlock":"${hexQuantity(toBlock)}"$addr$ts}]}"""
  }

  def getBlockReceiptsRequest(id: Long, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_getBlockReceipts","params":["${hexQuantity(blockNumber)}"]}"""

  def getTransactionReceiptRequest(id: Long, txHash: String): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_getTransactionReceipt","params":["$txHash"]}"""

  /** trace_block — the parity trace family's extract call
    * (cryo datasets/traces.rs extract). */
  def traceBlockRequest(id: Long, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"trace_block","params":["${hexQuantity(blockNumber)}"]}"""

  /** trace_replayBlockTransactions(stateDiff) — the parity state-diff
    * multi family's extract call (cryo multi_datasets/state_diffs.rs,
    * source trace_block_state_diffs). */
  def traceReplayBlockRequest(id: Long, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"trace_replayBlockTransactions","params":["${hexQuantity(blockNumber)}",["stateDiff"]]}"""

  /** eth_call at a block (cryo datasets/eth_calls.rs extract). */
  def ethCallRequest(id: Long, to: String, data: String, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_call","params":[{"to":"$to","data":"$data"},"${hexQuantity(blockNumber)}"]}"""

  /** trace_call with the trace tracer (cryo datasets/trace_calls.rs). */
  def traceCallRequest(id: Long, to: String, data: String, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"trace_call","params":[{"to":"$to","data":"$data"},["trace"],"${hexQuantity(blockNumber)}"]}"""

  /** trace_replayBlockTransactions(vmTrace) — the per-opcode parity trace
    * (cryo datasets/vm_traces.rs extract). */
  def traceReplayBlockVmRequest(id: Long, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"trace_replayBlockTransactions","params":["${hexQuantity(blockNumber)}",["vmTrace"]]}"""

  /** debug_traceBlockByNumber with a custom JavaScript tracer (cryo
    * datasets/javascript_traces.rs) — the tracer source is JSON-escaped. */
  def debugTraceBlockJsRequest(id: Long, blockNumber: Long, js: String): String = {
    val escaped = js.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    s"""{"jsonrpc":"2.0","id":$id,"method":"debug_traceBlockByNumber","params":["${hexQuantity(blockNumber)}",{"tracer":"$escaped"}]}"""
  }

  /** debug_traceBlockByNumber with an optional named tracer:
    * prestateTracer(+diffMode) for state diffs/reads, callTracer for call
    * frames, none = struct-log opcodes (cryo geth_* dataset extracts). */
  def debugTraceBlockRequest(id: Long, blockNumber: Long,
      tracer: Option[String] = None, diffMode: Boolean = false): String = {
    val cfg = tracer match {
      case Some(t) if diffMode =>
        s""",{"tracer":"$t","tracerConfig":{"diffMode":true}}"""
      case Some(t) => s""",{"tracer":"$t"}"""
      case None => ",{}"
    }
    s"""{"jsonrpc":"2.0","id":$id,"method":"debug_traceBlockByNumber","params":["${hexQuantity(blockNumber)}"$cfg]}"""
  }

  def debugTraceTransactionRequest(id: Long, txHash: String): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"debug_traceTransaction","params":["$txHash",{}]}"""

  /** debug_traceBlockByNumber default (struct-log) tracer with the
    * schema-driven capture flags (geth_opcodes.rs:44-59): memory/stack/
    * storage are only captured when the schema asks for those columns —
    * the IO-pruning half of column pruning for this dataset. */
  def debugTraceBlockOpcodeRequest(id: Long, blockNumber: Long,
      memory: Boolean = false, stack: Boolean = false,
      storage: Boolean = false): String = {
    val cfg = s"""{"enableMemory":$memory,"disableStack":${!stack},"disableStorage":${!storage}}"""
    s"""{"jsonrpc":"2.0","id":$id,"method":"debug_traceBlockByNumber","params":["${hexQuantity(blockNumber)}",$cfg]}"""
  }

  // point-lookup state requests (cryo datasets/{balances,codes,nonces,storages}.rs)
  def getBalanceRequest(id: Long, address: String, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_getBalance","params":["$address","${hexQuantity(blockNumber)}"]}"""
  def getCodeRequest(id: Long, address: String, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_getCode","params":["$address","${hexQuantity(blockNumber)}"]}"""
  def getTransactionCountRequest(id: Long, address: String, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_getTransactionCount","params":["$address","${hexQuantity(blockNumber)}"]}"""
  def getStorageAtRequest(id: Long, address: String, slot: String, blockNumber: Long): String =
    s"""{"jsonrpc":"2.0","id":$id,"method":"eth_getStorageAt","params":["$address","$slot","${hexQuantity(blockNumber)}"]}"""

  /** batch JSON-RPC body */
  def batch(requests: Seq[String]): String = requests.mkString("[", ",", "]")
}

/** Simple token bucket for rate limiting (the reference's governor
  * limiter, sources.rs:986-997). Thread-safe enough for one
  * partition-iterator thread. The rate is a Double: each task gets its
  * SHARE of the global --requests-per-second (see rateShare), which for
  * rate < tasks is fractional — an Int floor would read as 0 =
  * unlimited, the exact opposite of a tight limit. */
final class TokenBucket(ratePerSecond: Double) extends Serializable {
  private var last = System.nanoTime()
  // Burst capacity ≥ 1 token: a fractional rate (global rps split across
  // more tasks than rps, e.g. 10 rps / 32 tasks = 0.3125) must still be
  // able to ACCUMULATE the single token acquire() waits for — capping the
  // refill at ratePerSecond < 1 would make `tokens < 1.0` permanently
  // true and hang every task in the sleep loop. With cap 1.0 a
  // sub-1-rate bucket simply spaces requests 1/rate seconds apart.
  private val capacity = math.max(1.0, ratePerSecond)
  private var tokens = capacity
  def acquire(): Unit = {
    if (ratePerSecond <= 0) return
    while ({
      val now = System.nanoTime()
      tokens = math.min(capacity,
        tokens + (now - last) * 1e-9 * ratePerSecond)
      last = now
      tokens < 1.0
    }) Thread.sleep(5)
    tokens -= 1.0
  }
}

/** Distributed JSON-RPC extraction: a driver-side list of work (a block
  * range, or entity × block items) is partitioned into Spark tasks, each
  * task streams its items through ONE fetch loop, and the responses are
  * parsed into rows shaped exactly like the `rpc_*` bronze tables the
  * dataset transforms consume (graft.chain.ChainDatasets). Freezing from
  * a live node is: RpcSource materializes bronze, transforms project
  * silver — same code path as the fixtures.
  *
  * The fetch loop is cryo's `Source` envelope (sources.rs:52-58,
  * 986-997), split across tasks: each task holds one [[Link]] — an HTTP
  * client, a token bucket with the task's share of
  * `--requests-per-second`, and the task's share of the
  * `--max-concurrent-requests` window — and every request the task makes
  * goes through it. Items are batched `innerRequestSize` calls per HTTP
  * round trip (ids are batch indices), the batch's answer is checked for
  * one part per request, and responses come back in submission order.
  * Tasks fetch disjoint work; there is no shuffle.
  *
  * Error parts: a node that rejects one request still answers the batch
  * with HTTP 200 and an `error` object for that request. Such a part
  * fails the batch, naming the item, so a bronze never misses a block or
  * holds a made-up row. Two readers take error parts as data instead:
  * eth_calls, where an error is a revert and the output is null, and the
  * receipt fast path, where an error sends the block to the per-tx
  * fallback.
  */
class RpcSource(config: RpcConfig) extends Serializable {
  import RpcSource.{Fail, Keep, OnError}

  private def retrying[T](f: => T): T = {
    var attempt = 0
    // the wait after the first failed attempt is at least one batch's
    // compute-unit refill time (1 CU/request floor), then doubles; the
    // first attempt itself runs at once (RetryBackoffLayer semantics)
    var backoff = math.max(config.initialBackoffMs,
      1000L * config.innerRequestSize /
        math.max(1L, config.computeUnitsPerSecond))
    var last: Throwable = null
    while (attempt <= config.maxRetries) {
      try return f
      catch {
        case e: Throwable =>
          last = e
          attempt += 1
          // no sleep after the FINAL failure — the exception is about
          // to surface and the largest backoff (up to ~64 s at the
          // defaults) would be dead wait before rethrowing
          if (attempt <= config.maxRetries) {
            Thread.sleep(backoff)
            backoff *= 2 // exponential (args.rs:101-107)
          }
      }
    }
    throw last
  }

  /** transport-level sanity INSIDE the retry boundary: a truncated or
    * garbled body (proxy hiccup, connection cut mid-stream, misbehaving
    * gateway) must be refetched like a 429, not surface minutes later
    * as a baffling parse error in a downstream extractor. The check is
    * structural (first/last byte bracket balance), deliberately NOT a
    * full JSON parse — responses are parsed exactly once downstream,
    * and doubling that work in the fetch hot loop is the kind of
    * per-byte cost that matters at 100 TB. A well-formed but
    * semantically wrong body still surfaces at parse time as the real
    * error it is. */
  private def checkBody(resp: HttpResponse[String]): String = {
    require(resp.statusCode() == 200, s"RPC HTTP ${resp.statusCode()}")
    val t = resp.body().trim
    require(t.nonEmpty && (t.head == '{' || t.head == '[') &&
      (t.last == '}' || t.last == ']'),
      s"malformed RPC response body: '${t.take(80)}'")
    resp.body()
  }

  private def httpRequest(body: String): HttpRequest =
    HttpRequest.newBuilder(URI.create(config.url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()

  /** Per-task share of the global in-flight budget: cryo holds up to
    * `max_concurrent_requests` requests in flight via a semaphore
    * (sources.rs:114); here the budget is split evenly across the Spark
    * tasks that fetch concurrently. */
  private def inflightWindow(numTasks: Int): Int =
    math.max(1, config.maxConcurrentRequests / math.max(1, numTasks))

  /** each task's share of the GLOBAL --requests-per-second: the buckets
    * are per-task, so handing every task the full rate would multiply
    * the aggregate send rate by the task count — the same division
    * discipline as inflightWindow. ≤0 stays "unlimited". */
  private def rateShare(numTasks: Int): Double =
    if (config.requestsPerSecond <= 0) 0.0
    else config.requestsPerSecond.toDouble / math.max(1, numTasks)

  /** One task's slice of the request envelope: the only place an HTTP
    * client and a token bucket are made. Every stage a task runs goes
    * through its one Link, so the receipt fallback stages share the fast
    * path's client and rate budget. */
  private final class Link(window: Int, rps: Double) {
    private val client = HttpClient.newHttpClient()
    private val bucket = new TokenBucket(rps)

    /** one synchronous request through the retry layer */
    def call(body: String): String =
      retrying(checkBody(client.send(httpRequest(body),
        HttpResponse.BodyHandlers.ofString())))

    /** Sliding-window pipeline, one request body per item — the
      * Spark-side equivalent of cryo's per-request concurrency semaphore
      * (sources.rs:114): up to `window` POSTs are in flight (sendAsync),
      * and responses are re-joined in SUBMISSION order so downstream
      * parsing stays deterministic. The token bucket is acquired at
      * submission, so `--requests-per-second` governs the send rate. A
      * body whose async attempt fails (HTTP error, malformed body,
      * dropped connection) is re-sent at once through `call`, whose
      * backoff starts only if that attempt fails too. */
    def each[A](items: Iterator[A])(body: A => String): Iterator[(A, String)] = {
      val inflight = scala.collection.mutable.Queue
        .empty[(A, String, java.util.concurrent.CompletableFuture[String])]
      new Iterator[(A, String)] {
        private def fill(): Unit =
          while (inflight.size < window && items.hasNext) {
            val a = items.next()
            val b = body(a)
            bucket.acquire()
            inflight.enqueue((a, b, client.sendAsync(httpRequest(b),
              HttpResponse.BodyHandlers.ofString()).thenApply[String](checkBody(_))))
          }
        def hasNext: Boolean = { fill(); inflight.nonEmpty }
        def next(): (A, String) = {
          fill()
          val (a, b, fut) = inflight.dequeue()
          val json =
            try fut.join()
            catch { case _: Throwable => call(b) }
          (a, json)
        }
      }
    }

    /** JSON-RPC batches over [[each]]: `calls(item, firstId)` gives an
      * item's `callsPerItem` requests (ids `firstId`, `firstId + 1`, …,
      * batch-local), as many items ride one batch as fit in
      * `innerRequestSize` calls, and each answer is split back into the
      * item's parts in id order. A short answer fails (splitBatch); an
      * error part fails the batch unless `onError` is Keep. */
    def batched[A](items: Iterator[A], callsPerItem: Int = 1)(
        onError: OnError[A], calls: (A, Long) => Seq[String]): Iterator[(A, Seq[String])] = {
      val perBatch = math.max(1, config.innerRequestSize.toInt / callsPerItem)
      each(items.grouped(perBatch)) { group =>
        RpcCodec.batch(group.zipWithIndex.flatMap { case (a, i) =>
          calls(a, callsPerItem.toLong * i) })
      }.flatMap { case (group, json) =>
        group.iterator.zip(RpcSource.splitBatch(json, group.size * callsPerItem)
          .grouped(callsPerItem)).map { case (a, parts) =>
          onError match {
            case Fail(what) => parts.find(RpcSource.isError).foreach { p =>
              throw new RuntimeException(s"RPC error for ${what(a)}: ${p.take(300)}")
            }
            case Keep =>
          }
          (a, parts)
        }
      }
    }
  }

  /** The fetch loop: each partition of `work` gets one Link sized for
    * `tasks` concurrent tasks, and `stage` streams the partition's items
    * through it. */
  private def fetchLoop[A, R: ClassTag](work: RDD[A], tasks: Int)(
      stage: (Link, Iterator[A]) => Iterator[R]): RDD[R] = {
    val window = inflightWindow(tasks)
    val rps = rateShare(tasks)
    work.mapPartitions(items => stage(new Link(window, rps), items))
  }

  /** per-block work: the range in `numPartitions` contiguous slices */
  private def overBlocks[R: ClassTag](spark: SparkSession,
      range: BlockSyntax.Range, numPartitions: Int)(
      stage: (Link, Iterator[Long]) => Iterator[R]): RDD[R] =
    fetchLoop(spark.sparkContext.range(range.start, range.endExclusive,
      numSlices = numPartitions), numPartitions)(stage)

  /** a driver-side work list, at most one task per item */
  private def overList[A: ClassTag, R: ClassTag](spark: SparkSession,
      work: Seq[A], numPartitions: Int)(
      stage: (Link, Iterator[A]) => Iterator[R]): RDD[R] = {
    val tasks = math.min(numPartitions, work.size).max(1)
    fetchLoop(spark.sparkContext.parallelize(work, tasks), tasks)(stage)
  }

  /** Fetch block headers for a range into the rpc_blocks shape. */
  def fetchBlocks(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int = 32): DataFrame =
    fetchPerBlock(spark, range, RpcSource.blocksSchema, numPartitions)(
      (i, n) => RpcCodec.getBlockRequest(i, n, fullTxs = false))(
      (body, _) => Seq(RpcExtract.blockHeader(body, config.chainId)))

  /** ONE eth_getBlockByNumber(fullTxs=true) pass serving BOTH the
    * rpc_blocks and rpc_transactions bronzes (cryo's
    * blocks_and_transactions multi shares the extraction pass the same
    * way, multi_datasets/blocks_and_transactions.rs:7-72). The raw
    * response parts persist MEMORY_AND_DISK so the header projection and
    * the transaction projection re-read local (spillable) bytes instead
    * of re-fetching from the node — the node round trips are the scarce
    * resource, not local IO. The third element unpersists the shared
    * pass; call it after both frames are written. */
  def fetchBlocksAndTransactions(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int = 32): (DataFrame, DataFrame, () => Unit) = {
    import org.apache.spark.storage.StorageLevel
    val conf = config
    val raw = fetchPerBlockRaw(spark, range, numPartitions)(
      (i, n) => RpcCodec.getBlockRequest(i, n, fullTxs = true))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val blocksDf = spark.createDataFrame(
      raw.map { case (_, part) => RpcExtract.blockHeader(part, conf.chainId) },
      RpcSource.blocksSchema)
    val txDf = spark.createDataFrame(
      raw.flatMap { case (_, part) => RpcExtract.blockTransactions(part, conf.chainId) },
      RpcSource.transactionsSchema)
    (blocksDf, txDf, () => { raw.unpersist(); () })
  }

  /** Fetch logs over block ranges, one unbatched eth_getLogs per
    * `innerRequestSize` blocks (the use_block_ranges path, cryo
    * datasets/logs.rs:58-60). The address and the topic0..3 position
    * filter push down into the server-side filter
    * (types/rpc_params.rs:99-131): interior wildcards are None, trailing
    * ones are trimmed. */
  def fetchLogs(spark: SparkSession, range: BlockSyntax.Range,
      address: Option[String] = None, topics: Seq[Option[String]] = Nil,
      numPartitions: Int = 32): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val conf = config
    val starts = range.start until range.endExclusive by conf.innerRequestSize
    val rdd = overList(spark, starts, numPartitions) { (link, ss) =>
      link.each(ss) { s0 =>
        val to = math.min(s0 + conf.innerRequestSize, range.endExclusive) - 1
        RpcCodec.getLogsRequest(1, s0, to, address, topics)
      }.flatMap { case (s0, json) =>
        val parsed = JsonMethods.parse(json)
        val results = (parsed \ "result") match {
          case JArray(xs) => xs
          case JNothing | JNull =>
            // an error response (e.g. the ubiquitous provider cap
            // "query returned more than 10000 results") must FAIL the
            // range, not silently write a bronze missing its logs
            throw new RuntimeException(
              s"eth_getLogs failed for blocks from $s0: " +
                JsonMethods.compact(JsonMethods.render(parsed \ "error")) +
                " — lower --inner-request-size to shrink the window")
          case other => throw new RuntimeException(
            s"eth_getLogs: unexpected result shape from $s0: " +
              JsonMethods.compact(JsonMethods.render(other)).take(200))
        }
        results.iterator.map { r =>
          def str(k: String): String = (r \ k) match {
            case JString(v) => v; case _ => null
          }
          val topics = (r \ "topics") match {
            case JArray(ts) => ts.collect { case JString(t) => RpcCodec.parseHexBytes(t) }
            case _ => Nil
          }
          val data = RpcCodec.parseHexBytes(str("data"))
          Row(
            RpcCodec.parseHexLong(str("blockNumber")).toInt,
            RpcCodec.parseHexLong(str("transactionIndex")).toInt,
            RpcCodec.parseHexLong(str("logIndex")).toInt,
            RpcCodec.parseHexBytes(str("transactionHash")),
            RpcCodec.parseHexBytes(str("blockHash")),
            RpcCodec.parseHexBytes(str("address")),
            topics, data,
            if (data == null) 0 else data.length,
            conf.chainId)
        }
      }
    }
    spark.createDataFrame(rdd, RpcSource.logsSchema)
  }

  /** Generic per-block fetch: one request per block, batched by the fetch
    * loop and parsed by a pure RpcExtract function into bronze rows. */
  private def fetchPerBlock(spark: SparkSession, range: BlockSyntax.Range,
      schema: StructType, numPartitions: Int)(
      request: (Long, Long) => String)(
      parse: (String, Long) => Seq[Row]): DataFrame =
    spark.createDataFrame(
      fetchPerBlockRaw(spark, range, numPartitions)(request)
        .flatMap { case (n, part) => parse(part, n) },
      schema)

  /** The fetch under fetchPerBlock, yielding raw (block, response part)
    * pairs so a shared extraction pass can persist once and parse into
    * several bronze shapes. An error part fails the block: every
    * array-shaped parser downstream maps "not an array" to Nil, which
    * would write a bronze missing the block. */
  private def fetchPerBlockRaw(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int)(
      request: (Long, Long) => String): RDD[(Long, String)] =
    overBlocks(spark, range, numPartitions) { (link, nums) =>
      link.batched(nums)(Fail(n => s"block $n"), (n, id) => Seq(request(id, n)))
        .map { case (n, Seq(part)) => (n, part) }
    }

  /** rpc_receipts via eth_getBlockReceipts (transactions.rs:131-135),
    * degrading per block to batched eth_getTransactionReceipt when the
    * node rejects the block call (cryo types/sources.rs:66-107 falls
    * back the same way — older geth and several hosted providers lack
    * eth_getBlockReceipts). Failed blocks re-fetch their tx hash lists
    * (eth_getBlockByNumber, hashes only) and fan out per-tx receipt
    * requests through the same Link, so degraded mode keeps the fast
    * path's window and rate budget. Blocks the node answers cost zero
    * extra round trips. */
  def fetchReceipts(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int = 32): DataFrame = {
    val rdd = overBlocks(spark, range, numPartitions) { (link, nums) =>
      val failed = scala.collection.mutable.ArrayBuffer.empty[Long]
      val fast = link.batched(nums)(Keep,
        (n, id) => Seq(RpcCodec.getBlockReceiptsRequest(id, n))).flatMap {
        case (n, Seq(part)) =>
          if (RpcSource.isError(part)) { failed += n; Nil }
          else RpcExtract.blockReceipts(part)
      }
      // evaluated only after `fast` drains (Iterator.++ is by-name), so
      // `failed` is complete. The fallback is the LAST resort: its error
      // parts fail, or rpc_receipts would come out short
      def fallback: Iterator[Row] = {
        val hashes = link.batched(failed.iterator)(
          Fail(n => s"block $n (receipt fallback hash list)"),
          (n, id) => Seq(RpcCodec.getBlockRequest(id, n, fullTxs = false)))
          .flatMap { case (_, Seq(part)) => RpcExtract.blockTxHashes(part) }
        link.batched(hashes)(Fail(h => s"receipt of $h (receipt fallback)"),
          (h, id) => Seq(RpcCodec.getTransactionReceiptRequest(id, h)))
          .flatMap { case (_, Seq(part)) => RpcExtract.transactionReceipt(part) }
      }
      fast ++ fallback
    }
    spark.createDataFrame(rdd, RpcSource.receiptsSchema)
  }

  /** rpc_traces via trace_block (traces.rs extract). */
  def fetchTraces(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int = 32): DataFrame =
    fetchPerBlock(spark, range, RpcSource.tracesSchema, numPartitions)(
      (i, n) => RpcCodec.traceBlockRequest(i, n))(
      (body, _) => RpcExtract.traceBlock(body, config.chainId))

  /** rpc_geth_prestate via debug_traceBlockByNumber(prestateTracer,
    * diffMode) (geth_state_diffs.rs extract). */
  def fetchGethPrestate(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int = 32): DataFrame =
    fetchPerBlock(spark, range, RpcSource.gethPrestateSchema, numPartitions)(
      (i, n) => RpcCodec.debugTraceBlockRequest(i, n,
        tracer = Some("prestateTracer"), diffMode = true))(
      (body, n) => RpcExtract.gethPrestateBlock(body, n.toInt, config.chainId))

  /** rpc_geth_calls via debug_traceBlockByNumber(callTracer)
    * (geth_calls.rs extract). */
  def fetchGethCalls(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int = 32): DataFrame =
    fetchPerBlock(spark, range, RpcSource.gethCallsSchema, numPartitions)(
      (i, n) => RpcCodec.debugTraceBlockRequest(i, n, tracer = Some("callTracer")))(
      (body, n) => RpcExtract.gethCallFrames(body, n.toInt, config.chainId))

  /** The four rpc_*_diffs bronzes via ONE trace_replayBlockTransactions
    * (stateDiff) pass (multi_datasets/state_diffs.rs:8-75): the response
    * is parsed once into a tagged union RDD, persisted, and projected
    * into the per-family bronze shapes — the node is hit once per block,
    * not once per family. Caller unpersists via the returned handle. */
  def fetchStateDiffs(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int = 32): (Map[String, DataFrame], () => Unit) = {
    val conf = config
    val unified = fetchPerBlock(spark, range,
      RpcSource.stateDiffUnionSchema, numPartitions)(
      (i, n) => RpcCodec.traceReplayBlockRequest(i, n)) { (body, n) =>
      val d = RpcExtract.stateDiffBlock(body, n.toInt, conf.chainId)
      def tag(kind: String, rs: Seq[Row]): Seq[Row] = rs.map { r =>
        // normalize each family's shape into the union row
        kind match {
          case "storage" => Row(kind, r.getInt(0), r.getInt(1), r.get(2),
            r.get(3), r.get(4), r.get(5), r.get(6), null, null, conf.chainId)
          case "nonce" => Row(kind, r.getInt(0), r.getInt(1), r.get(2),
            r.get(3), null, null, null, r.get(4), r.get(5), conf.chainId)
          case k => Row(k, r.getInt(0), r.getInt(1), r.get(2),
            r.get(3), null, r.get(4), r.get(5), null, null, conf.chainId)
        }
      }
      tag("balance", d.balances) ++ tag("code", d.codes) ++
        tag("nonce", d.nonces) ++ tag("storage", d.storage)
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import org.apache.spark.sql.functions.col
    val common = Seq(col("block_number"), col("transaction_index"),
      col("transaction_hash"), col("address"))
    Map(
      "rpc_balance_diffs" -> unified.filter(col("kind") === "balance")
        .select(common ++ Seq(col("from_bin").as("from_value"),
          col("to_bin").as("to_value"), col("chain_id")): _*),
      "rpc_code_diffs" -> unified.filter(col("kind") === "code")
        .select(common ++ Seq(col("from_bin").as("from_value"),
          col("to_bin").as("to_value"), col("chain_id")): _*),
      "rpc_nonce_diffs" -> unified.filter(col("kind") === "nonce")
        .select(common ++ Seq(col("from_long").as("from_value"),
          col("to_long").as("to_value"), col("chain_id")): _*),
      "rpc_storage_diffs" -> unified.filter(col("kind") === "storage")
        .select(common ++ Seq(col("slot"), col("from_bin").as("from_value"),
          col("to_bin").as("to_value"), col("chain_id")): _*)) ->
      // unpersist handle — same contract as fetchBlocksAndTransactions:
      // the caller frees the shared replay pass after writing all four
      // bronzes, or the MEMORY_AND_DISK blocks pin for the session
      (() => { unified.unpersist(); () })
  }

  /** rpc_calls via batched eth_call: the (contract, calldata) cross
    * product at each sampled block (eth_calls.rs extract; the param
    * cross-product of cli/parse/args). The one batched reader that keeps
    * error parts: a reverted call is a row with a null output. */
  def fetchEthCalls(spark: SparkSession, blocks: Seq[Long],
      calls: Seq[(String, String)], numPartitions: Int = 32): DataFrame = {
    val conf = config
    val work = for (b <- blocks; (to, data) <- calls) yield (b, to, data)
    val rdd = overList(spark, work, numPartitions) { (link, items) =>
      link.batched(items)(Keep, { case ((b, to, data), id) =>
        Seq(RpcCodec.ethCallRequest(id, to, data, b)) }).map {
        case ((b, to, data), Seq(res)) =>
          RpcExtract.ethCallRow(b.toInt, RpcCodec.parseHexBytes(to),
            RpcCodec.parseHexBytes(data), res, conf.chainId)
      }
    }
    spark.createDataFrame(rdd, RpcSource.callsSchema)
  }

  /** rpc_geth_opcodes via debug_traceBlockByNumber default tracer
    * (geth_opcodes.rs extract — struct logs per tx). The capture flags
    * default off: memory/stack/storage cost the node dearly and are
    * excluded from the default schema (schema-pruned fetch flags). */
  def fetchGethOpcodes(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int = 32, memory: Boolean = false,
      stack: Boolean = false, storage: Boolean = false): DataFrame =
    fetchPerBlock(spark, range, RpcSource.gethOpcodesSchema, numPartitions)(
      (i, n) => RpcCodec.debugTraceBlockOpcodeRequest(i, n, memory, stack, storage))(
      (body, n) => RpcExtract.gethOpcodesBlock(body, n.toInt, config.chainId))

  /** rpc_js_traces via debug_traceBlockByNumber with a user JS tracer
    * (javascript_traces.rs extract). */
  def fetchJsTraces(spark: SparkSession, range: BlockSyntax.Range,
      js: String, numPartitions: Int = 32): DataFrame =
    fetchPerBlock(spark, range, RpcSource.jsTracesSchema, numPartitions)(
      (i, n) => RpcCodec.debugTraceBlockJsRequest(i, n, js))(
      (body, n) => RpcExtract.jsTraceBlock(body, n.toInt, config.chainId))

  /** rpc_vm_traces via trace_replayBlockTransactions(vmTrace)
    * (vm_traces.rs extract). */
  def fetchVmTraces(spark: SparkSession, range: BlockSyntax.Range,
      numPartitions: Int = 32): DataFrame =
    fetchPerBlock(spark, range, RpcSource.vmTracesSchema, numPartitions)(
      (i, n) => RpcCodec.traceReplayBlockVmRequest(i, n))(
      (body, n) => RpcExtract.vmTraceBlock(body, n.toInt, config.chainId))

  /** rpc_accounts via batched point lookups: (balance, nonce, code) per
    * (block × address) — the balances/nonces/codes dataset extracts
    * (datasets/{balances,nonces,codes}.rs) share one bronze. Three
    * requests per item ride one batch, ids encode item×3+field. */
  def fetchAccounts(spark: SparkSession, blocks: Seq[Long],
      addresses: Seq[String], numPartitions: Int = 32): DataFrame = {
    import org.json4s._
    val conf = config
    val work = for (b <- blocks; a <- addresses) yield (b, a)
    def res(s: String): String =
      (org.json4s.jackson.JsonMethods.parse(s) \ "result") match {
        case JString(x) => x; case _ => null
      }
    val rdd = overList(spark, work, numPartitions) { (link, items) =>
      link.batched(items, callsPerItem = 3)(
        Fail { case (b, a) => s"account $a at block $b" },
        { case ((b, a), id) => Seq(
          RpcCodec.getBalanceRequest(id, a, b),
          RpcCodec.getTransactionCountRequest(id + 1, a, b),
          RpcCodec.getCodeRequest(id + 2, a, b)) }).map {
        case ((b, a), Seq(balB, nonB, codB)) =>
          Row(b.toInt, RpcCodec.parseHexBytes(a),
            Option(res(balB)).map(RpcCodec.parseHexU256).orNull,
            Option(res(nonB)).map(RpcCodec.parseHexLong).getOrElse(0L),
            Option(res(codB)).map(RpcCodec.parseHexBytes).orNull,
            conf.chainId)
      }
    }
    spark.createDataFrame(rdd, RpcSource.accountsSchema)
  }

  /** rpc_storage via batched eth_getStorageAt over
    * (block × (address, slot)) (datasets/storages.rs extract). */
  def fetchStorage(spark: SparkSession, blocks: Seq[Long],
      slots: Seq[(String, String)], numPartitions: Int = 32): DataFrame = {
    import org.json4s._
    val conf = config
    val work = for (b <- blocks; (a, s) <- slots) yield (b, a, s)
    val rdd = overList(spark, work, numPartitions) { (link, items) =>
      link.batched(items)(Fail { case (b, a, s) => s"slot $s of $a at block $b" },
        { case ((b, a, s), id) => Seq(RpcCodec.getStorageAtRequest(id, a, s, b)) })
        .map { case ((b, a, s), Seq(part)) =>
          val v = (org.json4s.jackson.JsonMethods.parse(part) \ "result") match {
            case JString(x) => RpcCodec.parseHexU256(x); case _ => null
          }
          Row(b.toInt, RpcCodec.parseHexBytes(a),
            RpcCodec.parseHexU256(s), v, conf.chainId)
        }
    }
    spark.createDataFrame(rdd, RpcSource.storageSchema)
  }

  /** rpc_trace_calls via batched trace_call: the simulated call's trace
    * tree per (block × (contract, calldata)) (trace_calls.rs extract). */
  def fetchTraceCalls(spark: SparkSession, blocks: Seq[Long],
      calls: Seq[(String, String)], numPartitions: Int = 32): DataFrame = {
    val conf = config
    val work = for (b <- blocks; (to, data) <- calls) yield (b, to, data)
    val rdd = overList(spark, work, numPartitions) { (link, items) =>
      link.batched(items)(Fail { case (b, to, _) => s"trace_call to $to at block $b" },
        { case ((b, to, data), id) => Seq(RpcCodec.traceCallRequest(id, to, data, b)) })
        .flatMap { case ((b, to, data), Seq(part)) =>
          RpcExtract.traceCallRows(part, b.toInt,
            RpcCodec.parseHexBytes(to), RpcCodec.parseHexBytes(data),
            conf.chainId)
        }
    }
    spark.createDataFrame(rdd, RpcSource.traceCallsSchema)
  }

  /** one driver-side request (no rate share: the driver sends one at a
    * time) */
  private def driverCall(body: String): String = new Link(1, 0.0).call(body)

  /** latest block via eth_blockNumber (driver-side, one request) */
  def fetchLatestBlock(): Long = {
    val body = driverCall(
      """{"jsonrpc":"2.0","id":1,"method":"eth_blockNumber","params":[]}""")
    import org.json4s._
    (org.json4s.jackson.JsonMethods.parse(body) \ "result") match {
      case JString(s) => RpcCodec.parseHexLong(s)
      case _ => throw new IllegalArgumentException("bad eth_blockNumber response")
    }
  }

  /** chain id via eth_chainId (driver-side; sources.rs:119-150 detect) */
  def fetchChainId(): Long =
    RpcConfig.parseChainId(driverCall(RpcConfig.chainIdRequest(1)))

  /** Live-mode bronze materialization for a CLI run: fetch ONLY the
    * bronze tables the requested datasets read, into `outDir` — after
    * this every ChainDatasets transform runs unchanged against outDir.
    * Entity-scoped bronzes (accounts/storage/calls) require the matching
    * entity lists and fail fast with a clear message otherwise.
    *
    * `txNeedsReceipts=false` is the column-aware half of the transactions
    * dependency: when the resolved schema excludes gas_used AND success,
    * the receipt fetch is skipped entirely — one fewer RPC per block on
    * the most-used dataset (cryo transactions.rs:124-135 fetches receipts
    * conditionally the same way). Other receipt consumers
    * (address_appearances) keep their dependency regardless. */
  def materializeBronze(spark: SparkSession, outDir: String,
      range: BlockSyntax.Range, datasets: Seq[String],
      addresses: Seq[String] = Nil, slots: Seq[String] = Nil,
      calls: Seq[(String, String)] = Nil, jsTracer: Option[String] = None,
      numPartitions: Int = 32, txNeedsReceipts: Boolean = true): Unit = {
    val deps = RpcSource.bronzeDeps
    val unknown = datasets.filterNot(deps.contains)
    require(unknown.isEmpty,
      s"live extraction not wired for: ${unknown.mkString(", ")}")
    val need = datasets.flatMap { d =>
      if (d == "transactions" && !txNeedsReceipts) deps(d) - "rpc_receipts"
      else deps(d)
    }.toSet
    val blocks = range.start until range.endExclusive
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def put(name: String)(df: => DataFrame): Unit =
      if (need(name)) write(name, df)
    if (need("rpc_transactions")) {
      // blocks_and_transactions multi: ONE full-block pass serves both
      // bronzes — every dataset that reads rpc_transactions also reads
      // rpc_blocks, so there is no separate header fetch
      val (b, t, done) = fetchBlocksAndTransactions(spark, range, numPartitions)
      write("rpc_blocks", b)
      write("rpc_transactions", t)
      done()
    } else put("rpc_blocks")(fetchBlocks(spark, range, numPartitions))
    put("rpc_receipts")(fetchReceipts(spark, range, numPartitions))
    put("rpc_logs")(fetchLogs(spark, range, numPartitions = numPartitions))
    put("rpc_traces")(fetchTraces(spark, range, numPartitions))
    put("rpc_geth_prestate")(fetchGethPrestate(spark, range, numPartitions))
    put("rpc_geth_calls")(fetchGethCalls(spark, range, numPartitions))
    put("rpc_geth_opcodes")(fetchGethOpcodes(spark, range, numPartitions))
    put("rpc_vm_traces")(fetchVmTraces(spark, range, numPartitions))
    if (need.exists(_.endsWith("_diffs"))) {
      val (diffs, diffsDone) = fetchStateDiffs(spark, range, numPartitions)
      diffs.foreach { case (name, df) => put(name)(df) }
      diffsDone()
    }
    if (need("rpc_accounts")) {
      require(addresses.nonEmpty,
        "balances/nonces/codes live extraction requires --address")
      write("rpc_accounts", fetchAccounts(spark, blocks, addresses, numPartitions))
    }
    if (need("rpc_storage")) {
      require(slots.nonEmpty && addresses.nonEmpty,
        "slots live extraction requires --address and --slot")
      val pairs = for (a <- addresses; s <- slots) yield (a, s)
      write("rpc_storage", fetchStorage(spark, blocks, pairs, numPartitions))
    }
    if (need("rpc_calls")) {
      require(calls.nonEmpty,
        "eth_calls live extraction requires --contract and --call-data/--function")
      write("rpc_calls", fetchEthCalls(spark, blocks, calls, numPartitions))
    }
    if (need("rpc_trace_calls")) {
      require(calls.nonEmpty,
        "trace_calls live extraction requires --contract and --call-data/--function")
      write("rpc_trace_calls", fetchTraceCalls(spark, blocks, calls, numPartitions))
    }
    if (need("rpc_js_traces")) {
      require(jsTracer.nonEmpty,
        "javascript_traces live extraction requires --js-tracer")
      write("rpc_js_traces", fetchJsTraces(spark, range, jsTracer.get, numPartitions))
    }
  }
}

object RpcSource {
  /** What a batched stage does with a per-request JSON-RPC error part. */
  private sealed trait OnError[-A]
  /** fail the batch, naming the item the part answers */
  private final case class Fail[A](what: A => String) extends OnError[A]
  /** hand the part to the caller, which reads the error as data */
  private case object Keep extends OnError[Any]

  /** which bronze tables each dataset's transform reads (mirrors the
    * fx() calls in ChainDatasets; BronzeDepsSpec pins the two together) */
  private[graft] val bronzeDeps: Map[String, Set[String]] = {
    val logsD = Set("rpc_logs")
    val tracesD = Set("rpc_traces")
    val prestateD = Set("rpc_geth_prestate")
    val callsD = Set("rpc_calls")
    val diffsD = Set("rpc_balance_diffs", "rpc_code_diffs",
      "rpc_nonce_diffs", "rpc_storage_diffs")
    Map(
      "blocks" -> Set("rpc_blocks"),
      "transactions" -> Set("rpc_transactions", "rpc_receipts", "rpc_blocks"),
      "logs" -> logsD, "erc20_transfers" -> logsD, "erc20_approvals" -> logsD,
      "erc721_transfers" -> logsD,
      "traces" -> tracesD, "native_transfers" -> tracesD,
      "contracts" -> tracesD, "four_byte_counts" -> tracesD,
      "address_appearances" -> Set("rpc_blocks", "rpc_transactions",
        "rpc_receipts", "rpc_logs", "rpc_traces"),
      "balances" -> Set("rpc_accounts"), "nonces" -> Set("rpc_accounts"),
      "codes" -> Set("rpc_accounts"), "slots" -> Set("rpc_storage"),
      "balance_diffs" -> diffsD, "code_diffs" -> diffsD,
      "nonce_diffs" -> diffsD, "storage_diffs" -> diffsD,
      "geth_balance_diffs" -> prestateD, "geth_code_diffs" -> prestateD,
      "geth_nonce_diffs" -> prestateD, "geth_storage_diffs" -> prestateD,
      "balance_reads" -> prestateD, "code_reads" -> prestateD,
      "nonce_reads" -> prestateD, "storage_reads" -> prestateD,
      "eth_calls" -> callsD, "erc20_metadata" -> callsD,
      "erc20_supplies" -> callsD, "erc20_balances" -> callsD,
      "vm_traces" -> Set("rpc_vm_traces"),
      "geth_opcodes" -> Set("rpc_geth_opcodes"),
      "geth_calls" -> Set("rpc_geth_calls"),
      "javascript_traces" -> Set("rpc_js_traces"),
      "trace_calls" -> Set("rpc_trace_calls"))
  }

  /** split a batched JSON-RPC response into per-request bodies, in id
    * order (ids are the batch indices). The `error` member rides along
    * so callers can detect per-request failures (a node rejecting one
    * method still answers 200 with an error object per request). */
  def splitBatch(json: String, expected: Int = -1): Seq[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json) match {
      case JArray(xs) =>
        // short batches MUST fail here: every caller zips the request
        // list positionally against this result, so a node answering
        // fewer responses than requests would silently drop work or
        // pair block k with block k+1's response
        if (expected >= 0 && xs.size != expected)
          throw new RuntimeException(
            s"JSON-RPC batch answered ${xs.size} of $expected requests; " +
              "lower --inner-request-size if the node caps batch sizes")
        xs.sortBy(x => (x \ "id") match {
          case JInt(i) => i.toLong; case _ => 0L
        }).map(x => JsonMethods.compact(JsonMethods.render(
          JObject("result" -> (x \ "result"), "error" -> (x \ "error")))))
      case other =>
        // a batch-LEVEL failure (provider rejecting batch requests, a
        // size cap, a proxy error body) answers 200 with a single
        // object — returning Nil here silently vanished whole batches
        val err = (other \ "error") match {
          case JNothing => json.take(200)
          case e => JsonMethods.compact(JsonMethods.render(e))
        }
        throw new RuntimeException(s"JSON-RPC batch request failed: $err")
    }
  }

  /** true when a split response part carries a JSON-RPC error object —
    * an explicit `"error": null` member (some nodes always emit the
    * field) is NOT an error */
  def isError(part: String): Boolean = {
    import org.json4s._
    (org.json4s.jackson.JsonMethods.parse(part) \ "error") match {
      case JNothing | JNull => false
      case _ => true
    }
  }

  private def f(n: String, t: DataType, nullable: Boolean = true) = StructField(n, t, nullable)
  val blocksSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("block_hash", BinaryType, false),
    f("parent_hash", BinaryType, false), f("uncles_hash", BinaryType),
    f("author", BinaryType), f("state_root", BinaryType),
    f("transactions_root", BinaryType), f("receipts_root", BinaryType),
    f("gas_used", LongType), f("gas_limit", LongType),
    f("extra_data", BinaryType), f("logs_bloom", BinaryType),
    f("timestamp", IntegerType, false), f("difficulty", LongType),
    f("size", LongType), f("mix_hash", BinaryType), f("nonce", BinaryType),
    f("base_fee_per_gas", LongType), f("withdrawals_root", BinaryType),
    f("total_difficulty", BinaryType), f("chain_id", LongType, false)))
  val logsSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("transaction_index", IntegerType, false),
    f("log_index", IntegerType, false), f("transaction_hash", BinaryType, false),
    f("block_hash", BinaryType), f("address", BinaryType, false),
    f("topics", ArrayType(BinaryType, containsNull = false), false),
    f("data", BinaryType), f("n_data_bytes", IntegerType),
    f("chain_id", LongType, false)))
  val transactionsSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("transaction_index", IntegerType, false),
    f("transaction_hash", BinaryType, false), f("block_hash", BinaryType),
    f("nonce", LongType), f("from_address", BinaryType), f("to_address", BinaryType),
    f("value", BinaryType), f("input", BinaryType), f("gas_limit", LongType),
    f("gas_price", LongType), f("max_fee_per_gas", LongType),
    f("max_priority_fee_per_gas", LongType), f("transaction_type", IntegerType),
    f("r", BinaryType), f("s", BinaryType), f("v", BooleanType),
    f("timestamp", IntegerType), f("chain_id", LongType, false)))
  val receiptsSchema: StructType = StructType(Seq(
    f("transaction_hash", BinaryType, false), f("gas_used", LongType),
    f("status", IntegerType)))
  val tracesSchema: StructType = StructType(Seq(
    f("action_from", BinaryType), f("action_to", BinaryType),
    f("action_value", StringType), f("action_gas", IntegerType),
    f("action_input", BinaryType), f("action_call_type", StringType),
    f("action_init", BinaryType), f("action_reward_type", StringType),
    f("action_type", StringType, false), f("result_gas_used", IntegerType),
    f("result_output", BinaryType), f("result_code", BinaryType),
    f("result_address", BinaryType), f("trace_address", StringType, false),
    f("subtraces", IntegerType, false), f("error", StringType),
    f("block_number", IntegerType, false), f("block_hash", BinaryType),
    f("transaction_index", IntegerType), f("transaction_hash", BinaryType),
    f("chain_id", LongType, false)))
  val gethPrestateSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("transaction_index", IntegerType, false),
    f("transaction_hash", BinaryType), f("phase", StringType, false),
    f("address", BinaryType, false), f("balance", BinaryType),
    f("nonce", LongType), f("code", BinaryType), f("slot", BinaryType),
    f("slot_value", BinaryType), f("chain_id", LongType, false)))
  val gethCallsSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("transaction_index", IntegerType, false),
    f("from_address", BinaryType), f("to_address", BinaryType),
    f("value", BinaryType), f("gas", LongType), f("gas_used", LongType),
    f("input", BinaryType), f("output", BinaryType),
    f("call_type", StringType, false), f("error", StringType),
    f("depth", IntegerType, false), f("chain_id", LongType, false)))
  val callsSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("contract_address", BinaryType, false),
    f("call_data", BinaryType, false), f("output_data", BinaryType),
    f("chain_id", LongType, false)))
  val gethOpcodesSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("transaction_index", IntegerType, false),
    f("pc", LongType, false), f("op", StringType), f("gas", LongType),
    f("gas_cost", LongType), f("depth", IntegerType),
    f("memory", StringType), f("stack", StringType), f("storage", StringType),
    f("chain_id", LongType, false)))
  val jsTracesSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("transaction_index", IntegerType, false),
    f("transaction_hash", BinaryType), f("output", StringType),
    f("chain_id", LongType, false)))
  val vmTracesSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("transaction_index", IntegerType, false),
    f("pc", LongType, false), f("cost", LongType),
    f("used", LongType), f("push", BinaryType),
    f("mem_off", IntegerType), f("mem_data", BinaryType),
    f("storage_key", BinaryType), f("storage_val", BinaryType),
    f("op", StringType), f("chain_id", LongType, false)))
  val accountsSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("address", BinaryType, false),
    f("balance", BinaryType), f("nonce", LongType), f("code", BinaryType),
    f("chain_id", LongType, false)))
  val storageSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("address", BinaryType, false),
    f("slot", BinaryType, false), f("value", BinaryType),
    f("chain_id", LongType, false)))
  val traceCallsSchema: StructType = StructType(Seq(
    f("block_number", IntegerType, false), f("contract_address", BinaryType, false),
    f("tx_call_data", BinaryType, false), f("action_from", BinaryType),
    f("action_to", BinaryType), f("action_value", StringType),
    f("action_gas", IntegerType), f("action_input", BinaryType),
    f("action_type", StringType), f("trace_address", StringType),
    f("subtraces", IntegerType), f("error", StringType),
    f("chain_id", LongType, false)))
  /** tagged union of the four state-diff families — one fetch pass,
    * projected into the per-family bronze shapes by fetchStateDiffs */
  val stateDiffUnionSchema: StructType = StructType(Seq(
    f("kind", StringType, false),
    f("block_number", IntegerType, false), f("transaction_index", IntegerType, false),
    f("transaction_hash", BinaryType), f("address", BinaryType, false),
    f("slot", BinaryType), f("from_bin", BinaryType), f("to_bin", BinaryType),
    f("from_long", LongType), f("to_long", LongType),
    f("chain_id", LongType, false)))
}
