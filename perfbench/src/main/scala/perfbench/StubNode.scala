package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A JSON-RPC node on 127.0.0.1 that serves pre-encoded fixture results.
  *
  * - `head` answers `eth_blockNumber`; a follow workload passes a clock.
  * - `delayMs` holds every response back, like a remote provider. The
  *   hold runs on one scheduler thread, so it never blocks a handler.
  * - Data requests (everything except `eth_chainId`/`eth_blockNumber`,
  *   whose callers back off for seconds) get HTTP 429 on their first
  *   attempt when a seeded hash of the body falls under `share429`.
  *   A repeated body is a retry and is always answered.
  * `useful_share` is distinct data requests answered over all requests.
  */
final class StubNode(chain: ChainResponses, head: () => Long,
    seed: Long, share429: Double, delayMs: Int, handlers: Int) {

  private val mapper = new ObjectMapper()
  private val pool = Executors.newFixedThreadPool(handlers)
  private val scheduler: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor()

  private val httpRequests = new LongAdder
  private val rpcCalls = new LongAdder
  private val responseBytes = new LongAdder
  private val injected429 = new LongAdder
  private val retried = new LongAdder
  private val busyNanos = new LongAdder
  private val inflight = new AtomicInteger
  private val maxInflight = new AtomicInteger
  private val seen = ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val answered = ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val perMethod = new ConcurrentHashMap[String, LongAdder]()
  /** (head, nanoTime) each time a higher head is first reported */
  private val headReports = new java.util.ArrayList[(Long, Long)]()
  private val highestReported = new AtomicLong(Long.MinValue)
  /** nanoTime of every request's arrival, and (nanoTime, head) of every
    * head poll */
  private val arrivals = new ConcurrentLinkedQueue[java.lang.Long]()
  private val polls = new ConcurrentLinkedQueue[(Long, Long)]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  /** Zeroes the counters and forgets which bodies were seen, so the
    * next pass of the same requests counts as first attempts again. */
  def newPass(): Unit = {
    Seq(httpRequests, rpcCalls, responseBytes, injected429, retried, busyNanos)
      .foreach(_.reset())
    maxInflight.set(0)
    seen.clear()
    answered.clear()
    perMethod.clear()
    arrivals.clear()
    polls.clear()
    headReports.synchronized {
      headReports.clear()
      highestReported.set(Long.MinValue)
    }
  }

  def stats: NodeStats = NodeStats(httpRequests.sum, rpcCalls.sum,
    responseBytes.sum, injected429.sum, retried.sum, answered.size.toLong,
    maxInflight.get, busyNanos.sum / 1e9,
    perMethod.asScala.map { case (k, v) => k -> v.sum }.toMap)
  /** first report time of a head at or above `block`, if any */
  def firstReportOf(block: Long): Option[Long] = headReports.synchronized {
    headReports.asScala.find(_._1 >= block).map(_._2)
  }

  /** Requests received in each whole poll cycle, from the second poll
    * that reported a head of at least `from` to the last poll: what a
    * follower asks of the node each time it looks. The start-up wait,
    * the first cycle (its poll may see only a sliver of new blocks) and
    * the final drain are left out. A cycle runs from one poll's arrival
    * to the next one's. */
  def pollCycles(from: Long): Seq[Int] = {
    val starts = polls.asScala.toSeq.sortBy(_._1).dropWhile(_._2 < from).drop(1).map(_._1)
    val ts = arrivals.asScala.toSeq
    starts.zip(starts.drop(1)).map { case (a, b) => ts.count(t => t >= a && t < b) }
  }

  def stop(): Unit = {
    server.stop(0)
    scheduler.shutdownNow()
    pool.shutdownNow()
    scheduler.awaitTermination(10, TimeUnit.SECONDS)
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }

  private def handle(ex: HttpExchange): Unit = {
    val arrived = System.nanoTime()
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
    httpRequests.increment()
    arrivals.add(arrived)
    val body = ex.getRequestBody.readAllBytes()
    val key = fnv64(body)
    val tree = mapper.readTree(body)
    val calls = if (tree.isArray) tree.elements.asScala.toSeq else Seq(tree)
    val dataRequest = calls.exists { c =>
      val m = c.path("method").asText()
      m != "eth_chainId" && m != "eth_blockNumber"
    }
    // head polls repeat their body by design; only data requests retry
    val firstAttempt = !dataRequest || seen.add(key)
    if (!firstAttempt) retried.increment()
    val inject = dataRequest && firstAttempt &&
      java.lang.Long.remainderUnsigned(Seeds.mix(key ^ seed), 1000000L) <
        (share429 * 1000000L).toLong
    val (status, out) =
      try if (inject) {
        injected429.increment()
        (429, """{"jsonrpc":"2.0","id":null,"error":{"code":429,"message":"rate limited"}}""")
      } else {
        if (dataRequest) answered.add(key)
        rpcCalls.add(calls.size.toLong)
        val parts = calls.map { c =>
          val m = c.path("method").asText()
          perMethod.computeIfAbsent(m, _ => new LongAdder).increment()
          "{\"jsonrpc\":\"2.0\",\"id\":" + c.path("id").toString +
            ",\"result\":" + answer(m, c.path("params"), arrived) + "}"
        }
        (200, if (tree.isArray) parts.mkString("[", ",", "]") else parts.head)
      } catch {
        case e: Exception =>
          System.err.println(s"[stub node] $e")
          (500, """{"jsonrpc":"2.0","id":null,"error":{"code":-32000,"message":"stub node failure"}}""")
      }
    val bytes = out.getBytes(UTF_8)
    responseBytes.add(bytes.length.toLong)
    busyNanos.add(System.nanoTime() - arrived)
    val send: Runnable = () => {
      try {
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } catch { case _: java.io.IOException => () }
      finally { ex.close(); inflight.decrementAndGet() }
    }
    val wait = arrived + delayMs * 1000000L - System.nanoTime()
    if (delayMs > 0 && wait > 0) scheduler.schedule(send, wait, TimeUnit.NANOSECONDS)
    else send.run()
  }

  private def block(p: JsonNode): Long =
    java.lang.Long.parseLong(p.asText().stripPrefix("0x"), 16)

  private def hexQty(n: Long): String = "\"0x" + java.lang.Long.toHexString(n) + "\""

  private def answer(method: String, params: JsonNode, arrived: Long): String = method match {
    case "eth_chainId" => hexQty(chain.chainId)
    case "eth_blockNumber" =>
      val h = head()
      polls.add((arrived, h))
      if (h > highestReported.get) headReports.synchronized {
        if (h > highestReported.get) {
          highestReported.set(h)
          headReports.add((h, System.nanoTime()))
        }
      }
      hexQty(h)
    case "eth_getBlockByNumber" =>
      val b = block(params.get(0))
      if (params.path(1).asBoolean(false)) chain.fullBlock(b) else chain.header(b)
    case "eth_getBlockReceipts" => chain.blockReceipts(block(params.get(0)))
    case "eth_getLogs" =>
      val f = params.get(0)
      chain.logsBetween(block(f.get("fromBlock")), block(f.get("toBlock")))
    case "trace_block" => chain.blockTraces(block(params.get(0)))
    case "trace_replayBlockTransactions" => chain.stateDiff(block(params.get(0)))
    case m => throw new IllegalArgumentException(s"stub node has no method $m")
  }
}

final case class NodeStats(httpRequests: Long, rpcCalls: Long,
    responseBytes: Long, injected429: Long, retried: Long, distinctAnswered: Long,
    maxInflight: Int, busyS: Double, byMethod: Map[String, Long]) {
  def layers: Map[String, Double] = Map(
    "node.http_requests" -> httpRequests.toDouble,
    "node.rpc_calls" -> rpcCalls.toDouble,
    "node.calls_per_request" -> rpcCalls.toDouble / math.max(1L, httpRequests),
    "node.response_mb" -> responseBytes / 1e6,
    "node.injected_429" -> injected429.toDouble,
    "node.retried_requests" -> retried.toDouble,
    "node.useful_share" -> distinctAnswered.toDouble / math.max(1L, httpRequests),
    "node.max_inflight" -> maxInflight.toDouble,
    "node.busy_s" -> busyS) ++
    byMethod.map { case (m, n) => s"node.requests.$m" -> n.toDouble }
}

object Seeds {
  /** splitmix64 finalizer */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
