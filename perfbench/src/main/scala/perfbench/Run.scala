package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` and `layers` carry a value and
  * a unit per metric; `named` holds the workload's own end-to-end
  * figures, printed on a detail line before the result line. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    named: Seq[(String, Double, String)],
    layers: Map[String, Double])

/** Shared state of one run: options, session, work dir, tracing. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val metrics = new SparkMetrics(spark)
  val spans = new Spans(opts.trace, s"${opts.workload}-${opts.seed}")
  def traced: Boolean = opts.trace
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def fixDir: String = s"${opts.repo}/fixtures/chain_sf0.1"
  def dir(name: String): String = {
    val d = new File(opts.work, name)
    d.mkdirs()
    d.getPath
  }
  /** seconds of `body`; when traced, inside span and job group `g` */
  def timed[T](g: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = if (traced) spans.span(g)(metrics.inGroup(g)(body)) else body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, repo: String, work: String, cpus: Int, cache: String,
    prepare: Boolean)

object Setup {
  /** how many times a run repeats its set-up; the median is reported */
  val Repeats = 3

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Run {
  val E2E: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s",
    "chunk_latency_p50_s" -> "s", "node_requests_per_block" -> "count")

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("repo"), need("work"),
      Runtime.getRuntime.availableProcessors, need("cache"),
      m.get("prepare").contains("1"))
  }

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(opts.cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = new Ctx(spark, opts)
    if (opts.prepare) {
      // fills the caches in a JVM of its own, so every measured run
      // starts equally cold
      opts.workload match {
        case "freeze_rpc" => FreezeRpc.prepare(ctx)
        case "follow_head" => FollowHead.prepare(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      spark.stop()
      sys.exit(0)
    }
    ctx.log(f"session ready after $sessionS%.2fs")
    if (opts.trace) ctx.metrics.register()
    // a failed run exits at once: Spark's threads would keep the JVM up
    val out: Outcome = try opts.workload match {
      case "freeze_rpc" => FreezeRpc.run(ctx, sessionS)
      case "follow_head" => FollowHead.run(ctx, sessionS)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    if (opts.trace) ctx.metrics.unregister()

    val named = out.named.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"workload":"${opts.workload}","seed":${opts.seed},"named":$named}""")
    val metrics =
      if (!opts.trace)
        E2E.map { case (k, u) => s""""$k":{"value":${num(out.e2e(k))},"unit":"$u"}""" }
      else {
        val all = ctx.metrics.all
        val layers = out.layers ++ Map(
          "spark.jobs" -> all.jobs.toDouble, "spark.tasks" -> all.tasks.toDouble,
          "spark.task_s" -> all.taskNanos / 1e9, "spark.gc_s" -> all.gcMs / 1e3,
          "spark.input_mb" -> all.inputBytes / 1e6,
          "spark.shuffle_mb" -> all.shuffleBytes / 1e6,
          "spark.spill_mb" -> all.spillBytes / 1e6,
          "spark.output_mb" -> all.outputBytes / 1e6,
          "spark.sql_executions" -> all.sqlExecutions.toDouble,
          "spark.sql_s" -> all.sqlNanos / 1e9,
          "jvm.heap_peak_mb" -> heapPeakMb) ++
          E2E.map { case (k, _) => s"traced.$k" -> out.e2e(k) }
        val spansFile = Paths.get(opts.work, "spans.jsonl")
        ctx.spans.write(spansFile)
        val self = ctx.spans.selfSeconds.toSeq.sortBy(-_._2)
          .map { case (n, s) => s""""$n":${num(s)}""" }.mkString("{", ",", "}")
        println(s"""{"span_self_s":$self}""")
        Layers.names.map { case (k, u) =>
          s""""$k":{"value":${num(layers.getOrElse(k, 0.0))},"unit":"$u"}""" }
      }
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":${metrics.mkString("{", ",", "}")}}""")
    spark.stop()
    System.out.flush()
    sys.exit(0)
  }
}

/** Every per-layer metric a traced run prints. A layer a workload does
  * not reach reads 0. */
object Layers {
  val methods: Seq[String] = Seq("eth_chainId", "eth_blockNumber",
    "eth_getBlockByNumber", "eth_getBlockReceipts", "eth_getLogs",
    "trace_block", "trace_replayBlockTransactions")
  val fetches: Seq[String] = Seq("blocks_and_transactions", "receipts",
    "logs", "traces", "state_diffs")
  val datasets: Seq[String] = Seq("blocks", "transactions", "logs", "traces",
    "erc20_transfers", "native_transfers", "contracts", "balance_diffs",
    "storage_diffs")

  val names: Seq[(String, String)] =
    Seq("node.http_requests" -> "count", "node.rpc_calls" -> "count",
      "node.calls_per_request" -> "count") ++
    methods.map(m => s"node.requests.$m" -> "count") ++
    Seq("node.response_mb" -> "MB", "node.injected_429" -> "count",
      "node.retried_requests" -> "count", "node.useful_share" -> "ratio",
      "node.max_inflight" -> "count", "node.busy_s" -> "s",
      "sources.materialize_s" -> "s") ++
    fetches.map(f => s"sources.fetch_s.$f" -> "s") ++
    Seq("sources.parse_mb_per_s" -> "MB/s", "sources.bronze_write_s" -> "s",
      "chain.freeze_s" -> "s") ++
    datasets.map(d => s"chain.transform_s.$d" -> "s") ++
    Seq("chain.spark_jobs" -> "count", "chain.files_written" -> "count",
      "chain.output_mb" -> "MB", "chain.report_files" -> "count",
      "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms",
      "streaming.batch_p90_ms" -> "ms", "streaming.bronze_files" -> "count",
      "streaming.backlog_max_blocks" -> "count", "streaming.spark_jobs" -> "count") ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
      "spark.gc_s" -> "s", "spark.input_mb" -> "MB", "spark.shuffle_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.output_mb" -> "MB", "spark.sql_executions" -> "count",
      "spark.sql_s" -> "s", "jvm.heap_peak_mb" -> "MB") ++
    Run.E2E.map { case (k, u) => s"traced.$k" -> u }
}

/** Files a freeze wrote, with first-seen times from a polling watcher. */
final class OutputWatcher(dir: String, pollMs: Long = 5) {
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      Option(new File(dir).listFiles()).foreach(_.foreach { f =>
        val n = f.getName
        if (!n.startsWith(".") && !n.startsWith("_") && n.contains("__"))
          seen.putIfAbsent(n, System.nanoTime())
      })
      Thread.sleep(pollMs)
    }
  }, "perfbench-watcher")
  thread.setDaemon(true)
  thread.start()

  def stop(): Map[String, Long] = {
    running = false
    thread.join()
    seen.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
}

object Disk {
  def sizeOf(dir: String, pred: File => Boolean): Long =
    Option(new File(dir).listFiles()).getOrElse(Array.empty).filter(pred).map { f =>
      if (f.isDirectory) sizeOf(f.getPath, _ => true) else f.length
    }.sum

  def countFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }
  }
}
