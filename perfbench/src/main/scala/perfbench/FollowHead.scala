package perfbench

import graft.chain.{BlockSyntax, Freeze}
import graft.sources.{RpcConfig, RpcSource}
import graft.streaming.FollowMode

/** `follow_head`: an open loop. The stub node's head advances over the
  * fixture blocks at a fixed rate with seeded per-block jitter, and
  * every response waits 20 ms. `FollowMode.followLive` freezes settled
  * `blocks` chunks; the lag of a chunk runs from the first head report
  * that settles it to the moment its file appears. */
object FollowHead {
  val First = 1000L
  val ChunkSize = 50L
  val BlocksPerS = 50.0
  /** One head poll every two seconds. At followLive's default 250 ms the
    * poll loop's own fetch and append jobs saturate four cores and the
    * lag grows for as long as the run lasts; at one second a micro-batch
    * (about 1 s) fills most of a poll cycle, so on a loaded host it
    * overruns the next cycle and the lag jumps. */
  val PollMs = 2000L
  val DelayMs = 20
  /** The warm-up follows blocks the timed run does not use, at twice
    * the rate and half the poll interval, so the timed run starts in a
    * JVM that has run its loop and written its chunk files many times. */
  val WarmFirst = 4800L
  val WarmBlocks = 1600
  val WarmBlocksPerS = 2 * BlocksPerS
  val WarmPollMs = PollMs / 2

  /** A head that a block reaches at its arrival offset (s) after
    * `start()`: blocks evenly spaced at `BlocksPerS`, each moved by a
    * seeded jitter of up to a quarter of the spacing, so arrivals stay
    * ordered and the head is a pure function of the time. */
  final class HeadClock(seed: Long, first: Long, blocks: Int, blocksPerS: Double) {
    private val arrive = Array.tabulate(blocks) { i =>
      val u = (Seeds.mix(seed * 1000003L + first + i) >>> 11) / (1L << 53).toDouble
      (i + 0.5 + (u - 0.5) * 0.5) / blocksPerS
    }
    @volatile private var t0 = Long.MaxValue
    def start(): Unit = t0 = System.nanoTime()
    def headAt(nanos: Long): Long = {
      val i = java.util.Arrays.binarySearch(arrive, (nanos - t0) / 1e9)
      first - 1 + (if (i >= 0) i + 1 else -i - 1)
    }
  }

  /** the range end: what the head covers in the run's seconds, in whole chunks */
  def end(seconds: Int): Long =
    First + math.max(1L, (BlocksPerS * seconds / ChunkSize).toLong) * ChunkSize

  /** Fills the caches a run reads: the node's header responses and the
    * reference digests of a fixture-source freeze of the range. */
  def prepare(ctx: Ctx): Unit = {
    ChainResponses.cached(ctx.spark, ctx.fixDir, ctx.opts.cache, headersOnly = true)
    reference(ctx, end(ctx.opts.seconds))
  }

  private def reference(ctx: Ctx, end: Long): Map[String, Check.Digest] =
    Check.cached(ctx.opts.cache, s"follow_head_reference_${First}_${end}_$ChunkSize") {
      val refOut = ctx.dir("reference")
      graft.Cli.run(Array("blocks", "--blocks", s"$First:$end", "--chunk-size",
        ChunkSize.toString, "--output-dir", refOut, "--no-verbose",
        "--source-dir", ctx.fixDir), ctx.spark)
      Check.chunkDigests(ctx.spark, refOut)
    }

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    val opts = ctx.opts
    val End = end(opts.seconds)
    val warmClock = new HeadClock(opts.seed, WarmFirst, WarmBlocks, WarmBlocksPerS)
    val clock = new HeadClock(opts.seed, First, (End - First).toInt, BlocksPerS)
    @volatile var current = warmClock
    // set-up: the node's responses, read back Setup.Repeats times
    val encodes = (1 to Setup.Repeats).map(_ =>
      Setup.time(ChainResponses.cached(spark, ctx.fixDir, opts.cache, headersOnly = true)))
    val chain = encodes.last._1
    val node = new StubNode(chain, () => current.headAt(System.nanoTime()), opts.seed, 0.0,
      DelayMs, opts.cpus)
    try {
      val (_, warmS) = Setup.time {
        val spec = Freeze.FreezeSpec(Seq("blocks"), BlockSyntax.Range(WarmFirst, WarmFirst + WarmBlocks),
          chunkSize = ChunkSize, outputDir = ctx.dir("warm"))
        warmClock.start()
        FollowMode.followLive(spark, new RpcSource(RpcConfig(node.url, chainId = chain.chainId)),
          ctx.dir("warm-bronze"), spec, ctx.dir("warm-checkpoint"), pollMs = WarmPollMs)
      }
      node.newPass()
      ctx.metrics.batchMillis.synchronized(ctx.metrics.batchMillis.clear())
      val warmStreamingJobs = ctx.metrics.get("streaming").jobs
      current = clock
      val setupS = sessionS + Run.median(encodes.map(_._2)) + warmS
      ctx.log(f"set-up: responses ${encodes.map(e => f"${e._2}%.2f").mkString(" ")}s, warm follow $warmS%.2fs")
      val out = ctx.dir("follow")
      val bronze = ctx.dir("follow-bronze")
      val checkpoint = ctx.dir("follow-checkpoint")
      val spec = Freeze.FreezeSpec(Seq("blocks"), BlockSyntax.Range(First, End),
        chunkSize = ChunkSize, outputDir = out)
      val source = new RpcSource(RpcConfig(node.url, chainId = chain.chainId))
      val watcher = new OutputWatcher(out)
      clock.start()
      val t0 = System.nanoTime()
      val (_, wallS) = ctx.timed("streaming.follow_live") {
        FollowMode.followLive(spark, source, bronze, spec, checkpoint,
          pollMs = PollMs, maxPolls = 100000)
      }
      val seen = watcher.stop()
      ctx.log(f"followLive: $wallS%.2fs")

      val chunks = (First until End by ChunkSize).map(a => BlockSyntax.Range(a, a + ChunkSize))
      val lags = chunks.flatMap { c =>
        for {
          t <- seen.get(Freeze.fileName(spec, "blocks", c))
          settled <- node.firstReportOf(c.endExclusive - 1)
        } yield (t - settled) / 1e9
      }
      ctx.log(s"chunk lags: ${lags.map(l => f"$l%.2f").mkString(" ")}")
      // largest distance between the head and the highest frozen block
      val frozenAt = chunks.flatMap(c => seen.get(Freeze.fileName(spec, "blocks", c))
        .map(t => t -> (c.endExclusive - 1))).sortBy(_._1)
      val endNanos = t0 + (wallS * 1e9).toLong
      val backlog = (t0 to endNanos by 10000000L).map { t =>
        val frozen = frozenAt.takeWhile(_._1 <= t).lastOption.map(_._2).getOrElse(First - 1)
        clock.headAt(t) - frozen
      }.max

      val ref = reference(ctx, End)
      val bad = Check.mismatches(ref, Check.chunkDigests(spark, out)).toSet
      bad.take(5).foreach(f => System.err.println(s"[follow_head] output differs: $f"))
      val failed = chunks.count { c =>
        val f = Freeze.fileName(spec, "blocks", c)
        bad(f) || node.firstReportOf(c.endExclusive - 1).isEmpty || !seen.contains(f)
      }

      val batches = ctx.metrics.batchMillis.synchronized(ctx.metrics.batchMillis.toSeq.map(_.toDouble))
      val stats = node.stats
      // what one poll costs, over the blocks one poll interval brings:
      // a faster or slower poll loop leaves it alone, a change in the
      // requests a poll makes moves it
      val cycles = node.pollCycles(First)
      ctx.log(s"requests per poll cycle: ${cycles.mkString(" ")}")
      val requestsPerBlock =
        cycles.sum.toDouble / math.max(1, cycles.size) / (PollMs / 1000.0 * BlocksPerS)
      val named = Seq(
        ("follow_lag_p50_s", Run.percentile(lags, 0.5), "s"),
        ("follow_lag_p90_s", Run.percentile(lags, 0.9), "s"),
        ("node_requests_per_block", requestsPerBlock, "count"),
        ("head_rate_blocks_per_s", BlocksPerS, "1/s"),
        ("chunks_frozen", lags.size.toDouble, "count"))
      Outcome(
        attempted = chunks.size.toLong,
        failed = failed.toLong,
        e2e = Map("setup_s" -> setupS, "wall_s" -> wallS,
          "chunk_latency_p50_s" -> Run.percentile(lags, 0.5),
          "node_requests_per_block" -> requestsPerBlock),
        named = named,
        layers = stats.layers ++ Map(
          "streaming.batches" -> batches.size.toDouble,
          "streaming.batch_p50_ms" -> Run.percentile(batches, 0.5),
          "streaming.batch_p90_ms" -> Run.percentile(batches, 0.9),
          "streaming.bronze_files" -> Disk.countFiles(s"$bronze/rpc_blocks.parquet").toDouble,
          "streaming.backlog_max_blocks" -> backlog.toDouble,
          "streaming.spark_jobs" -> (ctx.metrics.get("streaming").jobs - warmStreamingJobs).toDouble,
          "chain.files_written" -> lags.size.toDouble,
          "chain.output_mb" -> Disk.sizeOf(out, _.getName.contains("__")) / 1e6,
          "chain.report_files" -> Disk.countFiles(s"$out/.graft/reports").toDouble))
    } finally node.stop()
  }
}
