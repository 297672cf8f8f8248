package perfbench

import graft.chain.{BlockSyntax, Freeze}
import graft.sources.{RpcConfig, RpcExtract, RpcSource}

/** `freeze_rpc`: cryo's backfill. One caller runs `graft.Cli.run --rpc`
  * over the stub node, pass after pass, while another pass fits in the
  * run's seconds (at least one). Every pass is checked against a
  * fixture-source freeze. */
object FreezeRpc {
  val First = 1000L
  val End = 4000L
  val ChunkSize = 1000L
  val Share429 = 0.02
  /** Set-up ends with an untimed pass over blocks the timed pass does
    * not use, so the timed pass runs in a JVM that has run it before. */
  val WarmFirst = 5000L
  val WarmEnd = 6000L

  def cliArgs(out: String, source: Seq[String], first: Long = First,
      end: Long = End): Array[String] =
    (Layers.datasets ++ Seq("--blocks", s"$first:$end", "--chunk-size", ChunkSize.toString,
      "--output-dir", out, "--no-verbose") ++ source).toArray

  /** Fills the caches a run reads: the node's responses and the
    * reference digests of a fixture-source freeze. */
  def prepare(ctx: Ctx): Unit = {
    ChainResponses.cached(ctx.spark, ctx.fixDir, ctx.opts.cache, headersOnly = false)
    reference(ctx)
  }

  private def reference(ctx: Ctx): Map[String, Check.Digest] =
    Check.cached(ctx.opts.cache, s"freeze_rpc_reference_${First}_${End}_$ChunkSize") {
      val refOut = ctx.dir("reference")
      graft.Cli.run(cliArgs(refOut, Seq("--source-dir", ctx.fixDir)), ctx.spark)
      Check.chunkDigests(ctx.spark, refOut)
    }

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    val opts = ctx.opts
    val blocks = (End - First).toDouble
    // set-up: the node's responses, read back Setup.Repeats times
    val encodes = (1 to Setup.Repeats).map(_ =>
      Setup.time(ChainResponses.cached(spark, ctx.fixDir, opts.cache, headersOnly = false)))
    val chain = encodes.last._1
    val node = new StubNode(chain, () => chain.lastBlock, opts.seed, Share429, 0, opts.cpus)
    try {
      val (_, warmS) = Setup.time(graft.Cli.run(
        cliArgs(ctx.dir("warm"), Seq("--rpc", node.url), WarmFirst, WarmEnd), spark))
      val setupS = sessionS + Run.median(encodes.map(_._2)) + warmS
      ctx.log(f"set-up: responses ${encodes.map(e => f"${e._2}%.2f").mkString(" ")}s, warm pass $warmS%.2fs")
      val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      // another pass only while one more fits in the run's seconds
      while (passes.isEmpty ||
          (System.nanoTime() - t0) / 1e9 + passes.last.wallS <= opts.seconds) {
        val out = ctx.dir(s"freeze-${passes.size}")
        node.newPass()
        passes += (if (ctx.traced) tracedPass(ctx, chain, node, out) else plainPass(ctx, node, out))
        ctx.log(f"pass ${passes.size}: ${passes.last.wallS}%.2fs")
      }

      // checks, outside the timed window
      val ref = reference(ctx)
      val bad = passes.map(p => Check.mismatches(ref, Check.chunkDigests(spark, p.out)))
      bad.flatten.take(5).foreach(f => System.err.println(s"[freeze_rpc] output differs: $f"))
      val rows = ref.values.map(_.rows).sum
      ctx.log(s"checked ${passes.size} pass(es): ${bad.map(_.size).sum} file(s) differ")

      val walls = passes.map(_.wallS)
      val items = passes.map(_.fileOffsetsS)
      val last = passes.last
      val outBytes = Disk.sizeOf(last.out, f => f.getName.contains("__"))
      val requestsPerBlock = Run.median(passes.map(_.node.httpRequests.toDouble).toSeq) / blocks
      val named = Seq(
        ("freeze_blocks_per_s", blocks / Run.median(walls.toSeq), "1/s"),
        ("node_requests_per_block", requestsPerBlock, "count"),
        ("freeze_output_bytes_per_row", outBytes.toDouble / math.max(1L, rows), "B"),
        ("chunk_latency_p90_s", Run.median(items.map(Run.percentile(_, 0.9)).toSeq), "s"),
        ("chunk_files", items.map(_.size.toDouble).min, "count"),
        ("passes", passes.size.toDouble, "count"))
      val layers = last.node.layers ++ last.layers ++ Map(
        "chain.files_written" -> files.count(k => new java.io.File(last.out, k).exists).toDouble,
        "chain.output_mb" -> outBytes / 1e6,
        "chain.report_files" -> Disk.countFiles(s"${last.out}/.graft/reports").toDouble)
      Outcome(
        attempted = files.size.toLong * passes.size,
        failed = bad.map(_.size.toLong).sum,
        e2e = Map("setup_s" -> setupS, "wall_s" -> Run.median(walls.toSeq),
          "chunk_latency_p50_s" -> Run.median(items.map(Run.percentile(_, 0.5)).toSeq),
          "node_requests_per_block" -> requestsPerBlock),
        named = named,
        layers = layers)
    } finally node.stop()
  }

  final case class Pass(out: String, wallS: Double, fileOffsetsS: Seq[Double],
      node: NodeStats, layers: Map[String, Double])

  /** the chunk files a pass writes */
  val files: Seq[String] = {
    val spec = Freeze.FreezeSpec(Layers.datasets, BlockSyntax.Range(First, End),
      chunkSize = ChunkSize, outputDir = "")
    for {
      d <- Layers.datasets
      c <- First until End by ChunkSize
    } yield Freeze.fileName(spec, d, BlockSyntax.Range(c, math.min(c + ChunkSize, End)))
  }

  private def finish(out: String, t0: Long, watcher: OutputWatcher, node: StubNode): Pass = {
    val wall = (System.nanoTime() - t0) / 1e9
    val seen = watcher.stop()
    Pass(out, wall, files.flatMap(seen.get).map(t => (t - t0) / 1e9), node.stats, Map.empty)
  }

  /** `Cli.run --rpc`, the way a user runs a backfill */
  private def plainPass(ctx: Ctx, node: StubNode, out: String): Pass = {
    val watcher = new OutputWatcher(out)
    val t0 = System.nanoTime()
    graft.Cli.run(cliArgs(out, Seq("--rpc", node.url)), ctx.spark)
    finish(out, t0, watcher, node)
  }

  /** The same work through the public calls `Cli.run` makes, with a
    * span around each, then per-layer measurements outside the pass. */
  private def tracedPass(ctx: Ctx, chain: ChainResponses, node: StubNode, out: String): Pass = {
    val spark = ctx.spark
    val range = BlockSyntax.Range(First, End)
    val watcher = new OutputWatcher(out)
    val t0 = System.nanoTime()
    val (source, _) = ctx.timed("sources.connect") {
      val cid = new RpcSource(RpcConfig(node.url)).fetchChainId()
      new RpcSource(RpcConfig(node.url, chainId = cid))
    }
    val bronze = ctx.dir("bronze")
    val (_, materializeS) = ctx.timed("sources.materialize") {
      source.materializeBronze(spark, bronze, range, Layers.datasets)
    }
    val spec = Freeze.FreezeSpec(Layers.datasets, range, chunkSize = ChunkSize, outputDir = out)
    val (_, freezeS) = ctx.timed("chain.freeze")(Freeze.freeze(spark, bronze, spec))
    val pass = finish(out, t0, watcher, node)
    val chainJobs = ctx.metrics.get("chain.freeze").jobs

    // per-layer measurements; the node's pass counters are already taken
    node.newPass()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val fetchS = Map(
      "blocks_and_transactions" -> ctx.timed("sources.fetch.blocks_and_transactions") {
        val (b, t, done) = source.fetchBlocksAndTransactions(spark, range)
        noop(b); noop(t); done()
      }._2,
      "receipts" -> ctx.timed("sources.fetch.receipts")(noop(source.fetchReceipts(spark, range)))._2,
      "logs" -> ctx.timed("sources.fetch.logs")(noop(source.fetchLogs(spark, range)))._2,
      "traces" -> ctx.timed("sources.fetch.traces")(noop(source.fetchTraces(spark, range)))._2,
      "state_diffs" -> ctx.timed("sources.fetch.state_diffs") {
        val (dfs, done) = source.fetchStateDiffs(spark, range)
        dfs.values.foreach(noop); done()
      }._2)
    val parseMbPerS = ctx.spans.span("sources.parse")(parseRate(chain))
    val bronzeWriteS = {
      val tables = new java.io.File(bronze).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> spark.read.parquet(f.getPath).cache())
      tables.foreach(_._2.count())
      val copy = ctx.dir("bronze-copy")
      val (_, s) = ctx.timed("sources.bronze_write") {
        tables.foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$copy/$n") }
      }
      tables.foreach(_._2.unpersist())
      s
    }
    val transformS = Layers.datasets.map { d =>
      d -> ctx.timed(s"chain.transform.$d")(noop(Freeze.builders(d)(spark, bronze)))._2
    }
    pass.copy(layers = Map(
      "sources.materialize_s" -> materializeS,
      "sources.parse_mb_per_s" -> parseMbPerS,
      "sources.bronze_write_s" -> bronzeWriteS,
      "chain.freeze_s" -> freezeS,
      "chain.spark_jobs" -> chainJobs.toDouble) ++
      fetchS.map { case (k, v) => s"sources.fetch_s.$k" -> v } ++
      transformS.map { case (k, v) => s"chain.transform_s.$k" -> v })
  }

  /** MB/s of one thread running the program's parsers over response
    * parts the node serves */
  private def parseRate(chain: ChainResponses): Double = {
    val cid = chain.chainId
    def part(r: String) = "{\"jsonrpc\":\"2.0\",\"id\":0,\"result\":" + r + "}"
    val inputs = chain.parseInputs.map { case (k, rs) => k -> rs.map(part) }
    val bytes = inputs.map(_._2.map(_.length.toLong).sum).sum
    var rows = 0L
    val t0 = System.nanoTime()
    inputs.foreach { case (k, parts) =>
      var i = 0
      while (i < parts.length) {
        val p = parts(i)
        val b = chain.firstBlock + i
        rows += (k match {
          case "blocks_and_transactions" =>
            RpcExtract.blockHeader(p, cid); RpcExtract.blockTransactions(p, cid).size + 1
          case "receipts" => RpcExtract.blockReceipts(p).size
          case "traces" => RpcExtract.traceBlock(p, cid).size
          case _ =>
            val d = RpcExtract.stateDiffBlock(p, b, cid)
            d.balances.size + d.codes.size + d.nonces.size + d.storage.size
        })
        i += 1
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    require(rows > 0)
    bytes / 1e6 / s
  }
}
