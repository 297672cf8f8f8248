package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Follow-mode measured record (r12 brief item 5): streaming had specs
  * but no number anywhere. This drives the production follow-mode
  * pipeline shapes over the 60k-block chain corpus and the sf0.1
  * document corpus and records throughput (blocks/sec, rows/sec),
  * micro-batch latency (p50/p99 of triggerExecution) and the
  * reorg-recovery wall time, as one JSON record in bench_history.
  *
  * Method: the bronze tables are staged as ~`nFiles` contiguous
  * block-range files (repartitionByRange on block_number — exactly the
  * per-chunk append pattern followLive produces), then each pipeline
  * runs as a real Structured Streaming query — FollowMode.readAppendOnly
  * with maxFilesPerTrigger=4 → the SAME ChainDatasets transform the
  * batch path uses (blocksOf/logsOf/erc20TransfersOf, ordered=false) →
  * a checkpointed parquet sink — under Trigger.AvailableNow, which
  * drains the backlog in maxFilesPerTrigger-bounded micro-batches and
  * stops: every trigger is a measured micro-batch. Streams run
  * SEQUENTIALLY so latencies don't contend.
  *
  * Reorg recovery measures the followLive healing path end-to-end:
  * stop the stream, rewrite bronze canonical-only via the production
  * replaceDir swap, restart from the SAME checkpoint — the file source
  * re-lists, sees the consolidated files as new, and reprocesses
  * idempotently. Recovery wall time is therefore ~one full drain of
  * the post-reorg bronze (the documented cost of a rewrite, not a
  * partial patch).
  *
  * Usage: runMain graft.tools.FollowBench [chainFixtureDir] [docsParquet] [outJson]
  */
object FollowBench {

  private case class M(label: String, rows: Long, batches: Int,
      wallSec: Double, p50Ms: Long, p99Ms: Long) {
    def json: String =
      s""""$label":{"rows":$rows,"batches":$batches,""" +
        s""""wall_sec":${f"$wallSec%.3f"},"batch_p50_ms":$p50Ms,""" +
        s""""batch_p99_ms":$p99Ms,"rows_per_sec":${f"${rows / math.max(wallSec, 1e-9)}%.0f"}}"""
  }

  def main(args: Array[String]): Unit = {
    val chainDir = args.lift(0).getOrElse("fixtures/chain_sf1")
    val docsPath = args.lift(1).getOrElse("/root/testdata/sf0.1/documents.parquet")
    val outJson = args.lift(2).getOrElse("bench_history/r13_follow.json")
    val embPath = args.lift(3).getOrElse("/root/testdata/sf0.1/embeddings.parquet")
    val cpus = graft.GraftSession.defaultCpus
    val spark = graft.GraftSession(cpus)
    import graft.streaming.FollowMode

    val work = java.nio.file.Files.createTempDirectory("graft_followbench").toString

    // stage bronze as contiguous block-range files — the shape a
    // follow-mode appender leaves behind (one file per settled chunk)
    def stage(src: DataFrame, name: String, nFiles: Int, rangeCol: String): String = {
      val p = s"$work/$name"
      src.repartitionByRange(nFiles, col(rangeCol)).write.parquet(p)
      p
    }
    val blocksPath = stage(
      spark.read.parquet(s"$chainDir/rpc_blocks.parquet"), "rpc_blocks", 120, "block_number")
    val logsPath = stage(
      spark.read.parquet(s"$chainDir/rpc_logs.parquet"), "rpc_logs", 120, "block_number")
    val docsStaged = stage(
      spark.read.parquet(docsPath), "documents", 40, "doc_id")
    val nBlocks = spark.read.parquet(blocksPath).count()

    // per-query micro-batch metrics via the engine's own listener
    val durations = new java.util.concurrent.ConcurrentHashMap[java.util.UUID,
      scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.getOrDefault("triggerExecution", 0L)
        if (e.progress.numInputRows > 0 || d > 0)
          durations.computeIfAbsent(e.progress.id,
            _ => scala.collection.mutable.ArrayBuffer.empty)
            .append((d, e.progress.numInputRows))
      }
    })

    def pct(xs: Seq[Long], p: Double): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply(math.min(xs.size - 1,
        (p * xs.size).toInt))

    // r14 (brief item 7): the COLD page-cache day is the incremental
    // consumer's worst day (r13 discarded a 37 s first-touch reorg
    // recovery as a fixture artifact — it was the honest cold number
    // and lived only in prose). Best-effort: requires root; the record
    // states whether the drop actually happened, so a "cold" reading
    // on an unprivileged host is never silently warm.
    def dropCaches(): Boolean =
      try new ProcessBuilder("sh", "-c",
        "sync && echo 3 > /proc/sys/vm/drop_caches")
        .start().waitFor() == 0
      catch { case _: Throwable => false }

    /** run one streaming pipeline to exhaustion under AvailableNow;
      * returns measured metrics. Reusing `ckpt` (and its paired `sink`
      * dir — the file sink's _spark_metadata log lives there) =
      * restart-from-checkpoint. Stateful update-mode twins (semdedup)
      * pass outputMode="update"/format="noop": the parquet sink is
      * append-only, and what's measured is the pipeline, not the sink. */
    def run(label: String, src: String, build: DataFrame => DataFrame,
        ckpt: String, sinkDir: Option[String] = None,
        outputMode: String = "append", format: String = "parquet"): M = {
      // a restart-from-checkpoint REUSES the persisted query id, so the
      // collector must start empty or the heal run pools the original
      // run's batches into its own metrics
      durations.clear()
      val schema = spark.read.parquet(src).schema
      val out = build(FollowMode.readAppendOnly(spark, src, schema,
        maxFilesPerTrigger = 4))
      val w0 = out.writeStream
        .outputMode(outputMode)
        .format(format)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
      val q = (if (format == "parquet")
        w0.option("path", sinkDir.getOrElse(s"$work/out_$label")) else w0)
        .start()
      val t0 = System.nanoTime()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      // r13 (ADVICE): the listener bus is ASYNCHRONOUS — the final
      // batch's QueryProgressEvent may land after awaitTermination(),
      // undercounting rows/batches and skewing p99. Drain: wait until
      // the collector holds at least the data batches the query object
      // itself reports (recentProgress is synchronous but capped at
      // 100, so it is a lower bound) AND the count has stabilized.
      val expected = q.recentProgress.count(_.numInputRows > 0)
      def collected(): Int =
        Option(durations.get(q.id)).map(_.size).getOrElse(0)
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var lastSeen = -1
      while (System.nanoTime() < deadline &&
          (collected() < expected || collected() != lastSeen)) {
        lastSeen = collected()
        Thread.sleep(100)
      }
      val per = Option(durations.get(q.id)).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_._2 > 0) // data-less bookkeeping triggers aren't batches
      val ds = per.map(_._1)
      val m = M(label, per.map(_._2).sum, per.size, wall, pct(ds, 0.5), pct(ds, 0.99))
      println(f"[follow] $label%-18s rows=${m.rows}%8d batches=${m.batches}%3d " +
        f"wall=${m.wallSec}%7.2f s p50=${m.p50Ms}%5d ms p99=${m.p99Ms}%5d ms " +
        f"(${m.rows / math.max(m.wallSec, 1e-9)}%.0f rows/s)")
      m
    }

    // the three chain follow pipelines + the streaming exact-dedup twin,
    // each the SAME transform the batch dataset runs (ordered=false: the
    // one divergence streaming plans force, stated in the twins' docs)
    val mBlocks = run("blocks", blocksPath,
      df => graft.chain.ChainDatasets.blocksOf(df, ordered = false),
      s"$work/ck_blocks")
    val mLogs = run("logs", logsPath,
      df => graft.chain.ChainDatasets.logsOf(df, ordered = false),
      s"$work/ck_logs")
    val mXfer = run("erc20_transfers", logsPath,
      df => graft.chain.ChainDatasets.erc20TransfersOf(df, ordered = false),
      s"$work/ck_xfer")
    val mDedup = run("doc_dedup", docsStaged,
      df => FollowMode.dedupStream(df).select("doc_id", "fp"),
      s"$work/ck_dedup")

    // r13 (brief item 4a): the streaming SemDeDup twin gets its first
    // throughput number. Same blocking the batch graded path runs:
    // corpus-scaled cell count, seed-convention centroids (the
    // oracle-pinned form the registered entries use at this corpus).
    // Update-mode stateful stream → noop sink (parquet is append-only;
    // the pipeline is what's measured).
    val embAll = spark.read.parquet(embPath).select("vec_id", "embedding")
    val kCells = graft.queries.SimilarityOps.scaledCellCount(embAll)
    val semCents = embAll.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val embStaged = stage(embAll, "embeddings", 40, "vec_id")
    val nVecs = spark.read.parquet(embStaged).count()
    // r14 (brief item 4, MEASURED decomposition): the r13 semdedup
    // bottleneck was NOT member serialization — per-batch state-store
    // FIXED COSTS were, and they scale with partition count: every
    // partition commits per micro-batch with a ~100-300 ms per-task
    // constant, so 32 partitions over 16 cells read 12.7 s where 2
    // read ~3 s (the drain timed alone, same trigger). THE fix is partition
    // sizing: state partitions = min(parallelism, ceil(cells/8)) —
    // per-task constants amortize over ≥8 cells, and at production k
    // (cells ∝ corpus) the rule resolves to full parallelism, so it
    // costs nothing at scale. Measured on this corpus: 7.5 s (r13) →
    // ~3 s, ≥2× rows/s AND batch p50 ≤350 ms at the unchanged
    // trigger, keep/drop bit-unchanged (eq check below). Provider is
    // SECONDARY at this state size: the default HDFS store wins
    // slightly once sized; RocksDB needs changelogCheckpointing or it
    // loses 3× to per-commit snapshot uploads (the r13 variant's
    // mistake) — measured as the variant row beside the primary.
    // r15 (brief item 3): NO manual conf set here — semdedupStream
    // applies the sizing rule itself at plan construction; this bench
    // run is the without-the-manual-rule parity evidence. semParts is
    // recomputed only for the record line.
    val semParts = graft.streaming.FollowMode
      .semdedupStatePartitions(kCells, cpus)
    val mSemdedup = run("embed_semdedup", embStaged,
      df => FollowMode.semdedupStream(spark,
        df.select("vec_id", "embedding"), semCents).toDF(),
      s"$work/ck_semdedup", outputMode = "update", format = "noop")
    // RocksDB + changelog checkpointing at the same sizing — the
    // large-state scale path, fresh checkpoint, same pipeline
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    val mSemdedupRocks =
      try Some(run("embed_semdedup_rocksdb", embStaged,
        df => FollowMode.semdedupStream(spark,
          df.select("vec_id", "embedding"), semCents).toDF(),
        s"$work/ck_semdedup_rocks", outputMode = "update", format = "noop"))
      catch { case e: Throwable =>
        System.err.println(s"[follow] rocksdb variant failed: ${e.getMessage}")
        None
      }
      finally {
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    // keep/drop EQUALITY vs the batch twin on the same corpus (the
    // speedup's acceptance bar): fold the update-mode emissions by max
    // prior per vec_id — the monotone-refinement contract — and
    // compare against batch semdedupOf. Untimed; memory sink.
    val eqDs = FollowMode.semdedupStream(spark,
      FollowMode.readAppendOnly(spark, embStaged,
        spark.read.parquet(embStaged).schema, maxFilesPerTrigger = 4)
        .select("vec_id", "embedding"), semCents).toDF()
    val eqQ = eqDs
      .writeStream.outputMode("update").format("memory")
      .queryName("sem_eq_out")
      .option("checkpointLocation", s"$work/ck_semdedup_eq")
      .trigger(Trigger.AvailableNow()).start()
    eqQ.awaitTermination()
    // r16: the memory sink's temp view registers on the stream's own
    // (cloned) session — read it there
    val streamKeep = eqDs.sparkSession.sql(
      """SELECT vec_id, max(max_prior_cosine) AS mpc
        |FROM sem_eq_out GROUP BY vec_id""".stripMargin)
      .withColumn("keep", coalesce(col("mpc") <=
        graft.queries.SimilarityOps.SemdedupTau, lit(true)))
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    val batchKeep = graft.queries.SimilarityOps
      .semdedupOf(embAll, nCents = kCells)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
    val semMismatches = batchKeep.count { case (id, k) =>
      !streamKeep.get(id).contains(k) }
    require(streamKeep.size == batchKeep.size,
      s"stream emitted ${streamKeep.size} verdicts, batch ${batchKeep.size}")
    // the speedup's acceptance bar FAILS the run, not just the record
    // (ADVICE r14): a keep/drop divergence from a state-packing change
    // must stop the bench loudly instead of riding along in the JSON
    require(semMismatches == 0,
      s"streaming semdedup keep/drop diverged from batch on " +
        s"$semMismatches of ${batchKeep.size} verdicts")
    println(s"[follow] semdedup stream==batch keep/drop: " +
      s"${batchKeep.size - semMismatches}/${batchKeep.size} match")
    spark.conf.set("spark.sql.shuffle.partitions", cpus.toLong)

    // reorg recovery, the production healing path: rewrite bronze
    // canonical-only (tail window re-fetched) via replaceDir, restart
    // the SAME checkpointed query, drain. The file source re-lists and
    // reprocesses the consolidated files idempotently — recovery cost
    // is one full drain of the post-reorg bronze by design. r14: a
    // {cold, warm} PAIR — the cold pass drops the page cache after the
    // rewrite, so the drain first-touches the full bronze from disk
    // (the r13 "37 s first run" that previously lived only in prose);
    // the warm pass repeats the cycle with the cache populated.
    def healCycle(label: String, cutoffBack: Long, cold: Boolean): (M, Double, Boolean) = {
      val tmp = blocksPath + "__reorg_tmp"
      val t0 = System.nanoTime()
      val all = spark.read.parquet(blocksPath)
      val cutoff = all.agg(max(col("block_number")).cast("long"))
        .collect()(0).getLong(0) - cutoffBack
      all.filter(col("block_number") < cutoff)
        .unionByName(all.filter(col("block_number") >= cutoff)) // canonical refetch stand-in
        .repartitionByRange(120, col("block_number"))
        .write.mode("overwrite").parquet(tmp)
      FollowMode.replaceDir(blocksPath, tmp)
      spark.catalog.refreshByPath(blocksPath)
      val dropped = cold && dropCaches()
      val m = run(label, blocksPath,
        df => graft.chain.ChainDatasets.blocksOf(df, ordered = false),
        // SAME checkpoint AND sink: genuine restart-from-checkpoint
        s"$work/ck_blocks", sinkDir = Some(s"$work/out_blocks"))
      (m, (System.nanoTime() - t0) / 1e9, dropped)
    }
    val (mRecoverCold, recoverColdSec, recoverColdDropped) =
      healCycle("blocks_reorg_heal_cold", 500, cold = true)
    val (mRecover, recoverSec, _) =
      healCycle("blocks_reorg_heal", 600, cold = false)

    // r13 (brief item 4b): catch-up-from-genesis + steady-state lag —
    // the incremental consumer's worst day. Stage everything below the
    // live window as the genesis backlog, drain it from block 0 with
    // the production trigger knob (maxFilesPerTrigger=4 — the honest
    // worst-day number is the production configuration, not a tuned
    // batch size), then keep the SAME checkpointed query running under
    // ProcessingTime and feed the live window in chunk-file appends
    // (atomic part-file moves — exactly what followLive's settled-chunk
    // writer leaves behind), measuring per-chunk lag from
    // file-visibility to rows-committed.
    val allBlocks = spark.read.parquet(blocksPath)
    val headBlock = allBlocks.agg(max(col("block_number")).cast("long"))
      .collect()(0).getLong(0)
    val liveStart = headBlock - 5000
    val catchupDir = s"$work/catchup_blocks"
    allBlocks.filter(col("block_number") < liveStart)
      .repartitionByRange(110, col("block_number"))
      .write.parquet(catchupDir)
    val nBacklog = spark.read.parquet(catchupDir).count()
    // {cold, warm} pair (r14): the cold drain first-touches the staged
    // backlog from disk under its own checkpoint; the warm drain then
    // re-reads it cached under the checkpoint the live phase continues
    val catchupColdDropped = dropCaches()
    val mCatchupCold = run("catchup_from_genesis_cold", catchupDir,
      df => graft.chain.ChainDatasets.blocksOf(df, ordered = false),
      s"$work/ck_catchup_cold")
    val mCatchup = run("catchup_from_genesis", catchupDir,
      df => graft.chain.ChainDatasets.blocksOf(df, ordered = false),
      s"$work/ck_catchup")
    // live phase: 10 chunks of ~500 blocks arrive one at a time
    val chunkBounds = (0 until 10).map(i => (liveStart + i * 500, liveStart + (i + 1) * 500))
    val chunkFiles = chunkBounds.zipWithIndex.map { case ((lo, hi), i) =>
      val tmpDir = s"$work/chunk_stage_$i"
      val chunk = allBlocks.filter(col("block_number") >= lo && col("block_number") < hi)
      chunk.coalesce(1).write.parquet(tmpDir)
      val part = new java.io.File(tmpDir).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      (part.toPath, chunk.count())
    }
    durations.clear()
    val liveSchema = spark.read.parquet(catchupDir).schema
    val liveQ = graft.chain.ChainDatasets.blocksOf(
        FollowMode.readAppendOnly(spark, catchupDir, liveSchema,
          maxFilesPerTrigger = 4), ordered = false)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$work/out_catchup_from_genesis")
      .option("checkpointLocation", s"$work/ck_catchup")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    // cumulative live-phase rows from the (cleared) listener collector —
    // recentProgress is synchronous but capped at 100 entries, and a
    // 250ms trigger cadence can evict data-carrying entries mid-phase;
    // the listener map is unbounded (its ms-scale async delivery is
    // noise against the lag being measured)
    def liveRows(): Long = Option(durations.get(liveQ.id))
      .map(_.map(_._2).sum).getOrElse(0L)
    // settle: let the restarted source finish its initial (empty) listing
    Thread.sleep(1500)
    // r14 (ADVICE r13): a chunk that never commits inside the deadline
    // must not fold a ~60000 ms artifact into the percentiles — and
    // because expectedRows is cumulative, one timeout would cascade
    // into every later chunk. Timed-out samples are MARKED and
    // excluded from p50/p99 (the record carries their count loudly),
    // and expectedRows resyncs to what actually committed so one bad
    // chunk can't corrupt the rest of the phase.
    val lags = scala.collection.mutable.ArrayBuffer.empty[Long]
    var lagTimeouts = 0
    var expectedRows = liveRows()
    chunkFiles.zipWithIndex.foreach { case ((part, rows), i) =>
      expectedRows += rows
      val tA = System.nanoTime()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$catchupDir/live-chunk-$i.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val deadline2 = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (liveRows() < expectedRows && System.nanoTime() < deadline2)
        Thread.sleep(25)
      if (liveRows() < expectedRows) {
        lagTimeouts += 1
        System.err.println(s"[follow] live chunk $i TIMED OUT after 60 s " +
          s"(${liveRows()} of $expectedRows rows committed) — excluded " +
          "from lag percentiles")
        expectedRows = liveRows() // resync: don't cascade the shortfall
      } else lags += (System.nanoTime() - tA) / (1000 * 1000)
      Thread.sleep(750) // inter-arrival gap: lag measurements don't overlap
    }
    liveQ.stop()
    val lagP50 = pct(lags.toSeq, 0.5)
    val lagP99 = pct(lags.toSeq, 0.99)
    val catchupBlocksPerSec = nBacklog / math.max(mCatchup.wallSec, 1e-9)
    println(f"[follow] catchup ${nBacklog}%d blocks in ${mCatchup.wallSec}%.2f s " +
      f"(${catchupBlocksPerSec}%.0f blocks/s); live lag p50=${lagP50}%d ms p99=${lagP99}%d ms")

    val blocksPerSec = nBlocks / math.max(mBlocks.wallSec, 1e-9)
    val catchupColdBps = nBacklog / math.max(mCatchupCold.wallSec, 1e-9)
    val record =
      s"""{"corpus":"$chainDir","n_blocks":$nBlocks,"n_vecs":$nVecs,""" +
        s""""blocks_per_sec":${f"$blocksPerSec%.0f"},""" +
        s""""reorg_recovery_sec":${f"$recoverSec%.3f"},""" +
        s""""reorg_recovery_cold_sec":${f"$recoverColdSec%.3f"},""" +
        s""""cold_cache_dropped":${recoverColdDropped && catchupColdDropped},""" +
        s""""semdedup_batch_verdicts":${batchKeep.size},""" +
        s""""semdedup_keepdrop_mismatches":$semMismatches,""" +
        s""""semdedup_state_partitions":$semParts,""" +
        s""""catchup":{"backlog_blocks":$nBacklog,""" +
        s""""wall_sec":${f"${mCatchup.wallSec}%.3f"},""" +
        s""""blocks_per_sec":${f"$catchupBlocksPerSec%.0f"},""" +
        s""""cold_wall_sec":${f"${mCatchupCold.wallSec}%.3f"},""" +
        s""""cold_blocks_per_sec":${f"$catchupColdBps%.0f"},""" +
        s""""live_chunks":${lags.size},"timed_out":$lagTimeouts,""" +
        s""""lag_p50_ms":$lagP50,"lag_p99_ms":$lagP99,""" +
        s""""lags_ms":${lags.mkString("[", ",", "]")}},""" +
        s""""streams":{${(Seq(mBlocks, mLogs, mXfer, mDedup, mSemdedup) ++
          mSemdedupRocks.toSeq ++
          Seq(mRecoverCold, mRecover, mCatchupCold, mCatchup))
          .map(_.json).mkString(",")}}}"""
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, record)
    println(s"""{"metric":"follow_blocks_per_sec","value":${f"$blocksPerSec%.0f"},"unit":"blocks/sec","reorg_recovery_sec":${f"$recoverSec%.3f"}}""")
    spark.stop()
  }
}
