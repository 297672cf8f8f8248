package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Measured record of the document and embedding streams in FollowMode:
  * throughput (rows/sec) and micro-batch latency (p50/p99 of
  * triggerExecution) of the streaming exact dedup (`dedupStream`) over
  * the sf0.1 document corpus and of the streaming SemDeDup
  * (`semdedupStream`) over its embeddings, the latter on the default
  * state store and on RocksDB, as one JSON record in bench_history. The
  * run fails unless the SemDeDup stream's keep/drop verdicts equal the
  * batch `semdedupOf` on every vector.
  *
  * Method: each corpus is staged as ~`nFiles` contiguous id-range files
  * (repartitionByRange — as an appending writer leaves them), then each
  * pipeline runs as a real Structured Streaming query —
  * FollowMode.readAppendOnly with maxFilesPerTrigger=4 → the stream →
  * a checkpointed sink — under Trigger.AvailableNow, which drains the
  * backlog in maxFilesPerTrigger-bounded micro-batches and stops: every
  * trigger is a measured micro-batch. Streams run SEQUENTIALLY so
  * latencies don't contend.
  *
  * Usage: runMain graft.tools.FollowBench [docsParquet] [outJson] [embeddingsParquet]
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
    val docsPath = args.lift(0).getOrElse("/root/testdata/sf0.1/documents.parquet")
    val outJson = args.lift(1).getOrElse("bench_history/r13_follow.json")
    val embPath = args.lift(2).getOrElse("/root/testdata/sf0.1/embeddings.parquet")
    val cpus = graft.GraftSession.defaultCpus
    val spark = graft.GraftSession(cpus)
    import graft.streaming.FollowMode

    val work = java.nio.file.Files.createTempDirectory("graft_followbench").toString

    // stage a corpus as contiguous id-range files — the shape an
    // appending writer leaves behind
    def stage(src: DataFrame, name: String, nFiles: Int, rangeCol: String): String = {
      val p = s"$work/$name"
      src.repartitionByRange(nFiles, col(rangeCol)).write.parquet(p)
      p
    }
    val docsStaged = stage(
      spark.read.parquet(docsPath), "documents", 40, "doc_id")

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

    /** run one streaming pipeline to exhaustion under AvailableNow;
      * returns measured metrics. Stateful update-mode twins (semdedup)
      * pass outputMode="update"/format="noop": the parquet sink is
      * append-only, and what's measured is the pipeline, not the sink. */
    def run(label: String, src: String, build: DataFrame => DataFrame,
        ckpt: String, outputMode: String = "append", format: String = "parquet"): M = {
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
        w0.option("path", s"$work/out_$label") else w0)
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

    // the streaming exact-dedup twin of q_doc_dedup_exact
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
    val record =
      s"""{"docs":"$docsPath","n_vecs":$nVecs,""" +
        s""""semdedup_batch_verdicts":${batchKeep.size},""" +
        s""""semdedup_keepdrop_mismatches":$semMismatches,""" +
        s""""semdedup_state_partitions":$semParts,""" +
        s""""streams":{${(Seq(mDedup, mSemdedup) ++ mSemdedupRocks.toSeq)
          .map(_.json).mkString(",")}}}"""
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, record)
    spark.stop()
  }
}
