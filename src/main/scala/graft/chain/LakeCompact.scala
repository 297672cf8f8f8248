package graft.chain

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Small-file compaction for a frozen lake — the maintenance operator a
  * follow-mode lake needs at scale: followLive freezes reorg-buffer-
  * bounded chunks (often tens of blocks), so a month of tailing leaves
  * thousands of tiny files whose per-file open/footer cost starts to
  * dominate scans. `compact` coalesces CONTIGUOUS runs of chunk files of
  * the same (directory, network, dataset, tags, format) into files of up
  * to `targetBlocks` blocks, keeping the cryo naming scheme — so every
  * Lake read, the CLI, python and any external globbing consumer keep
  * working unchanged, with proportionally fewer files to plan over.
  *
  * Invariants:
  *  - CONTENT-preserving: the merged file holds exactly the union of its
  *    source files' rows (row-count re-checked before any delete; the
  *    merged file is sorted by the dataset's default sort keys, like a
  *    freeze's chunk files, in Freeze.writeSingleFile). File BYTES are not
  *    preserved — this is a rewrite, like parquet compaction anywhere.
  *  - Never bridges a GAP: only runs where each file starts at the
  *    previous file's end+1 merge, so a merged file's name never claims
  *    block coverage the lake does not have (freeze's idempotent-skip
  *    and follow-mode resumption both reason from filename ranges).
  *  - Crash-safe without a journal: the merged file is written first
  *    (tmp + atomic rename inside Freeze.writeSingleFile), then the
  *    originals are deleted. A crash in between leaves BOTH — which is
  *    why `Lake.select` drops files strictly CONTAINED in another file
  *    of the same key: readers see each row exactly once through the
  *    interruption, and the next compact run finishes the deletion
  *    (merged target already present → skip rewrite, delete originals).
  *  - Parquet only: csv/json lakes would round-trip through schema
  *    inference, which can silently re-type columns — refused loudly.
  *
  * At 100 TB the per-run cost is one scan + one write of the small files
  * being merged (Spark-parallel across runs via the usual job
  * scheduling), and the payoff is planning-time: a lake tailed at
  * 50-block chunks compacted to 10k-block files is 200× fewer listing
  * entries, footers and scan splits for every later query.
  */
object LakeCompact {

  /** Compact all eligible runs under `dir`; returns the merged file
    * paths written (or adopted, when an interrupted run left them).
    * `network` restricts to one network's files when several share the
    * lake.
    *
    * `upTo`: only files ENTIRELY at or below this block participate —
    * it BOUNDS WHICH FILES MAY BE REWRITTEN, nothing more. A live
    * `Lake.readStream` consumer tracks files by path, so a merged file
    * is a never-seen path and its rows are REDELIVERED on the next
    * trigger regardless of any bound — compaction under a live tail is
    * at-least-once by construction. Compact while tailing only when
    * downstream is idempotent on redelivery (the streaming dedup /
    * index-ingest twins key on content and are), and use `upTo` to keep
    * the redelivery window to spans the consumer has already absorbed;
    * otherwise quiesce the stream, compact, and restart it with a fresh
    * checkpoint. Batch `Lake.read` needs no such care — the containment
    * rule resolves any interleaving. */
  def compact(spark: SparkSession, dir: String, targetBlocks: Long,
      network: Option[String] = None,
      upTo: Option[Long] = None): Seq[String] = {
    require(targetBlocks > 0, "targetBlocks must be positive")
    val candidates = Lake.listChunks(dir)
      .filter(f => network.forall(_ == f.network))
      .filter(f => upTo.forall(f.endInclusive <= _))
    // compaction is parquet-only (csv/json round-trips re-infer
    // schemas), but one csv export must not block merging a lake's
    // thousands of parquet files: non-parquet GROUPS are skipped with
    // a loud note, and only a lake with nothing compactable at all
    // still fails
    val (all, nonParquet) = candidates.partition(_.format == "parquet")
    if (nonParquet.nonEmpty) {
      require(all.nonEmpty,
        s"lake compaction is parquet-only; found ${nonParquet.head.format} " +
          s"files (e.g. ${nonParquet.head.path}) — csv/json round-trips " +
          "re-infer schemas")
      System.err.println(s"[lake compact] skipping ${nonParquet.size} " +
        s"non-parquet file(s) (parquet-only; e.g. ${nonParquet.head.path})")
    }
    // all moves/deletes go through the Hadoop FileSystem resolved from
    // the session configuration, so compaction works on any lake the
    // data plane can read (s3a/hdfs/local). On object stores the
    // originals' deletes are per-object (no atomic batch) — the
    // containment rule already makes every intermediate state readable.
    val written = Seq.newBuilder[String]
    all.groupBy(f => (new HPath(f.path).getParent.toString, f.network,
        f.dataset, f.tags)).foreach { case ((parent, net, dataset, tags), group) =>
      val sorted = group.sortBy(f => (f.start, -f.endInclusive))
      // finish any interrupted run first: originals strictly contained
      // in a survivor are leftovers whose merged file already landed
      val live = Lake.dropContained(sorted)
      (sorted.toSet -- live.toSet).foreach { leftover =>
        LakeFs.deleteFile(leftover.path)
      }
      // maximal contiguous runs, greedily cut at targetBlocks
      val runs = live.foldLeft(Vector.empty[Vector[Lake.ChunkFile]]) {
        case (acc, f) =>
          acc.lastOption match {
            case Some(run) if run.last.endInclusive + 1 == f.start &&
                f.endInclusive - run.head.start + 1 <= targetBlocks =>
              acc.init :+ (run :+ f)
            case _ => acc :+ Vector(f)
          }
      }
      runs.filter(_.size >= 2).foreach { run =>
        val range = BlockSyntax.Range(run.head.start, run.last.endInclusive + 1)
        val stub = tags.map("__" + _).mkString
        val name = s"${net}__${dataset}$stub" +
          s"__${Freeze.chunkStub(range)}.parquet"
        val target = LakeFs.display(new HPath(parent, name))
        if (!LakeFs.exists(target)) {
          val paths = run.map(_.path)
          val src = spark.read.parquet(paths: _*)
          // the row-preservation recheck reads source FOOTERS, not data:
          // a src.count() pre-pass re-scanned every run twice (the exact
          // cost writeSingleFile's observe metric exists to avoid) — the
          // footer record counts are the same independent ground truth
          // at near-zero I/O
          val hconf = spark.sessionState.newHadoopConf()
          val expected = run.map { f =>
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f.path), hconf))
            try reader.getRecordCount finally reader.close()
          }.sum
          val n = Freeze.writeSingleFile(src, Freeze.sortKeys(dataset, src), target, "parquet")
          if (n != expected) {
            // the bad merged file must NOT survive: the containment rule
            // would make reads prefer it over the (correct) originals,
            // and the next compact would adopt it and delete them
            LakeFs.deleteFile(target)
            throw new IllegalStateException(
              s"compaction row mismatch for $name: wrote $n, sources had " +
                s"$expected — merged file removed, originals left in place")
          }
        }
        run.foreach(f => LakeFs.deleteFile(f.path))
        written += target
      }
    }
    written.result()
  }
}
