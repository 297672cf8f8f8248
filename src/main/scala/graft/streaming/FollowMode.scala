package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Follow the chain head, plus the streaming forms of the document and
  * event operators.
  *
  * `followLive` is cryo's follow (SURVEY §2.8): a re-run with
  * --reorg-buffer and skip-existing, as a driver loop against a live
  * node. Each eth_blockNumber poll fetches and freezes only the chunks
  * that just settled past the reorg buffer. It stages nothing on disk
  * and starts no streaming query.
  *
  * The Structured Streaming jobs (`windowedCounts`, `sessionize`, the
  * dedup and near-dup streams, `cardStream`) are the incremental forms
  * of batch operators in EventsOps, TextOps and SimilarityOps. They read
  * files that a writer appends to a directory (`readAppendOnly`;
  * maxFilesPerTrigger bounds each micro-batch), and their state is
  * managed by the engine and checkpointed.
  */
object FollowMode {

  /** stream of the rows appended to a growing parquet directory */
  def readAppendOnly(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** tumbling-window aggregation with a reorg-buffer watermark — the
    * streaming form of EventsOps.q_events_hourly. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,4)")).as("total_value"))

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(seq: Int, start: java.sql.Timestamp,
      last: java.sql.Timestamp, n: Int)
  case class SessionOut(user_id: Long, session_seq: Int, n_events: Int,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Stateful streaming sessionization — the incremental form of
    * EventsOps.q_events_sessionize (30-min inactivity gap) via
    * `flatMapGroupsWithState`: per-user state carries the OPEN session
    * (seq, start, last, count) across micro-batches, so a session spanning
    * two batches keeps one sequence number; each batch emits the sessions
    * it closed plus the updated open one (Update semantics — readers take
    * the latest row per (user_id, session_seq)). At 100 TB this is the
    * shape that replaces the batch window function: state is
    * per-key-bounded and there is no global sort.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L
    events.select(col("user_id"), col("ts")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // event iterators are unordered within a batch → sort by event time
          val sorted = evs.map(_.ts).toArray.sortBy(micros)
          val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
          var st = state.getOption.orNull
          sorted.foreach { ts =>
            if (st == null) {
              st = SessionState(1, ts, ts, 1)
            } else if (micros(ts) - micros(st.last) > gapUs) {
              out += SessionOut(uid, st.seq, st.n, st.start, st.last) // closed
              st = SessionState(st.seq + 1, ts, ts, 1)
            } else {
              // a CROSS-batch late event (ts inside the open session's
              // span) must not rewind `last` — that would invert the
              // interval and spuriously split on the next event; min/max
              // keep the session covering every absorbed event. An event
              // later than the gap below `start` still splits where the
              // batch sort would have merged — the inherent limit of
              // unbuffered streaming sessionization; the stream==batch
              // pin holds for in-order delivery.
              val lo = if (micros(ts) < micros(st.start)) ts else st.start
              val hi = if (micros(ts) > micros(st.last)) ts else st.last
              st = st.copy(start = lo, last = hi, n = st.n + 1)
            }
          }
          if (st != null) {
            out += SessionOut(uid, st.seq, st.n, st.start, st.last) // open
            state.update(st)
          }
          out.iterator
      }
  }

  /** Streaming exact deduplication — the incremental form of
    * TextOps' q_doc_dedup_exact: documents arriving across micro-batches
    * pass through only on first-seen content fingerprint, so a corpus
    * ingested incrementally needs no terminal global dedup pass.
    * `dropDuplicates` keys engine-managed state by the md5 fingerprint
    * (first arrival wins; later copies are suppressed even across
    * micro-batches and restarts via the checkpoint). State grows with
    * |distinct| — the correct semantics for corpus dedup, where a
    * duplicate is a duplicate forever; at cluster scale the state store
    * shards the fingerprint set across executors keyed by fp. Pass
    * `expireAfter` to bound state by event time instead: dedup stays
    * keyed by fingerprint ALONE (a copy arriving at a different event
    * time is still suppressed), but entries older than the watermark
    * horizon expire, so state is rolling-window-bounded. */
  def dedupStream(docs: DataFrame, expireAfter: Option[String] = None): DataFrame = {
    val fped = docs.withColumn("fp", md5(col("text")))
    expireAfter match {
      case Some(horizon) =>
        fped.withWatermark("ts", horizon).dropDuplicatesWithinWatermark("fp")
      case None => fped.dropDuplicates("fp")
    }
  }

  case class BandRow(band_idx: Int, band_hash: String, doc_id: Long,
      sigs: Seq[Long])
  case class BucketMembers(members: Seq[(Long, Seq[Long])])
  case class CandPair(id_a: Long, id_b: Long, band_idx: Int,
      n_sig_agree: Int)

  /** Streaming MinHash-LSH near-duplicate candidates — the incremental
    * form of TextOps.minhashPairsOf's banded candidate generation.
    * Signatures come from the row-local MinhashSigs expression (an
    * aggregation upstream of flatMapGroupsWithState is unsupported, and
    * row-local is the right streaming shape anyway); state is keyed by
    * (band_idx, band_hash) and carries the bucket's member list with
    * signatures, so a newly arriving document emits one candidate row
    * against every EARLIER member of each of its 4 buckets — each
    * unordered pair emits at most once per shared band (readers distinct
    * on (id_a, id_b), exactly like the batch pipeline). In place of the
    * batch exact-Jaccard rerank, candidates carry the standard minhash
    * similarity estimate n_sig_agree/8 — state holds 8 longs per member,
    * never shingle sets.
    *
    * Cap semantics differ from batch deliberately: the batch form drops
    * an over-cap bucket WHOLE (it sees the full bucket), a stream cannot
    * see the future, so admission is first-arrival up to `bucketCap` and
    * later members of a hot bucket are dropped. Both are capped-LSH; the
    * spec pins the behaviors equal below every cap. State is
    * |buckets|·cap-bounded; at cluster scale the state store shards by
    * band key, the same partitioning the batch self-join shuffles on. */
  def neardupStream(spark: SparkSession, docs: DataFrame,
      bucketCap: Int = graft.queries.TextOps.LshBucketCap): org.apache.spark.sql.Dataset[CandPair] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    graft.queries.TextOps.bandRowsOf(docs)
      .select(col("band_idx"), col("band_hash"), col("doc_id"), col("sigs"))
      .as[BandRow]
      .groupByKey(r => (r.band_idx, r.band_hash))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (Int, String), rows: Iterator[BandRow],
            state: GroupState[BucketMembers]) =>
          val prev = state.getOption.map(_.members).getOrElse(Seq.empty)
          val seen = prev.map(_._1).toSet
          // batch iterators are unordered → admit in doc_id order so a
          // replayed micro-batch admits the same members
          val arrivals = rows.map(r => r.doc_id -> r.sigs).toArray
            .distinctBy(_._1).sortBy(_._1)
            .filterNot(r => seen(r._1))
          val admitted = arrivals.take(math.max(0, bucketCap - prev.size))
          val out = scala.collection.mutable.ListBuffer.empty[CandPair]
          var cur = prev
          admitted.foreach { case (id, sg) =>
            cur.foreach { case (oid, osg) =>
              val agree = sg.indices.count(i => sg(i) == osg(i))
              out += CandPair(math.min(oid, id), math.max(oid, id), key._1, agree)
            }
            cur = cur :+ (id -> sg)
          }
          if (admitted.nonEmpty) state.update(BucketMembers(cur))
          out.iterator
      }
  }

  case class VecRow(bucket: Long, vec_id: Long, emb: Seq[Float])
  /** bucket for vectors NearestCentroidF32 cannot assign (dim matches
    * no centroid / null element): admits nothing, passes through with
    * keep=true (r16). Real centroid ids are non-negative. */
  private[graft] val UnassignedCell = -1L
  case class VecBucket(members: Seq[(Long, Seq[Float])])
  case class VecCandPair(id_a: Long, id_b: Long, cosine: Double)

  /** Streaming embedding near-dup — the incremental form of
    * SimilarityOps.neardupOf: sign-LSH bucket keys the state, and each
    * arriving vector scores an EXACT cosine against every earlier
    * member of its bucket (the batch bucket self-join, arriving one row
    * at a time). State carries the vectors themselves (d floats per
    * member, first-arrival-capped like neardupStream) — the price of
    * exact cosine; the minhash stream's 8-long sketch has no cosine
    * analog. The in-state fold is the same sequential
    * double-promoted order as the DotF32/SumSqF32 kernels, so emitted
    * cosines are bit-identical to the batch pipeline's. Each unordered
    * pair emits at most once (when its later member is admitted),
    * already thresholded. */
  def embNeardupStream(spark: SparkSession, vecs: DataFrame, bits: Int = 6,
      threshold: Double = 0.25,
      bucketCap: Int = graft.queries.SimilarityOps.EmbBucketCap): org.apache.spark.sql.Dataset[VecCandPair] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def norm(a: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val v = a(i).toDouble; acc += v * v; i += 1 }
      math.sqrt(acc)
    }
    vecs.select(
      graft.queries.SimilarityOps.signBucket(col("embedding"), bits).as("bucket"),
      col("vec_id"), col("embedding").as("emb"))
      .as[VecRow]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[VecRow], state: GroupState[VecBucket]) =>
          val prev = state.getOption.map(_.members).getOrElse(Seq.empty)
          val seen = prev.map(_._1).toSet
          val arrivals = rows.map(r => r.vec_id -> r.emb).toArray
            .distinctBy(_._1).sortBy(_._1)
            .filterNot(r => seen(r._1))
          val admitted = arrivals.take(math.max(0, bucketCap - prev.size))
          val out = scala.collection.mutable.ListBuffer.empty[VecCandPair]
          // norms are loop invariants: one pass over the carried members
          // per invocation plus one per arrival, instead of
          // O(|members|·|arrivals|) recomputes inside the pair loop (the
          // dot-product fold order — what the bit-identical-to-batch
          // claim rests on — is untouched)
          var cur = prev
          val curNorms = scala.collection.mutable.ArrayBuffer.empty[Double]
          prev.foreach(m => curNorms += norm(m._2))
          admitted.foreach { case (id, e) =>
            val ne = norm(e)
            var j = 0
            cur.foreach { case (oid, oe) =>
              val cos = dot(e, oe) / (ne * curNorms(j))
              if (cos > threshold)
                out += VecCandPair(math.min(oid, id), math.max(oid, id), cos)
              j += 1
            }
            cur = cur :+ (id -> e)
            curNorms += ne
          }
          if (admitted.nonEmpty) state.update(VecBucket(cur))
          out.iterator
      }
  }

  case class SemVerdict(vec_id: Long, centroid_id: Long,
      max_prior_cosine: Option[Double], keep: Boolean)

  /** Packed per-cell state for the streaming SemDeDup (r14 brief item
    * 4). The r13 shape — a case class holding Seq[SemMember(Long,
    * Seq[Float], Option[Double])] — paid the ExpressionEncoder's deep
    * struct-array conversion on EVERY touched cell EVERY trigger:
    * the measured r13 bottleneck was ~0.5 s of the ~0.7 s p50 spent
    * round-tripping full member lists through the state store. The
    * state is now ONE flat byte buffer per cell — member records of
    * [id:8 | hasBest:1 | bestBits:8 | normBits:8 | dim floats] — so
    * ser/de is a memcpy-grade BinaryType column, and each member's
    * norm is computed ONCE on admission (same sequential fold) and
    * carried, instead of recomputed per trigger. Bit-exactness is
    * untouched: floats/doubles round-trip through ByteBuffer exactly,
    * and the cosine fold order is unchanged — the stream==batch spec
    * (bit-equal cosines across out-of-order waves) pins it. */
  case class SemCellBin(n: Int, dim: Int, buf: Array[Byte])

  private object SemPack {
    def recordSize(dim: Int): Int = 8 + 1 + 8 + 8 + 4 * dim
    /** working view of one cell's members (parallel arrays) */
    final class Members(var n: Int, var dim: Int) {
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val embs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
      val hasBest = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      val bests = scala.collection.mutable.ArrayBuffer.empty[Double]
      val norms = scala.collection.mutable.ArrayBuffer.empty[Double]
    }
    def unpack(st: SemCellBin): Members = {
      val m = new Members(st.n, st.dim)
      val bb = java.nio.ByteBuffer.wrap(st.buf)
      var i = 0
      while (i < st.n) {
        m.ids += bb.getLong()
        m.hasBest += (bb.get() != 0)
        m.bests += bb.getDouble()
        m.norms += bb.getDouble()
        val e = new Array[Float](st.dim)
        var j = 0
        while (j < st.dim) { e(j) = bb.getFloat(); j += 1 }
        m.embs += e
        i += 1
      }
      m
    }
    def pack(m: Members): SemCellBin = {
      val dim = if (m.embs.isEmpty) 0 else m.embs.head.length
      val bb = java.nio.ByteBuffer.allocate(m.ids.length * recordSize(dim))
      var i = 0
      while (i < m.ids.length) {
        bb.putLong(m.ids(i))
        bb.put(if (m.hasBest(i)) 1.toByte else 0.toByte)
        bb.putDouble(m.bests(i))
        bb.putDouble(m.norms(i))
        val e = m.embs(i)
        var j = 0
        while (j < dim) { bb.putFloat(e(j)); j += 1 }
        i += 1
      }
      SemCellBin(m.ids.length, dim, bb.array())
    }
  }

  /** Streaming SemDeDup — the incremental form of
    * SimilarityOps.semdedupOf over the cell blocking the r11 density
    * curve proved out: arriving vectors assign to their nearest
    * centroid ROW-LOCALLY (NearestCentroidF32 over the bounded static
    * centroid set — the only argmin form legal upstream of stateful
    * ops, same as encodeStream), and the cell keys the state. Each
    * admitted arrival scores exact cosine against every LOWER-id
    * member of its cell; because a lower-id vector can arrive LATE,
    * verdicts are emitted in Update mode and a late arrival RE-EMITS
    * the raised verdict of every higher-id member it beats. State
    * carries each member's RUNNING max-prior, so every emitted verdict
    * is the member's true verdict as of that trigger — monotone
    * refinement: the latest (equivalently the max-prior-max) row per
    * vec_id equals the batch semdedupOf verdict regardless of arrival
    * order (spec-pinned across interleaved waves). In-state folds
    * reuse the DotF32/SumSqF32 sequential order, so cosines are
    * bit-identical to batch. NaN mirrors Spark comparison semantics
    * (NaN > tau ⇒ keep = false). Cap semantics mirror
    * indexDedupStream's documented caveat: admission is
    * first-arrival-capped per cell, so verdicts equal batch whenever
    * no cell exceeds the cap (batch skips pairwise for a whole
    * mega-cell, which a stream cannot know in advance); non-admitted
    * overflow emits the NULL-prior keep=true the batch mega-cell path
    * produces.
    *
    * State-store configuration (r14, measured with FollowBench on
    * the sf0.1 corpus, trigger unchanged): the r13 bottleneck
    * attribution was wrong in detail — per-batch STATE
    * FIXED COSTS dominate, not member serialization. (a) Partition
    * sizing: every partition commits per micro-batch with a
    * ~100-300 ms per-task constant on the HDFS store; 32 partitions
    * over 16 cells measured 2× the wall of a right-sized store. Size
    * spark.sql.shuffle.partitions to min(parallelism, ceil(nCents/8))
    * before starting this stream — at production k (cells ∝ corpus)
    * that resolves to full parallelism, so the rule costs nothing at
    * scale. Measured: 7.5 s → ~3 s for the same drain, p50 ≤350 ms
    * (bench_history/r14_follow.json), keep/drop bit-unchanged
    * (provider-independent semantics, eq-checked). (b) Provider is
    * secondary at this state size: the default HDFS store wins
    * slightly once sized; RocksDB needs changelogCheckpointing
    * .enabled=true (else per-commit snapshot uploads cost 3×) and is
    * the path once per-cell state outgrows delta-file rewrites. */
  /** state-partition sizing rule for the SemDeDup stream (the r14
    * measured rule, applied automatically since r15): per-partition
    * state-commit constants dominate at small cell counts, so
    * partitions = min(parallelism, ceil(cells/8)); at production k
    * (cells ∝ corpus) this resolves to full parallelism and costs
    * nothing. Exposed for the sizing spec. */
  private[graft] def semdedupStatePartitions(nCells: Int,
      parallelism: Int): Int =
    math.max(1, math.min(parallelism, (nCells + 7) / 8))

  def semdedupStream(spark: SparkSession, vecs: DataFrame,
      cents: DataFrame, threshold: Double = graft.queries.SimilarityOps.SemdedupTau,
      cellCap: Int = graft.queries.SimilarityOps.EmbBucketCap): org.apache.spark.sql.Dataset[SemVerdict] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val centsIdx = graft.queries.SimilarityOps.collectCentroidsOf(cents)
    // each cell's expected vector dim = ITS centroid's dim — centroids
    // are trained FROM the corpus, so the centroid is the authority an
    // EMPTY cell checks arrivals against (r16, ADVICE r15: anchoring to
    // the first arrival let one ragged vector disable dedup for the
    // whole cell). Bounded: |cents| ≤ CentroidCollectCap, and the
    // closure already ships the index itself.
    val dimOfCell: Map[Long, Int] =
      centsIdx.ids.zip(centsIdx.vecs.map(_.length)).toMap
    // r15 (VERDICT r14 item 3): the sizing rule used to be a caller
    // convention ("set shuffle.partitions before starting this stream")
    // — a caller who forgot paid 2× wall. A stateful operator's state
    // partitioning is pinned to the SESSION's shuffle-partition conf at
    // query start (Spark's StatefulOpClusteredDistribution requires
    // exactly that count — an explicit repartition cannot satisfy it),
    // so the rule is applied at plan construction, and only ever
    // DOWNWARD (an already-smaller setting is respected).
    // r16 (VERDICT r15 item 5 + ADVICE): the sizing no longer mutates
    // the CALLER's session — the stream is built on a CLONED session
    // (same SparkContext, cache, and state stores; the caller's runtime
    // conf copied over, then shuffle.partitions sized on the clone
    // only). The caller's conf is untouched and subsequent batch work
    // on it runs at its own partitioning. One visible consequence: a
    // memory-format sink registers its temp view on the stream's own
    // session — read it via `returnedDs.sparkSession.sql(...)`.
    val sized = semdedupStatePartitions(centsIdx.ids.length,
      spark.sparkContext.defaultParallelism)
    val current = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val session =
      if (sized >= current) spark // already right-sized: no clone needed
      else {
        System.err.println(s"[semdedup-stream] sizing state partitions " +
          s"on a cloned session: spark.sql.shuffle.partitions " +
          s"$current -> $sized " +
          s"(${centsIdx.ids.length} cells; min(parallelism, ceil(cells/8)))")
        val s2 = spark.newSession()
        // carry the caller's runtime conf (provider class, checkpoint
        // options, timezone...) — newSession starts from builder
        // defaults, not from later spark.conf.set calls
        spark.conf.getAll.foreach { case (k, v) =>
          try if (s2.conf.getOption(k) != Some(v)) s2.conf.set(k, v)
          catch { case _: Throwable => () } // static/core conf: keep default
        }
        s2.conf.set("spark.sql.shuffle.partitions", sized.toString)
        s2
      }
    val vecsIn =
      if (session eq spark) vecs
      else org.apache.spark.sql.GraftSql.rebind(session, vecs)
    // Spark total-order flavor: NaN beats every real value (the batch
    // window/aggregate ranking the fold mirrors)
    def beats(cos: Double, cur: Option[Double]): Boolean = cur match {
      case None => true
      case Some(p) => cos > p ||
        (java.lang.Double.isNaN(cos) && !java.lang.Double.isNaN(p))
    }
    def keepOf(best: Option[Double]): Boolean = best match {
      case None => true
      case Some(b) => !(b > threshold) && !java.lang.Double.isNaN(b)
    }
    vecsIn.select(
      // r16: an UNASSIGNABLE vector (dim matching no centroid, or a
      // null element — NearestCentroidF32 yields NULL) used to crash
      // the stream encoding NULL into VecRow.bucket before any guard
      // ran; it now routes to the dedicated UnassignedCell, which
      // admits nothing and emits the NULL-prior keep=true verdicts
      coalesce(
        graft.functions.NearestCentroidF32(col("embedding"), centsIdx)
          .getField("centroid_id"), lit(UnassignedCell)).as("bucket"),
      col("vec_id"), col("embedding").as("emb"))
      .as[VecRow]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[VecRow], state: GroupState[SemCellBin]) =>
          val m = state.getOption.map(SemPack.unpack)
            .getOrElse(new SemPack.Members(0, 0))
          val seen = m.ids.toSet
          val arrivals0 = rows.map(r => r.vec_id -> r.emb.toArray).toArray
            .distinctBy(_._1).sortBy(_._1)
            .filterNot(r => seen(r._1))
          val out = scala.collection.mutable.LinkedHashMap.empty[Long, SemVerdict]
          if (cell == UnassignedCell) {
            arrivals0.foreach { case (id, e) =>
              System.err.println(s"[semdedup-stream] vec $id (dim " +
                s"${e.length}) matches no centroid — emitted keep=true " +
                "(no comparable prior), never admitted to state")
              out(id) = SemVerdict(id, cell, None, keep = true)
            }
            out.valuesIterator
          } else semCellBatch(cell, arrivals0, m, state, cellCap,
            dimOfCell.getOrElse(cell, -1), beats, keepOf, out)
      }
  }

  /** one micro-batch of one REAL cell (extracted so the unassigned-cell
    * pass-through above stays a plain if/else — a `return` inside the
    * flatMapGroupsWithState closure would be a non-local return) */
  private def semCellBatch(cell: Long,
      arrivals0: Array[(Long, Array[Float])], m: SemPack.Members,
      state: org.apache.spark.sql.streaming.GroupState[SemCellBin],
      cellCap: Int, cellCentDim: Int,
      beats: (Double, Option[Double]) => Boolean,
      keepOf: Option[Double] => Boolean,
      out: scala.collection.mutable.LinkedHashMap[Long, SemVerdict])
      : Iterator[SemVerdict] = {
          // SemPack's binary layout is fixed-width per cell: a
          // ragged-dim arrival would corrupt or truncate state (ADVICE
          // r14). It is not comparable to the cell's members anyway
          // (the batch dot kernels null mismatched lengths), so it
          // emits the NULL-prior keep=true verdict LOUDLY and never
          // enters state — ragged corpora are out of the batch-equality
          // contract, stated at runtime instead of thrown mid-stream.
          // r16 (ADVICE r15): the expected dim of an EMPTY cell anchors
          // to the CENTROID index's dim, not the first arrival — a
          // ragged first arrival must not re-classify every well-formed
          // vector behind it as ragged (which silently disabled dedup
          // for the whole cell and diverged from batch).
          val cellDim =
            if (m.embs.nonEmpty) m.embs.head.length
            else cellCentDim
          val (arrivals, ragged) = arrivals0.partition(_._2.length == cellDim)
          ragged.foreach { case (id, e) =>
            System.err.println(s"[semdedup-stream] vec $id dim ${e.length} " +
              s"!= cell $cell dim $cellDim — not admitted to state; " +
              "emitted keep=true (no comparable prior)")
            out(id) = SemVerdict(id, cell, None, keep = true)
          }
          val admitted = arrivals.take(math.max(0, cellCap - m.ids.length))
          val overflow = arrivals.drop(admitted.length)
          def bestOf(j: Int): Option[Double] =
            if (m.hasBest(j)) Some(m.bests(j)) else None
          admitted.foreach { case (id, e) =>
            // the norm is computed ONCE here (the same sequential fold
            // as the batch SumSqF32 kernel) and carried in state
            val ne = normA(e)
            var best: Option[Double] = None
            var j = 0
            while (j < m.ids.length) {
              val cos = dotA(e, m.embs(j)) / (ne * m.norms(j))
              if (m.ids(j) < id) {
                if (beats(cos, best)) best = Some(cos)
              } else if (beats(cos, bestOf(j))) {
                // late lower-id arrival raises an existing member's
                // verdict: update state AND re-emit its true verdict
                m.hasBest(j) = true
                m.bests(j) = cos
                out(m.ids(j)) = SemVerdict(m.ids(j), cell, Some(cos),
                  keepOf(Some(cos)))
              }
              j += 1
            }
            out(id) = SemVerdict(id, cell, best, keepOf(best))
            m.ids += id
            m.embs += e
            m.hasBest += best.isDefined
            m.bests += best.getOrElse(0.0)
            m.norms += ne
          }
          overflow.foreach { case (id, _) =>
            out(id) = SemVerdict(id, cell, None, keep = true)
          }
          if (admitted.nonEmpty) state.update(SemPack.pack(m))
          out.valuesIterator
  }

  private def dotA(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  private def normA(a: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val v = a(i).toDouble; acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  /** Streaming shard dedup against a FROZEN persisted text index
    * (TextOps.saveTextIndex artifacts) — the incremental half of the
    * q_doc_index_dedup lifecycle, mirroring encodeStream on the ANN
    * side: documents arriving on a stream get exact + near dup
    * verdicts against yesterday's corpus WITHOUT any stream-side
    * aggregation, so the plan is append-mode legal end to end.
    *
    * Shape: the static side pre-aggregates once at query start —
    * fps → (fp, min idx doc) for the exact tier, bands⋈sigs →
    * (band_idx, band_hash) → bounded member list (≤ LshBucketCap,
    * capped at index WRITE time) for the near tier. The stream side is
    * entirely ROW-LOCAL (fp, MinhashSigs, the 4 band keys), then FOUR
    * stream-static left joins (one per band index) attach the bounded
    * candidate lists, and one projection unions ≤ 4·cap candidates,
    * filters by sketch agreement (n_agree ≥ minAgree of 8), and takes
    * the min agreeing index doc — the same verdict the batch
    * dedupAgainstIndex computes. The interpreted zip_with agreement
    * lambda runs only on LSH-survivor candidates, the batch pipeline's
    * own discipline. One deliberate semantic difference: the batch
    * form also caps degenerate buckets WITHIN the new shard (it sees
    * the whole shard; a stream cannot), so verdicts match batch
    * exactly whenever no new-side bucket exceeds the cap — the spec
    * pins that equality on real data and verifies planted dups in both
    * tiers across separate arrival waves. */
  def indexDedupStream(spark: SparkSession, docs: DataFrame,
      indexDir: String, minAgree: Int = 4): DataFrame = {
    // IndexCompact.read, not a raw parquet read: the index may be
    // compacted (directory-partitioned bands with re-inferred key
    // types) and may carry unfolded streaming side-artifacts
    val fpMin = graft.operators.IndexCompact.read(spark, indexDir, "fps.parquet")
      .groupBy("fp").agg(min("doc_id").as("dup_exact_of"))
    val buckets = graft.operators.IndexCompact.read(spark, indexDir, "bands.parquet")
      .join(graft.operators.IndexCompact.read(spark, indexDir, "sigs.parquet")
        .withColumnRenamed("sigs", "idx_sigs"), "doc_id")
      .groupBy("band_idx", "band_hash")
      .agg(collect_list(struct(col("doc_id").as("idx_id"),
        col("idx_sigs"))).as("cands"))
    val sigExpr = graft.functions.MinhashSigs.default(
      org.apache.spark.sql.GraftSql.expression(split(col("text"), " ")), 3)
    var cur = docs
      .withColumn("fp", md5(lower(col("text"))))
      .withColumn("sigs", org.apache.spark.sql.GraftSql.column(sigExpr))
      .join(fpMin, Seq("fp"), "left")
    for (b <- 0 until 4) {
      val bk = buckets.filter(col("band_idx") === b)
        .select(col("band_hash").as(s"bh$b"), col("cands").as(s"cands$b"))
      cur = cur
        .withColumn(s"bh$b", md5(concat_ws("_",
          element_at(col("sigs"), 2 * b + 1),
          element_at(col("sigs"), 2 * b + 2))))
        .join(bk, Seq(s"bh$b"), "left")
    }
    cur
      .withColumn("dup_near_of", expr(
        s"""array_min(transform(filter(
           |  flatten(filter(array(cands0, cands1, cands2, cands3),
           |    x -> x IS NOT NULL)),
           |  c -> size(filter(zip_with(sigs, c.idx_sigs,
           |    (a, b) -> a = b), x -> x)) >= $minAgree),
           |  c -> c.idx_id))""".stripMargin))
      .withColumn("keep",
        col("dup_exact_of").isNull && col("dup_near_of").isNull)
      .select("doc_id", "dup_exact_of", "dup_near_of", "keep")
  }

  /** Streaming ingest monitor — the running per-source corpus card a
    * team watches DURING a 100 TB ingest (the batch q_doc_corpus_card
    * is the post-hoc global version; its distinct-count columns are
    * unsupported in streaming aggregation, so the streaming card is the
    * per-source counting surface): update-mode groupBy(source) with
    * engine-managed state, emitting refreshed (n_docs, n_tokens,
    * max_doc_tokens) per source each micro-batch. State is
    * |sources|-bounded. The spec pins that after the stream drains, the
    * latest emission per source equals the batch aggregate exactly. */
  def cardStream(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        max(col("n_toks")).as("max_doc_tokens"))

  /** The settle rule of `followLive`: blocks below the returned bound
    * are at or below `head − reorgBuffer`, so a rollback no deeper than
    * the buffer can orphan none of them and a chunk that ends below it
    * may be frozen for good (buffer 0 = settled as soon as seen). */
  private def settledBelow(head: Long,
      spec: graft.chain.Freeze.FreezeSpec): Long =
    head + 1 - spec.reorgBuffer

  /** the `[lo, hiEnd)` of a follow spec; a block list is refused */
  private def contiguous(spec: graft.chain.Freeze.FreezeSpec): (Long, Long) =
    spec.blocks match {
      case graft.chain.BlockSyntax.Range(a, b) => (a, b)
      case graft.chain.BlockSyntax.Numbers(ns) => throw new IllegalArgumentException(
        s"followLive needs a contiguous --blocks range; a block list " +
          s"(${ns.take(3).mkString(",")}…) would be silently densified " +
          "— freeze the list with the batch path instead")
    }

  /** Live follow-the-head driver: cryo's reorg-buffered freeze, re-run
    * on every poll. The caller's thread polls the node's head
    * (eth_blockNumber) every `pollMs`. Each poll takes the run of
    * unfrozen chunks of `spec`'s range that have settled (head ≥ chunk
    * end − 1 + reorgBuffer) and freezes them with `Freeze.freeze`, which
    * fetches each run of missing chunks with ONE `RpcSource.fetchBronze`
    * into Spark's cache and releases it. A block is fetched only once it
    * has settled, so a rollback within the buffer never reaches anything
    * fetched or frozen, and one call fetches no block twice.
    * `spec.datasets` are fetched as a `Cli.run --rpc` freeze fetches
    * them; the specs and the benchmark follow `blocks`.
    *
    * Fails loudly (IllegalStateException) rather than returning with
    * chunks unfrozen: when a chunk's write errors (named), when the head
    * rolls back below a frozen chunk's last block (a reorg deeper than
    * the buffer), and when `maxPolls` runs out before the range's last
    * chunk settles. A re-run resumes: skip-existing keeps the files
    * already frozen and fetches none of their blocks.
    *
    * It makes at most `maxPolls` head polls. A poll's fetch is sized like
    * every fetch: one request per `innerRequestSize` blocks, the requests
    * in whole runs on at most one task per core.
    * `bronzeDir` and `checkpointDir` are unused: the loop stages nothing
    * on disk and starts no streaming query. */
  def followLive(spark: SparkSession, source: graft.sources.RpcSource,
      bronzeDir: String, spec: graft.chain.Freeze.FreezeSpec,
      checkpointDir: String, pollMs: Long = 250, maxPolls: Int = 600): Unit = {
    import graft.chain.{BlockSyntax, Freeze}
    require(spec.reorgBuffer >= 0,
      s"followLive needs reorgBuffer >= 0, got ${spec.reorgBuffer}")
    val (lo, hiEnd) = contiguous(spec)
    val chunks = BlockSyntax.chunks(spec.blocks, spec.chunkSize, spec.nChunks,
      spec.align)
    var frozen = 0 // chunks(0 until frozen) are on disk
    var head = lo - 1
    var polls = 0
    while (frozen < chunks.size && polls < maxPolls) {
      if (polls > 0) Thread.sleep(pollMs)
      head = source.fetchLatestBlock()
      polls += 1
      if (frozen > 0 && head < chunks(frozen - 1).endExclusive - 1)
        throw new IllegalStateException(
          s"reorg deeper than the buffer: head rolled back to $head but " +
          s"chunks through block ${chunks(frozen - 1).endExclusive - 1} " +
          s"are frozen (reorgBuffer=${spec.reorgBuffer}); re-run with " +
          s"--overwrite from block ${head + 1} after raising the buffer")
      val run = chunks.drop(frozen)
        .takeWhile(_.endExclusive <= settledBelow(head, spec))
      if (run.nonEmpty) {
        // re-chunk the run's span as planned: every chunk but the range's
        // last is as long as the run's first (n-chunks and align included)
        val r = Freeze.freeze(
          source.fetchBronze(spark, _, spec.datasets),
          spec.copy(blocks = BlockSyntax.Range(run.head.start, run.last.endExclusive),
            chunkSize = run.head.endExclusive - run.head.start,
            nChunks = None, align = false))
        if (r.errored.nonEmpty)
          throw new IllegalStateException(
            s"followLive could not write ${r.errored.mkString(", ")}; " +
            "re-run followLive to resume from the frozen chunks")
        frozen += run.size
      }
    }
    if (frozen < chunks.size) {
      val end = chunks.last.endExclusive
      val why =
        if (head < end - 1)
          s"range incomplete: the head reached block $head of [$lo, $hiEnd)"
        else
          s"head $head never settled past range end + reorgBuffer " +
          s"(${end - 1 + spec.reorgBuffer})"
      throw new IllegalStateException(
        s"followLive exited before the range settled — $why after $polls " +
        s"head polls (maxPolls=$maxPolls); ${chunks.size - frozen} of " +
        s"${chunks.size} chunks are NOT frozen; re-run followLive to " +
        "resume (skip-existing keeps the frozen chunks), raising " +
        "maxPolls/pollMs if the node is slow.")
    }
  }
}
