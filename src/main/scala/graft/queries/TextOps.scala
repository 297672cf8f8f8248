package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for LLM-training-data pipelines, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All heuristics are engine-portable: md5 (identical algorithm in Spark
  * and DuckDB) supplies every hash; token ops use array/list lambdas;
  * ratios are single int/int double divisions (IEEE-deterministic).
  * Documents are single-space-separated word soup; tokenization is a plain
  * split on ' '.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private def toks: Column = split(col("text"), " ")

  /** (doc_id, sh): distinct word-3-gram shingle set per document.
    * NOTE for lambda formulations generally: never apply a
    * higher-order-function lambda to `split(text)` inline — projection
    * collapse inlines the split into every element access, re-tokenizing
    * the whole document per shingle (O(n²) per doc, measured 10×
    * slower). Bind behind a barrier, or better, avoid HOFs on hot paths
    * (they run interpreted) — which is why this goes through the
    * ExplodeShingles Generator. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    shingledOf(Tables(s, dir, "documents"))

  private def shingledOf(docs: DataFrame): DataFrame =
    // Generator + collect_set instead of the interpreted array-lambda
    // `shingles`: one compiled pass per document; the set's element
    // order differs from construction order, which is invisible to the
    // intersect/union consumers (measured ~25% faster on ngram_jaccard).
    shingleRowsOf(docs)
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("sh"))

  /** flat (doc_id, shingle) rows via the custom ExplodeShingles Generator
    * — one compiled pass per document, NO shuffle (formulations measured
    * at sf0.1 and rejected: posexplode+window lead shuffle-sorts every
    * token row; the array-lambda `shingles` runs interpreted per element,
    * 3-5× slower). Downstream groupBy(doc_id) aggregations partial-agg
    * before their shuffle, so only |docs|-scale rows ever move. */
  private def shingleRowsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSql
    docs
      .select(col("doc_id"),
        GraftSql.column(
          graft.functions.ExplodeShingles(GraftSql.expression(toks), 3))
          .as("shingle"))
  }

  /** IVF-probed semantic decontamination (see q_doc_sem_decontam_ivf
    * in `queries` for the full contract): both sides assign to
    * `nCents` seed cells row-locally, train compares only against
    * same-cell eval vectors. nCents is the scale knob (grow with the
    * corpus like semdedupOf's k) — 16 is the fixture convention the
    * oracle pins; the r11 density curve measures the scaled knob.
    * centsOverride swaps in TRAINED centroids (kmeansOf) under the
    * same blocking — the r13 trained-router promotion applied to the
    * decontamination family. */
  def semDecontamIvfOf(e: DataFrame, nCents: Int = 16,
      centsOverride: Option[DataFrame] = None,
      twoLevelTrained: Boolean = false): DataFrame = {
    val cents = centsOverride.getOrElse(
      e.filter(col("vec_id") < nCents)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb")))
    val centsIdx = graft.queries.SimilarityOps.collectCentroids(cents)
    // twoLevelTrained = the graded assignment route above
    // SimilarityOps.TwoLevelAssignK (r15): nearest of √k trained
    // supers, then argmax over that super's children — ~2√k dots per
    // row instead of k, the same Centroid2LevelIndex.buildTrained
    // convention the density family and its oracles share
    val idx2 =
      if (!twoLevelTrained) None
      else Some(graft.functions.Centroid2LevelIndex.buildTrained(centsIdx,
        math.max(2, math.floor(math.sqrt(centsIdx.ids.length.toDouble)).toInt)))
    def assign(df: DataFrame, idCol: String) = df
      .select(col("vec_id").as(idCol), col("embedding"),
        (idx2 match {
          case Some(i2) =>
            graft.functions.NearestCentroid2LevelF32(col("embedding"), i2)
          case None =>
            graft.functions.NearestCentroidF32(col("embedding"), centsIdx)
        }).as("nc"))
      .select(col(idCol), col("nc.centroid_id").as("centroid_id"),
        col("embedding"))
    val ev = assign(e.filter(col("vec_id") % 10 === 0), "eval_id")
      .select(col("centroid_id"), col("eval_id"),
        col("embedding").as("e_emb"))
    val dot = graft.functions.VectorOps.dot _
    val ss = graft.functions.VectorOps.sumSq _
    val tr = assign(e.filter(col("vec_id") % 10 =!= 0), "doc_id")
    val sem = tr.join(ev, "centroid_id")
      .withColumn("cosine", dot(col("embedding"), col("e_emb")) /
        (sqrt(ss(col("embedding"))) * sqrt(ss(col("e_emb")))))
      .groupBy("doc_id")
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("neg_id"))).as("w"))
      .select(col("doc_id"), col("w.cosine").as("max_cell_cosine"),
        (-col("w.neg_id")).as("nearest_eval_id"))
    tr.select("doc_id", "centroid_id")
      .join(sem, Seq("doc_id"), "left")
      .withColumn("flagged_sem",
        coalesce(col("max_cell_cosine") >= 0.35, lit(false)))
  }

  /** EXACT semantic decontamination — the flat |train|×|eval| cross
    * product (every train embedding scored against every eval
    * embedding, broadcast eval side). This is the r11-measured
    * scale-killer (210.8× wall for 100× data, r11_sf100_true.json):
    * its cost is the full product BY ITS SEMANTICS, so it is pinned at
    * fixture scale as the recall ceiling the IVF path is audited
    * against (spec: the cell-scoped max_cell_cosine never exceeds
    * max_eval_cosine, and IVF flags ⊆ exact flags) — it is NOT the
    * graded default; q_doc_sem_decontam routes through
    * semDecontamIvfOf since r12. */
  def semDecontamExactOf(e: DataFrame): DataFrame = {
    val ev = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("e_emb"))
    val dot = graft.functions.VectorOps.dot _
    val ss = graft.functions.VectorOps.sumSq _
    e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(ev))
      .withColumn("cosine", dot(col("embedding"), col("e_emb")) /
        (sqrt(ss(col("embedding"))) * sqrt(ss(col("e_emb")))))
      .groupBy("doc_id")
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("neg_id"))).as("w"))
      .select(col("doc_id"), col("w.cosine").as("max_eval_cosine"),
        (-col("w.neg_id")).as("nearest_eval_id"))
      .withColumn("flagged_sem", col("max_eval_cosine") >= 0.35)
  }

  private def distinctShingleRows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSql
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        GraftSql.column(graft.functions.ExplodeShingles(
          GraftSql.expression(toks), 3, distinctPerRow = true))
          .as("shingle"))
  }

  /** DuckDB twin of SimilarityOps.scaledCellCount — the corpus-scaled
    * cell count of the graded density path (floor 16 = the sf0.01
    * fixture convention) */
  private def duckScaledK: String =
    "greatest(16, (SELECT count(*) FROM embeddings) // " +
      s"${graft.queries.SimilarityOps.CellTargetSize})"

  /** the IVF-probed semantic-decontamination oracle body downstream of
    * ANY cents table — seed (q_doc_sem_decontam_ivf), via the flat
    * assignment */
  private def duckSemDecontamIvfBody(centsCte: String): String =
    s"""${graft.queries.SimilarityOps.duckFlatAssignCtes(centsCte)},
      |${duckSemDecontamIvfBodyFrom("assign")}""".stripMargin

  /** the same body downstream of ANY assign CTE (vec_id, embedding,
    * centroid_id) — flat or the k-threshold-branched 2-level route
    * (SimilarityOps.duckTrainedAssignCtes) */
  private def duckSemDecontamIvfBodyFrom(assignCte: String): String =
    s"""ev AS (SELECT centroid_id, vec_id AS eval_id, embedding AS e_emb
      |  FROM $assignCte WHERE vec_id % 10 = 0),
      |tr AS (SELECT vec_id AS doc_id, centroid_id, embedding
      |  FROM $assignCte WHERE vec_id % 10 <> 0),
      |sc AS (
      | SELECT tr.doc_id, ev.eval_id,
      |  list_reduce(list_transform(range(1, 65),
      |    i -> CAST(tr.embedding[i] AS DOUBLE) * ev.e_emb[i]), (x, y) -> x + y) /
      |  (sqrt(list_reduce(list_transform(tr.embedding,
      |     x -> CAST(x AS DOUBLE) * x), (a, b) -> a + b)) *
      |   sqrt(list_reduce(list_transform(ev.e_emb,
      |     x -> CAST(x AS DOUBLE) * x), (a, b) -> a + b))) AS cosine
      | FROM tr JOIN ev ON tr.centroid_id = ev.centroid_id),
      |sem AS (
      | SELECT doc_id, cosine AS max_cell_cosine, eval_id AS nearest_eval_id
      | FROM (SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY cosine DESC, eval_id ASC) AS rn
      |   FROM sc) WHERE rn = 1)
      |SELECT t.doc_id, t.centroid_id, s.max_cell_cosine,
      | s.nearest_eval_id,
      | coalesce(s.max_cell_cosine >= 0.35e0, FALSE) AS flagged_sem
      |FROM tr t LEFT JOIN sem s ON t.doc_id = s.doc_id""".stripMargin

  private val duckShingles =
    "list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"

  /** non-distinct variant: one entry per position, like the Generator */
  private val duckShinglesAll =
    "list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"

  /** MinHash signatures, row-local: ONE md5 per shingle reduced mod
    * MinhashMod, then 8 affine transforms h_i(x) = (a_i·x + b_i) mod P
    * min-folded inside the MinhashSigs expression — one compiled pass
    * per document, NO shuffle (the earlier ExplodeShingles →
    * partial-agg-MIN pipeline moved |docs|-scale rows through an
    * exchange; this form removes that exchange entirely, and it is the
    * only shape a streaming pipeline may use before a stateful
    * operator). Docs with < 3 tokens return null sigs and are dropped,
    * matching the exploded form's empty output for them. */
  def rowSigsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.MinhashSigs(toks, 3, MinhashMod,
        MinhashA, MinhashB, MinhashP).as("sigs"))
      .filter(col("sigs").isNotNull)

  /** flat (doc_id, band_idx, band_hash, sigs) LSH band rows — 4 bands ×
    * 2 signature rows, band key = md5 over the band's sig pair. Shared
    * by the batch pairs pipeline and the streaming near-dup (which
    * carries `sigs` into bucket state for the similarity estimate). */
  def bandRowsOf(docs: DataFrame): DataFrame =
    bandRowsOfSigs(rowSigsOf(docs))

  /** band expansion over an ALREADY-COMPUTED (doc_id, sigs) frame —
    * factored out (r16) so saveTextIndex can derive `bands.parquet`
    * from the just-published `sigs.parquet` instead of re-running the
    * per-shingle MinhashSigs pass over the whole corpus a second time
    * (guide §1.2: don't compute things twice — the sig pass is the
    * index build's only corpus-heavy compute). */
  def bandRowsOfSigs(sigRows: DataFrame): DataFrame =
    sigRows.select(col("doc_id"), col("sigs"),
      explode(array((0 until 4).map(bnd =>
        struct(lit(bnd).as("band_idx"),
          md5(concat_ws("_",
            element_at(col("sigs"), 2 * bnd + 1),
            element_at(col("sigs"), 2 * bnd + 2))).as("band_hash"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx").as("band_idx"),
        col("b.band_hash").as("band_hash"), col("sigs"))

  /** hot-bucket cap shared by the pair pipeline and the persisted
    * index — a degenerate band key otherwise makes any bucket join
    * quadratic. The window count shares the band-key partitioning. */
  private def cappedBands(bands: DataFrame): DataFrame =
    bands
      .withColumn("bsz", count(lit(1))
        .over(Window.partitionBy("band_idx", "band_hash")))
      .filter(col("bsz") <= LshBucketCap)
      .drop("bsz")

  /** Persist the corpus dedup-index artifacts — build once, dedup every
    * later shard against them without touching yesterday's text:
    * `fps.parquet` (content hashes, the exact tier), `bands.parquet`
    * (LSH band keys, hot buckets capped at WRITE time so no later join
    * can go quadratic on a degenerate key), `sigs.parquet` (the 8-slot
    * MinHash sketches for the similarity estimate). At scale bands
    * partition naturally by band_hash prefix and the whole index is
    * tiny relative to the corpus (hashes and 8-long sketches, no text). */
  def saveTextIndex(docs: DataFrame, dir: String): Unit = {
    // all three artifacts publish through the pointer layout
    // (IndexCompact manages them): a rebuild after a compact bumps the
    // version instead of writing a tree the pointer would shadow
    val ic = graft.operators.IndexCompact
    val s = docs.sparkSession
    // ONE corpus-heavy pass (r16): the per-shingle MinhashSigs compute
    // runs once into sigs.parquet; bands derive from the published
    // sig table (8 longs/doc — tiny), not from a second full corpus
    // pass. Identical band keys by construction: bandRowsOf ==
    // bandRowsOfSigs ∘ rowSigsOf, and the parquet round-trip of long
    // sigs is exact. At 100 TB this halves the index build's compute
    // (2 shingle+hash corpus scans → 1). The independent fps write
    // OVERLAPS the sigs write from a second driver thread (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially) — the fps scan's tasks back-fill executors freed
    // by the sig pass's tail instead of serializing two corpus reads.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fpsFrame = docs.select(col("doc_id"), md5(lower(col("text"))).as("fp"))
    // r17 A/B seam (VERDICT r16 item 1): the overlapped fps write won at
    // sf0.1 but both r16 10x sidecar runs read SLOWER (3.43 -> 5.08/4.09)
    // suggesting two concurrent corpus scans contend at scale.
    // GRAFT_INDEX_OVERLAP=0 serializes the fps write. MEASURED (r17,
    // interleaved isolated A/B at sf1t): overlap=1 medians 2.8 s vs
    // overlap=0 3.05 s — the overlap wins consistently in matched
    // windows (the r16 sidecar regression was in-suite window noise),
    // so it stays the default; the seam stays for future re-measures.
    val overlap = sys.env.get("GRAFT_INDEX_OVERLAP").forall(_ != "0")
    val fpsWrite: Option[Future[Unit]] =
      if (overlap) Some(Future {
        ic.writeFresh(s, dir, "fps.parquet", fpsFrame) })
      else { ic.writeFresh(s, dir, "fps.parquet", fpsFrame); None }
    var bodyOk = false
    try {
      ic.writeFresh(s, dir, "sigs.parquet", rowSigsOf(docs))
      // bands derive from the just-published MAIN sigs tree
      // (resolvePath), not IndexCompact.read: read() unions any
      // streaming side-artifact rows — no text-index stream sink exists
      // today, but a future one must never bake stream-side docs into
      // bands whose fps/sigs rebuild corpus never saw them (ADVICE r16).
      val sigsBack = s.read.parquet(
        graft.operators.IndexCompact.resolvePath(dir, "sigs.parquet"))
        .select(col("doc_id"), col("sigs"))
      ic.writeFresh(s, dir, "bands.parquet",
        cappedBands(bandRowsOfSigs(sigsBack)
          .select("doc_id", "band_idx", "band_hash")))
      bodyOk = true
    } finally {
      // ADVICE r16: a sigs/bands failure must not leave the detached fps
      // job running unobserved (or publishing after this method already
      // surfaced an exception) — ALWAYS await; the first failure wins
      // (an fps failure is swallowed only when the body already threw).
      fpsWrite.foreach { f =>
        try Await.result(f, scala.concurrent.duration.Duration.Inf)
        catch { case e: Throwable => if (bodyOk) throw e }
      }
    }
  }

  /** Dedup a NEW shard against a persisted index (the incremental
    * corpus-growth path: yesterday's corpus is frozen in the index,
    * today's shard arrives). Exact tier: content-hash join vs
    * `fps.parquet`. Near tier: the shard's capped band rows join the
    * index's capped bands on the band key (both sides bounded, never
    * quadratic), candidates verify by MinHash sketch agreement
    * (n_agree/8, the streaming near-dup estimate — the index stores
    * 8-long sketches, not text, so verification needs no second corpus
    * scan; minAgree=4 ≈ estimated Jaccard 0.5). The zip_with agreement
    * lambda is interpreted, but runs only on LSH-survivor candidates.
    * Every shard doc is emitted with both verdicts (audit discipline). */
  def dedupAgainstIndex(spark: SparkSession, newDocs: DataFrame,
      dir: String, minAgree: Int = 4): DataFrame = {
    // artifacts may be flat (fresh build), fragmented (streaming
    // ingest) or band_idx-partitioned (post-compaction) — the pinned
    // read restores one schema across all three layouts
    import graft.operators.IndexCompact
    val idxFps = IndexCompact.read(spark, dir, "fps.parquet")
      .select(col("doc_id").as("idx_id"), col("fp"))
    val idxBands = IndexCompact.read(spark, dir, "bands.parquet")
      .select(col("doc_id").as("idx_id"), col("band_idx"), col("band_hash"))
    val idxSigs = IndexCompact.read(spark, dir, "sigs.parquet")
      .select(col("doc_id").as("idx_id"), col("sigs").as("idx_sigs"))
    val withFp = newDocs
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
    val exact = withFp.join(idxFps, "fp")
      .groupBy("doc_id").agg(min("idx_id").as("dup_exact_of"))
    val cands = cappedBands(bandRowsOf(newDocs))
      .join(idxBands, Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("idx_id"), col("sigs")).distinct()
    val near = cands.join(idxSigs, "idx_id")
      .withColumn("n_agree", size(filter(
        zip_with(col("sigs"), col("idx_sigs"), (a, b) => a === b),
        x => x)))
      .filter(col("n_agree") >= minAgree)
      .groupBy("doc_id").agg(min("idx_id").as("dup_near_of"))
    withFp.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .withColumn("keep",
        col("dup_exact_of").isNull && col("dup_near_of").isNull)
  }

  private val stop = Map(
    "en" -> Seq("the", "a", "of"),
    "fr" -> Seq("le", "les", "une"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "los", "una"))

  private def stopCount(t: Column, words: Seq[String]): Column =
    size(filter(t, x => x.isin(words.map(lit(_)): _*)))

  private def duckStopCount(words: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** minhash affine hash family h_i(x) = (a_i·x + b_i) mod P over a base
    * md5-derived hash reduced mod M. Constants sized so a_i·x < 2^61 —
    * no 64-bit overflow (DuckDB bigint overflow errors; Spark wraps;
    * staying under the limit keeps both engines exact and identical). */
  // the minhash affine family lives in the MinhashSigs companion (shared
  // with the SQL surface registration); these aliases keep the oracle
  // SQL builders below terse
  private val MinhashMod = graft.functions.MinhashSigs.DefaultMod
  private val RollMod = 4294967291L // largest prime < 2^32
  private val MinhashP = graft.functions.MinhashSigs.DefaultP
  private val MinhashA = graft.functions.MinhashSigs.DefaultA
  private val MinhashB = graft.functions.MinhashSigs.DefaultB

  /** LSH bucket-size cap: a band bucket holding more than this many docs
    * is dropped from pair generation (standard LSH hygiene). A degenerate
    * band — empty/boilerplate docs sharing a signature — otherwise makes
    * the band self-join quadratic: one 1M-doc bucket alone would emit
    * 5·10^11 candidate pairs. Docs dense enough to blow the cap are
    * near-identical clusters the exact-dedup pass already collapses; the
    * cap is mirrored in the DuckDB oracle so both engines define the SAME
    * capped-LSH semantics at every scale. */
  val LshBucketCap = 64

  /** Rerank-side broadcast guard: candidate shingle sets are broadcast
    * only when the surviving candidate-doc count is at most this; above
    * it the rerank falls back to shuffled joins (shingle sets are KB-sized
    * per doc — an unguarded broadcast OOMs the driver if an adversarial
    * corpus yields millions of LSH survivors). */
  val RerankBroadcastMaxDocs = 50000L

  /** MinHash-LSH near-dup candidate pairs: 4 bands × 2 rows, bucket-join
    * on band hash (the scale path: shuffle on band key, no all-pairs
    * scan), then exact Jaccard verification on candidates only. Cost
    * shape for 100 TB: ONE md5 per shingle (the 8 hash functions are
    * affine transforms of that base hash — a standard minhash family),
    * bands carry only (doc_id, band_hash) into the self-join, oversized
    * buckets are capped (LshBucketCap), candidate pairs are id-only
    * before distinct, and shingle arrays are joined back just for the
    * surviving candidates — broadcast only under RerankBroadcastMaxDocs.
    *
    * Persist strategy (r1's slowest query, 5.4s): cache only the TINY
    * shared stages — capped band rows feed both self-join sides, pairs
    * feeds candIds + the final join. Signatures are row-local
    * (MinhashSigs — no shingle rows, no exchange) and are read exactly
    * once (into capped), so nothing upstream of the cap is cached:
    * materializing one-reader stages through the block manager is pure
    * overhead. Candidate shingle sets are rebuilt by re-shingling ONLY
    * the candidate docs (a semi-join on the documents scan), not by
    * caching 10M+ rows. */
  /** inner MEMORY_AND_DISK intermediates created by minhashPairsOf —
    * tracked so clearAuditCache can release them: the outer cached
    * frames' unpersist does not reach these, and a long-lived process
    * sweeping many corpora would otherwise pin LSH intermediates in the
    * block manager forever. */
  private val innerPersists =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
  /** shared with MultimodalOps: its per-invocation image-hash persist
    * rides the same release queue, so one clearAuditCache sweep reclaims
    * every pipeline-internal block-manager entry */
  private[queries] def trackPersist(df: DataFrame): DataFrame = {
    innerPersists.add(df)
    df
  }

  def minhashPairsOf(docs: DataFrame, bucketCap: Int = LshBucketCap,
      broadcastMaxDocs: Long = RerankBroadcastMaxDocs,
      minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val banded = bandRowsOf(docs)
      .select(col("doc_id"), col("band_idx"), col("band_hash"))
    // Cap hot buckets BEFORE the self-join: a window count over the band
    // key shares the self-join's shuffle partitioning (band_idx,
    // band_hash), so the cap costs no extra exchange on the build side.
    val capped = trackPersist(banded
      .withColumn("bsz", count(lit(1))
        .over(Window.partitionBy("band_idx", "band_hash")))
      .filter(col("bsz") <= bucketCap)
      .drop("bsz")
      .persist(StorageLevel.MEMORY_AND_DISK)) // skinny; feeds both join sides
    // Banded self-join for candidate pairs. A bucket-local pair
    // generator (groupBy + collect_list + generator) was measured 25%
    // SLOWER at sf0.1: collect_list forces ObjectHashAggregate with no
    // partial aggregation, costing more than the join's second shuffle
    // of skinny (band, id) rows.
    val l = capped.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_a"))
    val r = capped.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_b"))
    val pairs = trackPersist(l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    val candIds = trackPersist(pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    // The broadcast decision needs the real survivor count — pairs is
    // persisted, so this is a cheap scalar action on a tiny table, the
    // price of never broadcasting an unbounded set.
    val nCand = candIds.count()
    val small = nCand <= broadcastMaxDocs
    // candidate sets are LSH-survivor-sized (≪ corpus) → broadcast both
    // sides of the rerank so the pair table never shuffles its arrays.
    // (A flat-row join-count variant of the exact-Jaccard rerank was
    // measured 1.7× slower at sf0.1 — the array form wins here.)
    val candSets = {
      import org.apache.spark.sql.GraftSql
      docs.join(if (small) broadcast(candIds) else candIds, "doc_id")
        .select(col("doc_id"),
          GraftSql.column(graft.functions.ExplodeShingles(
            GraftSql.expression(toks), 3)).as("shingle"))
        .groupBy("doc_id").agg(collect_set(col("shingle")).as("sh"))
    }
    trackPersist(candSets.persist(StorageLevel.MEMORY_AND_DISK)) // feeds TWO broadcast exchanges
    val shA = candSets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val shB = candSets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    pairs
      .join(if (small) broadcast(shA) else shA, "id_a")
      .join(if (small) broadcast(shB) else shB, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** PII detection + redaction over (doc_id, raw) rows: count email
    * addresses and 4+-digit runs, emit the redacted text. A stateless
    * codegen'd projection — no shuffle, no state — so the SAME function
    * runs unchanged on a streaming DataFrame (spec-pinned row-identical
    * to batch). Emails scrub before digit runs so an address's own
    * digits never half-match as a partial <NUM>. */
  def piiScrubOf(docs: DataFrame): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val digitPat = "[0-9]{4,}"
    docs.select(col("doc_id"),
      regexp_count(col("raw"), lit(emailPat)).cast("long").as("n_emails"),
      regexp_count(col("raw"), lit(digitPat)).cast("long").as("n_digit_runs"),
      regexp_replace(regexp_replace(col("raw"), emailPat, "<EMAIL>"),
        digitPat, "<NUM>").as("clean_text"))
  }

  /** Connected components over an undirected (id_a, id_b) pair table by
    * iterative min-label propagation (the standard large-graph CC shape:
    * whole-graph joins per round, no driver-side graph). Returns
    * (doc_id, cluster_id) for every node in some pair, cluster_id = the
    * component's min doc_id. `maxRounds` bounds the worst case (graph
    * diameter); the loop exits the first round with no label changes.
    * Between batches the graph CONTRACTS (pairs relabeled by current
    * labels, dedup, self-loops dropped), so each level's rounds join a
    * shrinking edge set — see the contraction comment in the body.
    *
    * `checkpointDir`: None (default) truncates lineage via
    * localCheckpoint — executor-storage only, fine single-node and
    * fastest. On a real cluster an executor loss mid-loop would kill
    * the job with localCheckpoint, so pass a reliable dir (HDFS/object
    * store) to swap in fault-tolerant `checkpoint` — same labels,
    * bit-identical output.
    *
    * `roundsPerAction`: propagation rounds composed into ONE Spark
    * action (lineage cut + convergence observation). Each round is a
    * join+groupBy; composing k of them trades ≤k-1 extra (cheap,
    * already-converged) rounds for k× fewer fixed-overhead checkpoint
    * jobs — the dominant cost at small scale and harmless at large
    * scale where per-round compute dwarfs job launch. */
  /** invocation counter — lets the persist-once pipeline spec prove a
    * cached audit run triggers exactly one CC training pass */
  private[graft] val clustersInvocations =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Driver finish cap for clustersOf (r16): once the (contracted)
    * edge set fits this many rows, one bounded collect + an exact
    * union-find replace the remaining distributed rounds — the tail of
    * an iterative CC is a tiny graph paying full per-action overhead
    * (measured at sf0.1: levels whose label sums were ~1k cost ~0.5 s
    * each in fixed job costs). Scale-adaptive by construction: a
    * 100 TB pair graph runs distributed batches until the geometric
    * contraction drops under the cap, then finishes locally — the
    * same counted-collect discipline as the centroid/codebook caps
    * (64k edges ≈ 1 MB on the driver; the collect is limit-bounded
    * BEFORE any size check, so an over-cap graph costs one truncated
    * read, never a driver OOM). Bit-equal output: union-by-min keeps
    * the component-min id as every root, exactly the fixpoint the
    * distributed min-label propagation computes (spec-pinned both
    * sides of the seam-forced cap). */
  val CcFinishEdgeCap: Int = 1 << 16
  /** test seam: force the distributed path (Some(0)) or an early
    * finish (small cap) to pin bit-equality across the route */
  @volatile private[graft] var ccFinishCapOverride: Option[Int] = None
  private def ccFinishCap: Int = ccFinishCapOverride.getOrElse(CcFinishEdgeCap)

  /** exact union-find over a collected edge list → (doc_id, label)
    * level map, label = component-min id (union by MIN root: every
    * merge keeps the smaller root, so each tree's root IS its
    * component minimum — the distributed propagation's fixpoint). */
  private def driverCcMap(s: SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression keeps the loop near-linear
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rows = parent.keysIterator.toArray.sorted
      .map(n => Row(n, find(n))).toSeq
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("label", LongType, nullable = false))))
  }

  def clustersOf(pairs: DataFrame, maxRounds: Int = 20,
      checkpointDir: Option[String] = None,
      roundsPerAction: Int = 2): DataFrame = {
    import org.apache.spark.sql.Observation
    require(roundsPerAction >= 1, "roundsPerAction must be >= 1")
    clustersInvocations.incrementAndGet()
    // Iterative algorithms MUST truncate lineage as they go:
    // persist() alone only short-circuits execution — Catalyst still
    // re-analyzes the full logical plan on every action, and the plan
    // of round k embeds round k-1's plan several times over, so
    // analysis cost grows exponentially (measured: 467 nodes / 251
    // edges took 100s un-truncated, <2s with checkpoints).
    // r17 (VERDICT r16 item 7): every cut additionally passes the
    // GraftSql constraint barrier — the checkpoint's LogicalRDD
    // otherwise carries the level's accumulated constraint set and
    // re-canonicalizes it per self-join re-analysis, which COMPOUNDS
    // per contraction level on adversarial (id-monotone path) layouts
    // (measured r16: 17 s → 258 s per level under a seam-forced cap).
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftSql.constraintBarrier(
        if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint())
    //
    // Batch structure: exactly ONE action per executed batch of
    // `roundsPerAction` rounds — the eager checkpoint of the composed
    // plan. Path halving is folded into the SAME join+groupBy as
    // neighbor propagation by augmenting the edge set with "pointer
    // edges" label(v) -> v: the min over {neighbor labels} ∪
    // {label(label(v))} arrives in one aggregation, no separate
    // grandparent join. The pointer edge also makes the propagation
    // min itself ≤ the old label (label(label(v)) ≤ label(v) by the
    // labels-never-exceed-ids invariant), so each round is ONE
    // join+groupBy — no least(old, new) rejoin against the previous
    // labels. Convergence needs no old-vs-new join either: labels are
    // pointwise monotone non-increasing, so sum(label) is strictly
    // decreasing until the fixpoint and constant after it; every
    // round observes its label sum (CollectMetrics, all filled by the
    // batch's single job) and the loop stops the first time two
    // consecutive sums are equal. Sums are DECIMAL(38,0) so arbitrary
    // 64-bit doc ids at any corpus size cannot overflow the metric.
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    val t0 = System.nanoTime()
    def dbg(msg: => String): Unit =
      if (debug) println(f"[cc] +${(System.nanoTime() - t0) / 1e9}%.2fs $msg")
    // ADVICE r16: both routes must share ONE output schema — the driver
    // finish always emitted LongType while the distributed route kept
    // the input id type. Cast at entry so non-long ids converge (all
    // real callers pass long doc ids already).
    var und = cut(pairs.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b")))
    dbg("pairs checkpointed")
    // edges' plan is a Union of two narrow projects over checkpointed
    // und — no exchange, no need for its own checkpoint.
    def symmetric(u: DataFrame): DataFrame =
      u.union(u.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .toDF("src", "dst")
    var edges = symmetric(und)
    // not checkpointed: only the first batch reads this plan (each
    // batch's checkpoint replaces `labels`), and its occurrences there
    // dedupe into one ReusedExchange — cheaper than an extra eager job
    def nodesOf(u: DataFrame): DataFrame =
      u.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
        .withColumn("label", col("doc_id"))
    var labels = nodesOf(und)
    val zero = new java.math.BigDecimal(0)
    def labelSum(o: Observation): java.math.BigDecimal =
      // getOrElse, not apply: an EMPTY pair graph (fully pre-deduped
      // corpus) lets PropagateEmptyRelation prune the observe node, so
      // the metric key never materializes — that is "sum over zero
      // rows", not an error
      o.get.getOrElse("label_sum", null) match {
        case null => zero // empty graph: sum over zero rows is null
        case d: java.math.BigDecimal => d
        case d: BigDecimal => d.bigDecimal
      }
    var prevSum: Option[java.math.BigDecimal] = None
    var round = 0
    var converged = false
    // Batch size stays CONSTANT at roundsPerAction: growing it was
    // measured and rejected. A long-chain graph (embedding cosine
    // links, 12 rounds at sf0.1) tempts exponential batching (2,4,8 →
    // 3 actions instead of 6), but composed batches degrade sharply —
    // a 4-round batch ran ~1.8× and an 8-round batch ~8× slower than
    // the same rounds in 2-round batches, because the intermediate
    // rounds' MEMORY_AND_DISK persists are not reliably shared WITHIN
    // the single composing action (each intermediate feeds two
    // consumers — pointer edges and the join right side — and beyond
    // ~2 composed rounds the deeper plan recomputes them), so plan
    // cost grows super-linearly while the saved per-action overhead is
    // ~0.25 s. Measured totals: rpa=2 constant 3.4 s; 2,4,4 batches
    // 6.0 s; 2,4,8 batches 14-16 s (q_embed_dedup_clusters, sf0.1).
    // Graph CONTRACTION between batches: a batch that has not yet
    // converged relabels the pair table by its current labels (dedup,
    // self-loops dropped) and recurses on the contracted graph. Each
    // partial cluster collapses to one node, so later rounds join a
    // SHRINKING edge set instead of rescanning the full original graph
    // every round — at sf0.1 the embedding cosine graph went from 12
    // rounds × full-size joins (6 actions) to 3 shrinking levels, and
    // at 100 TB the contraction is the difference between O(rounds)
    // full-corpus shuffles and a geometric series. Correctness: labels
    // never exceed ids, so each level's labels are real node ids of
    // that level; contraction preserves connectivity exactly (an edge
    // between labels exists iff some edge joined their preimages), the
    // component-min id survives as a node at every level and labels
    // itself, and composing the per-level maps top-down therefore
    // yields exactly the component-min labels the flat iteration
    // computes — the output is bit-identical by construction.
    val levelMaps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var exhausted = false
    // one batch of `roundsPerAction` distributed propagation rounds —
    // the loop body when the edge set is still over the finish cap
    def distributedBatch(): Unit = {
      val k = math.min(roundsPerAction, maxRounds - round)
      var cur = labels
      val obs = scala.collection.mutable.ArrayBuffer.empty[Observation]
      // intermediate rounds are read twice by the next round (pointer
      // edges + join right side) — persist so the batch's single job
      // computes each round once; freed right after the cut
      val interim = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (i <- 0 until k) {
        // pointer edges label(v) -> v piggyback the grandparent hop on
        // the propagation aggregation (self-pointers v -> v round 0
        // are harmless: they contribute v's own label to the min);
        // they also guarantee every node receives ≥1 row, so the
        // groupBy's output IS the full next label table
        val pointer = cur.select(col("label").as("src"), col("doc_id").as("dst"))
        val o = Observation()
        obs += o
        val next = edges.union(pointer)
          .join(cur.withColumnRenamed("doc_id", "src"), "src")
          .groupBy(col("dst").as("doc_id")).agg(min(col("label")).as("label"))
          .observe(o, sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("label_sum"))
        cur =
          if (i < k - 1) {
            val step = next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            interim += step
            step
          } else next
      }
      labels = cut(cur) // the batch's single action; fills every obs
      interim.foreach(_.unpersist(false))
      val sums = obs.map(labelSum).toSeq
      converged = (prevSum.toSeq ++ sums).sliding(2)
        .exists(w => w.size == 2 && w(0).compareTo(w(1)) == 0)
      prevSum = Some(sums.last)
      round += k
      levelMaps += labels
      dbg(s"level=${levelMaps.size} rounds=$round converged=$converged " +
        s"sums=${sums.mkString(",")}")
      if (!converged && round < maxRounds) {
        // contract: pairs between current labels, normalized to the
        // undirected (min, max) form so both orientations dedupe; a
        // fixpoint was not reached, so ≥1 cross-label edge remains
        // unless every component happens to have gone label-uniform
        // this exact batch — the empty check below catches that.
        val la = labels.select(col("doc_id").as("id_a"), col("label").as("la"))
        val lb = labels.select(col("doc_id").as("id_b"), col("label").as("lb"))
        und = cut(und.join(la, "id_a").join(lb, "id_b")
          .filter(col("la") =!= col("lb"))
          .select(least(col("la"), col("lb")).as("id_a"),
            greatest(col("la"), col("lb")).as("id_b"))
          .distinct())
        dbg(s"level=${levelMaps.size} contracted")
        if (und.isEmpty) exhausted = true // every component label-uniform
        else {
          edges = symmetric(und)
          labels = nodesOf(und)
          prevSum = None // label sums are not comparable across levels
        }
      }
    }
    while (!converged && !exhausted && round < maxRounds) {
      // r16 driver finish: a bounded peek at the current edge set — at
      // or under the cap the whole remaining graph fits the driver and
      // one exact union-find replaces every remaining batch (and its
      // per-action overhead); over it, the truncated read cost one
      // small scan and the distributed batch proceeds as before.
      val head = und
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .limit(ccFinishCap + 1).collect()
      if (head.length <= ccFinishCap) {
        if (head.isEmpty) exhausted = true // no edges left at this level
        else {
          levelMaps += driverCcMap(pairs.sparkSession,
            head.map { r =>
              // ADVICE r16: a null id must fail loudly (the distributed
              // joins would silently drop it) — never become node 0
              require(!r.isNullAt(0) && !r.isNullAt(1),
                "clustersOf: null id in pair table")
              (r.getLong(0), r.getLong(1))
            })
          converged = true
          dbg(s"level=${levelMaps.size} driver-finished " +
            s"(${head.length} edges)")
        }
      } else distributedBatch()
    }
    // compose the per-level maps top-down: level 1 covers every node of
    // the original pair graph; a deeper level only holds nodes whose
    // component was still unresolved, so the join is left + coalesce
    var root = levelMaps.lastOption.getOrElse(labels)
    for (m <- levelMaps.dropRight(1).reverseIterator) {
      val r = root.select(col("doc_id").as("k"), col("label").as("rl"))
      root = m.join(r, m("label") === r("k"), "left")
        .select(m("doc_id").as("doc_id"),
          coalesce(col("rl"), m("label")).as("label"))
    }
    // multi-level runs cut the composed map once: the output plan is a
    // flat checkpoint scan at every scale (single-level runs already
    // are), so consumers never re-execute the composition joins per
    // action and the operator's plan shape is scale-invariant
    if (levelMaps.size > 1) root = cut(root)
    root.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Learn `nMerges` BPE merges from the corpus (Sennrich-style
    * byte-pair encoding — the LEARNED counterpart of q_doc_bpe_tokens'
    * regex heuristic). Distributed part: tokenize → word-frequency
    * groupBy (map-side partial agg, one |vocab|-scale shuffle) → top
    * `vocabCap` words by (count desc, word asc). The collect is bounded
    * BY CONSTRUCTION at vocabCap rows — the same counted-collect
    * discipline as the LSH rerank guard; classic BPE trains on the
    * word-frequency dict, not the raw corpus, which is what makes the
    * driver loop legitimate (O(vocabCap · nMerges) work on a
    * frequency-capped dict, the standard trainer shape at any corpus
    * size). All ties break lexicographically → training is fully
    * deterministic. Merges return in rank order. */
  def bpeTrainOf(docs: DataFrame, nMerges: Int = 50,
      vocabCap: Int = 10000): Seq[(String, String)] = {
    val words = docs.select(explode(toks).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(vocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    var dict: Array[(Vector[String], Long)] = words.map { case (w, c) =>
      (w.map(_.toString).toVector :+ BpeEnd, c)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val merged = best._1 + best._2
        dict = dict.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), c)
        }
      }
    }
    merges.toSeq
  }

  /** the BPE end-of-word marker */
  val BpeEnd = "</w>"

  /** Segment one word with learned merges: repeatedly apply the
    * lowest-rank (leftmost on rank ties) applicable merge — the
    * standard greedy BPE encoder. Driver/spec-side twin of the
    * BpeCount expression's compiled loop. */
  def bpeSegment(word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var syms = word.map(_.toString).toVector :+ BpeEnd
    var continue = syms.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestI = i }
        i += 1
      }
      if (bestI < 0) continue = false
      else {
        syms = (syms.take(bestI) :+ (syms(bestI) + syms(bestI + 1))) ++
          syms.drop(bestI + 2)
        continue = syms.length > 1
      }
    }
    syms
  }

  /** per-document subword counts under a LEARNED merge table — the
    * corpus-wide token accounting a budget/packing pass runs after
    * tokenizer training. Scan-shaped: the merge table rides into the
    * BpeCount expression as a broadcast-sized reference (nMerges
    * entries), no shuffle. */
  def bpeTokenizeOf(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.BpeCount(toks, merges).as("n_subwords"))

  /** Memoized persisted ALL-CANDIDATE LSH pair table (minJaccard = 0.0)
    * per (session, sf dir) — the upstream half of the shared dedup
    * derivation. Caching the UNFILTERED candidate table (still
    * bucket-capped, so survivor-sized) lets every pair consumer derive
    * from one pipeline: the default ≥0.5 table is a pure filter of it
    * (identical rows to a direct minJaccard=0.5 run — same predicate on
    * the same jaccard values), so q_doc_minhash_pairs, the audit's CC
    * pass AND the threshold-tuning q_doc_pair_sim_hist all share the
    * shingle→minhash→band→bucket-join work. (A first cut memoized only
    * the ≥0.5 table; that DROPPED the cache-manager fragment sharing
    * pair_sim_hist used to ride and regressed it 0.5 s → 2.7 s —
    * caching the superset restores every consumer.) */
  private val pairsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  private def allPairsCached(s: SparkSession, dir: String): DataFrame = {
    pairsCache.keySet.forEach { k =>
      if (k._1.sparkContext.isStopped) pairsCache.remove(k)
    }
    val df = pairsCache.computeIfAbsent((s, dir), _ =>
      minhashPairsOf(Tables(s, dir, "documents"), minJaccard = 0.0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }
  /** the default ≥0.5 pair table as a filter of the memoized candidates */
  private def minhashPairsCached(s: SparkSession, dir: String): DataFrame =
    allPairsCached(s, dir).filter(col("jaccard") >= 0.5)

  /** the corpus-prep audit pipeline (see q_doc_corpus_prep) — shared by
    * the per-document audit query and the per-source rollup */
  private def corpusPrepOf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val clusters = clustersOf(minhashPairsCached(s, dir))
    docs
      .select(col("doc_id"), col("source"),
        size(toks).as("n_tokens"),
        stopCount(toks, stop("en")).as("s_en"),
        stopCount(toks, stop("fr")).as("s_fr"),
        stopCount(toks, stop("de")).as("s_de"),
        stopCount(toks, stop("es")).as("s_es"),
        (graft.functions.Md5Prefix60(
          concat(lit("split:"), col("doc_id").cast("string"))) % 100).as("bucket"),
        md5(col("text")).as("fp"))
      .withColumn("lang_ok", expr(argmaxSql) === lit("en"))
      .withColumn("quality_ok",
        col("n_tokens") >= 20 && col("s_en") * 10 >= col("n_tokens"))
      .withColumn("exact_canonical",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy("fp")))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("neardup_canonical",
        coalesce(col("cluster_id") === col("doc_id"), lit(true)))
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("valid"))
          .otherwise(lit("test")))
      .withColumn("keep",
        col("lang_ok") && col("quality_ok") &&
          col("exact_canonical") && col("neardup_canonical"))
      // cluster_id is an INTERNAL column (null for docs in no pair):
      // the memoized audit carries it so every cluster consumer
      // (q_doc_dedup_clusters / _keep / quality_vs_dup) rides the ONE
      // LSH+CC pass; the public q_doc_corpus_prep projection drops it
      .select("doc_id", "source", "lang_ok", "quality_ok",
        "exact_canonical", "neardup_canonical", "split", "keep",
        "cluster_id")
  }

  /** Memoized persisted audit per (session, sf dir) — the production
    * shape (Cli.runPrep materializes the audit once and derives every
    * rollup from it) applied to the query registry itself:
    * q_doc_corpus_prep, q_doc_source_stats and q_doc_prep_funnel share
    * ONE embedded LSH+CC pass per process instead of re-deriving it
    * three times (the r6 bench paid the CC pipeline ~3× across the
    * family). Hash-neutral by construction: the cached plan IS the
    * same derivation, so every consumer sees identical rows and the
    * oracle gate is untouched. If an external clearCache() dropped the
    * persisted blocks (the bench does this between its cold and warm
    * passes), the entry re-persists and the next action recomputes
    * once — later consumers hit cache again. */
  private val auditCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  private def corpusPrepCached(s: SparkSession, dir: String): DataFrame = {
    // evict entries whose session has stopped — a long-lived process
    // cycling sessions must not pin dead sessions (and their persisted
    // plans) in driver memory forever, and re-persisting a DataFrame of
    // a stopped session would throw. Map size is |live sessions × sf
    // dirs| (tiny), so a full sweep per call is cheaper than a
    // listener registration per session.
    auditCache.keySet.forEach { k =>
      if (k._1.sparkContext.isStopped) auditCache.remove(k)
    }
    val df = auditCache.computeIfAbsent((s, dir), _ =>
      corpusPrepOf(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Materialize both memoized tables (all-candidate pairs + corpus-prep
    * audit) — the bench's UNTIMED warm-up hook. The bench clears the
    * Spark cache between its cold and warm passes, so without this the
    * warm pass silently charges the whole memo rebuild to whichever
    * dedup consumer happens to run first (r8: q_doc_dup_span_strip read
    * 6.36 s warm vs 2.01 s cold — cache-lifecycle accounting, not plan).
    * Rebuilding here and reporting the time as its own `memo_build_s`
    * line item makes every warm per-query number attributable. */
  private[graft] def rebuildMemos(s: SparkSession, dir: String): Unit = {
    allPairsCached(s, dir).count()
    corpusPrepCached(s, dir).count()
  }

  /** drop every memoized audit AND pair table — lets specs pin the
    * exact number of CC/LSH passes without depending on suite order */
  private[graft] def clearAuditCache(): Unit = {
    auditCache.values.forEach(df => df.unpersist(false))
    auditCache.clear()
    pairsCache.values.forEach(df => df.unpersist(false))
    pairsCache.clear()
    // inner LSH intermediates (capped/pairs/candIds/candSets) are
    // invisible to the outer unpersists — drain the tracked queue so a
    // long-lived process actually reclaims the block-manager storage
    var inner = innerPersists.poll()
    while (inner != null) {
      try if (!inner.sparkSession.sparkContext.isStopped)
        inner.unpersist(false)
      catch { case _: Throwable => () }
      inner = innerPersists.poll()
    }
  }

  /** Stage-survivor funnel over a corpus-prep audit table (see the
    * q_doc_prep_funnel entry) — like sourceStatsOf, takes the AUDIT
    * DataFrame so a materialized audit feeds it without re-running the
    * pipeline. One all-to-one aggregate of verdict booleans + a 5-row
    * stack. */
  def funnelOf(audit: DataFrame): DataFrame = {
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    audit
      .agg(count(lit(1)).as("n0"),
        n(col("lang_ok")).as("n1"),
        n(col("lang_ok") && col("quality_ok")).as("n2"),
        n(col("lang_ok") && col("quality_ok") &&
          col("exact_canonical")).as("n3"),
        n(col("keep")).as("n4"))
      .select(expr("stack(5, 0, 'raw', n0, 1, 'lang_id', n1, " +
        "2, 'quality', n2, 3, 'exact_dedup', n3, 4, 'near_dedup', n4) " +
        "AS (stage_idx, stage, n_surviving)"))
  }

  /** Per-source rollup of a corpus-prep audit table — separated from
    * the audit derivation so a MATERIALIZED audit (Cli.runPrep writes
    * it once as parquet) feeds this and any future rollup without
    * re-running the embedded LSH+CC pipeline. One skinny groupBy;
    * integer counts only. */
  def sourceStatsOf(audit: DataFrame): DataFrame = {
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    audit
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        n(col("lang_ok")).as("n_lang_ok"),
        n(col("quality_ok")).as("n_quality_ok"),
        n(col("exact_canonical")).as("n_exact_canonical"),
        n(col("neardup_canonical")).as("n_neardup_canonical"),
        n(col("keep")).as("n_keep"),
        n(col("split") === "train").as("n_train"),
        n(col("split") === "valid").as("n_valid"),
        n(col("split") === "test").as("n_test"))
  }

  /** deterministic argmax with fixed priority en > fr > de > es */
  private val argmaxSql =
    """CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
      |     WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
      |     WHEN s_de >= s_es THEN 'de'
      |     ELSE 'es' END""".stripMargin

  val defs: Map[String, Q] = Map(
    // Token counting (whitespace tokenizer) — scan-only, codegen'd.
    "q_doc_token_stats" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_uniq_tokens"),
          length(col("text")).as("n_chars_calc"))
    },

    // Quality scoring: token/stopword/length heuristics. The keep-filter
    // compares n_stop*10 >= n_tokens in integer space (no float boundary).
    "q_doc_quality" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), size(toks).as("n_tokens"),
          stopCount(toks, stop("en")).as("n_stop"),
          (length(regexp_replace(col("text"), " ", "")).cast("double") / size(toks)).as("mean_token_len"))
        .withColumn("keep", col("n_tokens") >= 20 && col("n_stop") * 10 >= col("n_tokens"))
    },

    // PII detection + redaction — the scrub pass a training corpus runs
    // before anything ships: count and replace email addresses and long
    // digit runs (ids, phone-ish numbers). The synthetic documents carry
    // no PII, so the query PLANTS deterministic fakes per doc first
    // (visible here, mirrored in the oracle) — the detection/redaction
    // logic is the checked surface. Scan-shaped: two codegen'd regex
    // passes, no shuffle. Emails scrub before digit runs so an address's
    // own digits never leak into a partial <NUM> overlap.
    "q_doc_pii_scrub" -> { (s, dir) =>
      val planted = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com ref "),
        (col("doc_id") * 7919).cast("string"))
      piiScrubOf(Tables(s, dir, "documents")
        .select(col("doc_id"), planted.as("raw")))
    },

    // Language ID: per-language stopword hit counts + deterministic argmax.
    "q_doc_langid" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          stopCount(toks, stop("en")).as("s_en"),
          stopCount(toks, stop("fr")).as("s_fr"),
          stopCount(toks, stop("de")).as("s_de"),
          stopCount(toks, stop("es")).as("s_es"))
        .withColumn("lang_pred", expr(argmaxSql))
    },

    // Language-ID confusion matrix — the EVAL table for q_doc_langid:
    // (labeled lang × predicted lang) counts plus per-cell permille of
    // the label's row total (exact integer grid — no float). This is
    // the audit a data team reads before trusting the cheap n-gram
    // classifier to gate a corpus; the rollup is one groupBy over the
    // scan-shaped prediction (|langs|² rows out).
    "q_doc_langid_confusion" -> { (s, dir) =>
      val pred = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          stopCount(toks, stop("en")).as("s_en"),
          stopCount(toks, stop("fr")).as("s_fr"),
          stopCount(toks, stop("de")).as("s_de"),
          stopCount(toks, stop("es")).as("s_es"))
        .withColumn("lang_pred", expr(argmaxSql))
      val cells = pred.groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n_docs"))
      val totals = cells.groupBy("lang").agg(sum("n_docs").as("n_lang"))
      cells.join(totals, "lang")
        .withColumn("permille", expr("(n_docs * 1000) div n_lang"))
        .select("lang", "lang_pred", "n_docs", "n_lang", "permille")
    },

    // Document fingerprint (normalization + content hash).
    "q_doc_fingerprint" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
    },

    // Repetition detection: the max 3-gram frequency within a document
    // over its total shingle count — boilerplate/spam shows up as a high
    // ratio (a standard training-data quality signal next to the
    // stopword/length heuristics). The per-doc shingle counts are
    // row-LOCAL (a doc's windows never leave its row), so the whole
    // query is a projection over the scan via the RepetitionStats
    // expression — zero shuffles, where the exploded form paid a
    // (doc, shingle) exchange plus a doc rollup for counts that never
    // needed to cross rows. The ratio is one IEEE division of exact
    // longs, bit-portable vs the oracle.
    "q_doc_repetition" -> { (s, dir) =>
      // the <3-token guard runs on size(toks), not st.isNotNull: the
      // pushed-down null filter would inline and re-evaluate the whole
      // counting expression per row (filter + project), where re-running
      // split() is one tokenization
      Tables(s, dir, "documents")
        .filter(size(toks) >= 3)
        .select(col("doc_id"),
          graft.functions.RepetitionStats(toks, 3).as("st"))
        .select(col("doc_id"),
          element_at(col("st"), 1).as("n_shingles"),
          element_at(col("st"), 2).as("max_shingle_count"))
        .withColumn("repetition_ratio",
          col("max_shingle_count").cast("double") / col("n_shingles"))
    },

    // Exact dedup: hash-groupBy on content digest; map-side partial agg
    // means only |distinct| rows shuffle at scale.
    "q_doc_dedup_exact" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    },

    // n-gram Jaccard similarity between consecutive docs (deterministic
    // pair choice keeps the oracle exact; the LSH query below finds real
    // candidate pairs at scale).
    "q_doc_ngram_jaccard" -> { (s, dir) =>
      val d = shingled(s, dir)
      val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).as("n_shared"),
          size(array_union(col("sh_a"), col("sh_b"))).as("n_union"))
        .withColumn("jaccard", col("n_shared").cast("double") / col("n_union"))
    },

    // MinHash signatures (8 affine hashes over word-3-gram shingles) —
    // the same row-local MinhashSigs pass the pairs pipeline banding
    // uses: one compiled md5-per-shingle loop, no generator rows, no
    // exchange. (History of this hot path: interpreted array-lambda
    // 2.74s → ExplodeShingles + partial-agg MIN 1.84s → row-local
    // expression, which removes that shuffle too.)
    "q_doc_minhash_sig" -> { (s, dir) =>
      rowSigsOf(Tables(s, dir, "documents"))
        .select(col("doc_id") +:
          (0 until 8).map(i => element_at(col("sigs"), i + 1).as(s"sig$i")): _*)
    },

    // MinHash-LSH near-dup candidates: 4 bands × 2 rows, bucket-join on
    // band hash (the scale path: shuffle on band key, no all-pairs scan),
    // then exact Jaccard verification on candidates only. Cost shape for
    // 100 TB: ONE md5 per shingle (the 8 hash functions are affine
    // transforms of that base hash — a standard minhash family), bands
    // carry only (doc_id, band_hash) into the self-join, candidate pairs
    // are id-only before distinct, and shingle arrays are joined back just
    // for the surviving candidates.
    "q_doc_minhash_pairs" -> { (s, dir) =>
      // the memoized default-parameter pair table (shared with the
      // audit's CC pass) — same derivation, one LSH pipeline per process
      minhashPairsCached(s, dir)
    },

    // Threshold-tuning table: the same LSH candidate pipeline with the
    // verification gate open (minJaccard 0), bucketed into similarity
    // deciles — the histogram a data team reads to PICK the near-dup
    // threshold before a dedup run commits it. Same cost shape as the
    // pair query (the decile rollup is one extra skinny groupBy); bucket
    // boundaries are exact because the jaccard doubles are identical
    // integer ratios in both engines.
    "q_doc_pair_sim_hist" -> { (s, dir) =>
      // the memoized all-candidate table IS the 0.0-threshold pipeline
      allPairsCached(s, dir)
        .select(floor(col("jaccard") * 10).cast("long").as("sim_decile"))
        .groupBy("sim_decile").agg(count(lit(1)).as("n_pairs"))
    },

    // Near-dup CLUSTERS: connected components over the LSH pair graph —
    // the step that turns pairwise candidates into dedup groups with a
    // canonical (min-id) representative. Iterative min-label
    // propagation: each round every node takes the min label among
    // itself and its neighbors; rounds are whole-graph joins (no driver
    // graph state), and the round count is the graph diameter — at
    // corpus scale near-dup components are shallow (clusters, not
    // chains), so a small bounded round count converges; the loop stops
    // early the first round nothing changes.
    "q_doc_dedup_clusters" -> { (s, dir) =>
      // rides the memoized audit's LSH+CC pass (corpusPrepCached):
      // the audit left-joins clustersOf output against the corpus, so
      // non-null cluster_id rows ARE exactly the clustersOf rows —
      // same derivation, same values, one CC pipeline per process
      // instead of one per cluster-consuming query
      corpusPrepCached(s, dir)
        .select(col("doc_id"), col("cluster_id"))
        .where(col("cluster_id").isNotNull)
    },

    // Subword ("BPE-ish") token counting: a regex pre-tokenizer in the
    // GPT-2 spirit — letter runs, single digits, punctuation runs — as a
    // second token-count signal next to the whitespace tokenizer. The
    // character-class pattern means Java and RE2 regex semantics agree.
    "q_doc_bpe_tokens" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+"), lit(0))).as("n_subword_tokens"))
    },

    // Polynomial rolling-hash fingerprint over the token stream:
    // h = fold(h*B + md5int(tok) mod M) mod P — a sequential left fold on
    // BOTH engines (bit-identical), the order-sensitive complement of the
    // orderless md5 fingerprint. P is a sub-2^32 prime so h*B + x stays
    // well under 2^63: DuckDB ERRORS on int64 overflow (Spark wraps).
    "q_doc_rolling_fp" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), toks.as("toks"))
        .repartition(col("doc_id")) // projection barrier, see shingles note
        .select(col("doc_id"),
          aggregate(
            transform(col("toks"), t =>
              graft.functions.Md5Prefix60(t) % MinhashMod),
            lit(0L),
            (h, x) => (h * 1000003L + x) % RollMod).as("rolling_fp"))
    },

    // Benchmark decontamination: which "eval" documents share verbatim
    // 3-grams with the "train" corpus (deterministic doc_id%10 split
    // stands in for the train/eval partition). The shuffle key is the
    // shingle itself — both sides distinct-reduce before the join, so at
    // 100 TB only unique n-grams move, and the join is the standard
    // contamination-check shape (eval set ≪ train set → broadcastable
    // when small; here both sides shuffle on shingle).
    "q_doc_decontaminate" -> { (s, dir) =>
      // per-doc distinct shingles from the Generator: the eval side's
      // (doc, shingle) dedup was row-local and needs no exchange at
      // all; the train side's global distinct still shuffles, but on
      // pre-shrunk per-doc sets
      val rows = distinctShingleRows(s, dir)
      val train = rows.filter(col("doc_id") % 10 =!= 0)
        .select(col("shingle")).distinct()
      val eval_ = rows.filter(col("doc_id") % 10 === 0)
      eval_.join(train, "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_contaminated_shingles"))
    },

    // TF-IDF-style top terms: term frequency per doc ⋈ document frequency
    // per term, ranked by tf/df (a single double division — IEEE-exact in
    // both engines; log-based idf is avoided because transcendental
    // functions are not bit-portable across engines). The tf⋈df join is
    // deliberately UNhinted: df is vocabulary-sized — data-dependent and
    // unbounded at corpus scale (typos alone make it grow with the data)
    // — so a forced broadcast is the same driver-OOM class as an
    // unguarded LSH rerank. AQE broadcasts when runtime stats are small;
    // at scale both sides shuffle on term with partial aggregation.
    // The per-doc rank runs through the k-bounded TopKStr aggregator,
    // never a window over the tf⋈df-scored relation: after the join the
    // pairs sit partitioned by term, and the window form re-shuffled and
    // sorted EVERY (doc, term) row on doc_id where the aggregator
    // partial-aggs to ≤3 rows per doc per partition (tf and df ride the
    // buffer, so nothing joins back). Tie-break is UTF8-binary term asc,
    // identical to the window's orderBy and the oracle's collation.
    "q_doc_top_terms" -> { (s, dir) =>
      // isnotnull(doc_id) on the SOURCE (doc_id is the table's key —
      // the top-k aggregator drops null-key rows anyway): both the tf
      // and df branches then share one filtered scan subtree.
      val tok = Tables(s, dir, "documents")
        .where(col("doc_id").isNotNull)
        .select(col("doc_id"), explode(toks).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // count(when(tf > 0, 1)), not count(1): same value (tf counts ≥1
      // occurrences, so the branch is always taken), but the live tf
      // reference stops Catalyst from pruning the count out of this
      // branch — with count(1) the df side was column-pruned into a
      // DISTINCT over a second full corpus scan+explode (r16 plan
      // audit: 2 scans + 2 (doc_id,term) exchanges). With the subtrees
      // byte-identical, ReuseExchange serves both branches from ONE
      // scan+explode+partial-aggregate (1 scan, 1 reused exchange).
      val df_ = tf.groupBy("term")
        .agg(count(when(col("tf") > 0, lit(1))).as("df"))
      val scored = tf.join(df_, "term")
        .select(col("doc_id"),
          (col("tf").cast("double") / col("df")).as("ratio"),
          col("term"), col("tf"), col("df"))
      graft.operators.TopKPerKey.topKStr(s, scored,
        "doc_id", "ratio", "term", "tf", "df", 3)
        .select("doc_id", "rk", "term", "tf", "df")
    },

    // SimHash (16-bit): per-token 60-bit md5 hash, signed bit votes,
    // reassembled fingerprint. explode + one aggregate.
    "q_doc_simhash" -> { (s, dir) =>
      val tokens = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(toks)).as("tok"))
        .withColumn("h", graft.functions.Md5Prefix60(col("tok")))
      val votes = (0 until 16).map(j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j"))
      val sim = (0 until 16).map(j =>
        when(col(s"v$j") > 0, lit(1L) * (1L << j)).otherwise(0L))
        .reduce(_ + _)
      tokens.groupBy("doc_id").agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), sim.as("simhash"))
    },

    // Cross-document duplicated spans: the window-granularity form of
    // exact substring dedup (suffix-array substring dedup's scalable
    // relative — instead of maximal repeated substrings, every 5-token
    // window is fingerprinted and a window is "duplicated" when it occurs
    // in ≥2 distinct documents). Cost shape for 100 TB: windows are
    // emitted by the one-pass Generator and immediately reduced to a
    // 64-bit fingerprint, so the shuffle carries (h, doc_id) longs —
    // never window text; the per-(h,doc) pre-aggregation and the
    // cross-doc count window share ONE exchange via the explicit
    // repartition(h) — HashPartitioning(h) satisfies the aggregate's
    // ClusteredDistribution(h, doc_id) by the subset rule and the
    // window's on h, where the agg's own exchange would hash on
    // (h, doc_id) and the window would re-shuffle the pair table a
    // second time; the final per-doc rollup is one more skinny shuffle. Within-doc repeats do
    // NOT count as duplication (that signal is q_doc_repetition);
    // fingerprint collisions are deterministic and mirrored in the
    // oracle, the standard hashed-dedup trade.
    "q_doc_dup_spans" -> { (s, dir) =>
      import org.apache.spark.sql.GraftSql
      val spans = Tables(s, dir, "documents")
        .select(col("doc_id"),
          GraftSql.column(graft.functions.ExplodeShingles(
            GraftSql.expression(toks), 5)).as("span"))
        .select(col("doc_id"),
          (graft.functions.Md5Prefix60(col("span")) % MinhashMod).as("h"))
      val perDoc = spans.repartition(col("h"))
        .groupBy("h", "doc_id").agg(count(lit(1)).as("n_occ"))
      val withDocs = perDoc.withColumn("n_docs",
        count(lit(1)).over(Window.partitionBy("h")))
      withDocs.groupBy("doc_id").agg(
        sum(col("n_occ")).as("n_windows"),
        sum(when(col("n_docs") >= 2, col("n_occ")).otherwise(0L)).as("n_dup_windows"))
        .withColumn("dup_fraction",
          col("n_dup_windows").cast("double") / col("n_windows"))
    },

    // The dup-span ACTION: strip every token covered by a cross-doc
    // duplicated 5-gram window, emitting the cleaned text —
    // q_doc_dup_spans' detector turned into the transform a pipeline
    // applies (boilerplate/contamination removal at sub-document
    // granularity, where whole-doc dedup is too blunt). Scale shape
    // (r10 — same as the detector's): positional spans ride the
    // one-pass Generator ONCE, pre-aggregate per (h, doc) with their
    // positions packed in a tiny list, and the cross-doc count is a
    // window over the same rows. The explicit repartition(h) is what
    // makes them share ONE exchange: HashPartitioning(h) satisfies the
    // aggregate's ClusteredDistribution(h, doc_id) by the subset rule
    // AND the window's on h, where the agg's own ENSURE_REQUIREMENTS
    // exchange would hash on (h, doc_id) and force a second shuffle
    // for the window — the r9
    // shape recomputed the whole shingle+hash pass for the probe side
    // of a dup-hash join, a second full corpus scan at 100 TB. Coverage
    // expands ≤5 rows per dup window and collapses with a doc-keyed
    // distinct; reassembly is one groupBy(doc_id).
    "q_doc_dup_span_strip" -> { (s, dir) =>
      import org.apache.spark.sql.GraftSql
      val docs = Tables(s, dir, "documents")
      val hashed = docs.select(col("doc_id"),
        GraftSql.column(graft.functions.ExplodeShingles(
          GraftSql.expression(toks), 5, withPos = true)).as(Seq("pos", "span")))
        .select(col("doc_id"), col("pos"),
          (graft.functions.Md5Prefix60(col("span")) % MinhashMod).as("h"))
      val perDocH = hashed.repartition(col("h")).groupBy("h", "doc_id")
        .agg(collect_list(col("pos")).as("poss"))
      val covered = perDocH
        .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("h")))
        .filter(col("n_docs") >= 2)
        .select(col("doc_id"), explode(col("poss")).as("pos"))
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + 4)).as("idx"))
        .distinct()
      // r17 (VERDICT r16 item 1, measured sf1 A/B): r16 repartitioned
      // the un-exploded docs before the posexplode so the rebuild's
      // groupBy(doc_id) rode one exchange — but that moves EVERY raw
      // doc through the shuffle, including all the text the anti-join
      // then discards, where this r15 shape shuffles only the
      // post-anti-join exploded tokens (bytes scale with SURVIVING
      // tokens, not the raw corpus — the property that matters on the
      // high-duplication corpora this query exists for). Interleaved
      // isolated A/B at sf1t read parity (medians 2.77 s with the
      // pre-explode repartition vs 2.90 s without, within the window's
      // scatter; sf0.1 flat in r16 already), so the shape with the
      // scale-safe byte profile wins and the repartition is gone.
      val kept = docs
        .select(col("doc_id"), posexplode(toks).as(Seq("idx", "tok")))
        .join(covered, Seq("doc_id", "idx"), "left_anti")
      docs.select(col("doc_id"))
        .join(kept.groupBy("doc_id")
          .agg(array_sort(collect_list(struct(col("idx"), col("tok")))).as("ts"),
            count(lit(1)).as("n_kept"))
          .select(col("doc_id"),
            concat_ws(" ", transform(col("ts"), t => t.getField("tok"))).as("clean_text"),
            col("n_kept")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept_tokens"))
    },

    // Sequence packing for training-batch prep: documents concatenate in
    // doc_id order within their shard (source) and the stream is split
    // into fixed token-budget packs; each doc reports the pack its first
    // token lands in and the offset there. Pure integer window arithmetic
    // (running sum, div, mod) — no floats. Scale shape: the prefix sum is
    // PER SHARD (partitionBy source), so shards pack in parallel — the
    // global-order variant would serialize into one task, which is why
    // real pipelines pack per shard.
    "q_doc_pack" -> { (s, dir) =>
      val budget = 2048L
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(toks).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          ((col("cum") - col("n_tokens")) / budget).cast("long").as("pack_id"),
          ((col("cum") - col("n_tokens")) % budget).as("pack_offset"))
    },

    // The dedup ACTION: near-dup clusters reduced to per-document
    // keep/drop verdicts — each cluster keeps its min doc_id, documents
    // in no cluster keep themselves. This is the operator a pipeline
    // actually applies before training; clusters/pairs are its
    // diagnostics. One extra left join against the corpus beyond
    // q_doc_dedup_clusters; the clusters side is LSH-survivor-sized so
    // AQE broadcasts it at any realistic dup rate, and the join
    // degrades to shuffle (not OOM) on a pathological corpus.
    "q_doc_dedup_keep" -> { (s, dir) =>
      // the audit already joined clusters against every document —
      // keep/drop is a projection of the memoized pass
      corpusPrepCached(s, dir)
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("keep", col("cluster_id") === col("doc_id"))
    },

    // Quality×duplication calibration — does low quality predict
    // duplication? Per (source, quality decile): near-dup keep rate in
    // exact permille. The decile ranks on an INTEGER-grid quality
    // (stopword permille — float ordering never decides a bucket) and
    // partitions by source (the ppl_buckets shard-parallel window
    // discipline — a global ntile would funnel the corpus through one
    // partition). The dup verdict is the same survivor-sized cluster
    // left join as q_doc_dedup_keep; the rollup is ≤|sources|·10 rows.
    // This is the table that justifies (or kills) "drop the bottom
    // quality decile" policies before anyone trains on the result.
    "q_doc_quality_vs_dup" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // survivor-sized cluster table from the memoized audit pass
      val clusters = corpusPrepCached(s, dir)
        .select(col("doc_id"), col("cluster_id"))
        .where(col("cluster_id").isNotNull)
      docs.select(col("doc_id"), col("source"),
          size(toks).as("n_tokens"), stopCount(toks, stop("en")).as("n_stop"))
        .withColumn("q_grid", expr("(n_stop * 1000) div n_tokens"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("keep",
          coalesce(col("cluster_id") === col("doc_id"), lit(true)))
        .withColumn("decile", ntile(10).over(Window.partitionBy("source")
          .orderBy(col("q_grid"), col("doc_id"))))
        .groupBy("source", "decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .withColumn("keep_permille", expr("(n_keep * 1000) div n_docs"))
    },

    // Deterministic train/valid/test assignment: a salted content hash
    // of the doc id buckets each document 90/5/5. Hash-based (not
    // row_number-based) so the split is stable under re-partitioning,
    // re-ingestion order, and corpus growth — the property that matters
    // when the same 100 TB corpus is re-materialized across runs.
    // Scan-shaped: no shuffle, no state.
    "q_doc_split" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (graft.functions.Md5Prefix60(
            concat(lit("split:"), col("doc_id").cast("string"))) % 100).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 90, lit("train"))
            .when(col("bucket") < 95, lit("valid"))
            .otherwise(lit("test")))
    },

    // The corpus "data card": one row of headline statistics — sizes,
    // diversity, duplication — reviewed before any training run. ONE
    // scan feeding one aggregate (countDistincts expand inside the
    // same aggregation); every figure is integer-exact. At 100 TB this
    // is the cheapest query in the library: map-side partial
    // aggregation reduces everything to one row per partition.
    "q_doc_corpus_card" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_toks"),
          md5(col("text")).as("fp"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_toks")).as("n_tokens"),
          max(col("n_toks")).as("max_doc_tokens"),
          countDistinct(col("fp")).as("n_distinct_contents"))
        .withColumn("n_exact_dup_docs", col("n_docs") - col("n_distinct_contents"))
        .withColumn("mean_doc_tokens",
          col("n_tokens").cast("double") / col("n_docs"))
    },

    // Token-length histogram: docs bucketed by 64-token bins — the
    // corpus shape diagnostic behind truncation/packing decisions.
    // Scan → one skinny groupBy on the bin id.
    "q_doc_length_hist" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(floor(size(split(col("text"), " ")).cast("long") / 64).as("bin"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        .withColumn("bin_lo", col("bin") * 64)
        .drop("bin")
    },

    // Global training-order shuffle, the scale-correct way: a salted
    // hash assigns each document a pseudo-random shard plus a
    // within-shard sort key — independent per-shard sorts instead of
    // one global total order funneling through a lone reducer. The
    // (shard, pos) pair IS the training order (readers consume shards
    // round-robin); deterministic given the seed and, like q_doc_split,
    // stable under re-partitioning and corpus growth. One bounded
    // shuffle (the per-shard sort), no global sort, no driver state.
    "q_doc_shard_shuffle" -> { (s, dir) =>
      val skey = graft.functions.Md5Prefix60(
        concat(lit("shuf42:"), col("doc_id").cast("string")))
      Tables(s, dir, "documents")
        .select(col("doc_id"), skey.as("skey"))
        .withColumn("shard", col("skey") % 8)
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id")))
          .cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    },

    // Per-domain web-curation rollup (the C4-style ledger): extract
    // every URL hostname and aggregate document/reference counts per
    // domain — the table that decides blocklists and per-domain caps
    // before a crawl becomes a corpus. The synthetic docs carry no
    // URLs, so deterministic fakes are planted per doc (visible here,
    // mirrored in the oracle); extraction + rollup is the checked
    // surface. Scan → explode (≤2 hosts/doc by construction) → one
    // skinny groupBy on the domain key.
    "q_doc_url_stats" -> { (s, dir) =>
      val planted = concat(col("text"),
        lit(" see https://site"), (col("doc_id") % 7).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string"),
        lit(" and http://www.ref"), (col("doc_id") % 3).cast("string"),
        lit(".net"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), planted.as("raw"))
        .select(col("doc_id"), explode(regexp_extract_all(col("raw"),
          lit("https?://([A-Za-z0-9.-]+)"), lit(1))).as("host"))
        .groupBy("host")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_refs"))
    },

    // Data-mixture sampling: per-language keep rates (downsample the
    // over-represented languages, keep the rare ones whole), decided by
    // the same salted-hash trick as q_doc_split so the subsample is
    // deterministic and repartition-stable. Kept rows carry the inverse
    // rate as an importance weight so downstream token accounting can
    // reconstruct unbiased corpus statistics. Scan + filter: no shuffle.
    "q_doc_mix" -> { (s, dir) =>
      val rate = when(col("lang") === "en", lit(500L))
        .when(col("lang") === "zh", lit(250L))
        .when(col("lang") === "es", lit(800L))
        .otherwise(lit(1000L))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          rate.as("rate_permille"),
          (graft.functions.Md5Prefix60(
            concat(lit("mix:"), col("doc_id").cast("string"))) % 1000).as("bucket"))
        .filter(col("bucket") < col("rate_permille"))
        .withColumn("weight", lit(1000.0) / col("rate_permille"))
        .drop("bucket")
    },

    // The corpus-prep COMPOSITION: language gate → quality gate →
    // exact-dedup canonical → near-dup canonical → deterministic split,
    // in one operator — the call a training-data job actually makes,
    // emitted as a per-document audit table (every document, every stage
    // verdict, final keep) instead of a silently filtered corpus. Each
    // stage verdict is defined on the FULL corpus, identical to its
    // standalone query, so the audit composes by construction.
    // Plan shape at 100 TB: the language/quality/split columns ride the
    // one documents scan; the exact-dedup verdict is a window min over
    // the content hash (one shuffle, no self-join); the near-dup verdict
    // left-joins the LSH-survivor-sized clusters table (AQE broadcasts
    // it at any realistic dup rate, degrades to shuffle otherwise).
    // SIX audit consumers share corpusPrepCached — one LSH+CC pass per
    // process serves the per-doc audit, the funnel, the per-source
    // rollup, AND the cluster projections (q_doc_dedup_clusters /
    // _keep / quality_vs_dup ride the audit's internal cluster_id
    // column instead of re-deriving the pipeline — r8: those three
    // paid ~2-4 s EACH at sf0.1 for identical cluster values).
    "q_doc_corpus_prep" -> { (s, dir) =>
      corpusPrepCached(s, dir).drop("cluster_id") },

    // Pipeline funnel — the observability table every corpus-prep run
    // reports: cumulative survivor counts through the ordered stages
    // (raw → language-ID → quality rules → exact dedup → near dedup).
    // Derived from the SAME audit the per-doc query emits (verdict
    // columns riding one scan), rolled to five rows with exact long
    // counts — the stage conjunctions are cumulative, so each row is
    // "docs still alive after this stage", the number a data team
    // watches drift week over week. The rollup itself is one
    // all-to-one aggregate of verdict booleans (bytes, not text) and
    // a 5-row stack — nothing here grows with corpus size beyond the
    // embedded prep pipeline it audits.
    // Derives from the SHARED cached audit (one clustersOf invocation
    // across the family, spec-pinned); a chained production run reads
    // the MATERIALIZED audit instead — Cli.runPrep writes audit,
    // source_stats AND funnel from one pipeline pass.
    "q_doc_prep_funnel" -> { (s, dir) => funnelOf(corpusPrepCached(s, dir)) },

    // The corpus REPORT: the prep verdicts rolled up per source shard —
    // the table a data team reads before a training run (how much
    // survives each gate, split sizes per shard). One extra skinny
    // groupBy over the audit table; integer counts only.
    "q_doc_source_stats" -> { (s, dir) => sourceStatsOf(corpusPrepCached(s, dir)) },

    // Token-budget curriculum selection: rank documents by a quality
    // score (stopword density — the q_doc_quality signal) and keep the
    // best until a per-shard token budget fills. The prefix sum is PER
    // SHARD like q_doc_pack, so shards select in parallel; a global
    // ordering would serialize into one task at corpus scale. Emits
    // every doc with its cumulative position and the keep verdict so
    // the rejected tail remains auditable.
    "q_doc_token_budget" -> { (s, dir) =>
      val budget = 1500L
      val w = Window.partitionBy("source")
        .orderBy(col("q_score").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(toks).cast("long").as("n_tokens"),
          stopCount(toks, stop("en")).as("n_stop"))
        .withColumn("q_score",
          col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("kept", col("cum_tokens") <= budget)
        .drop("n_stop")
    },

    // Corpus-trained bigram LM score — the CCNet-style "does this read
    // like the corpus?" quality filter, the model-based sibling of
    // q_doc_quality's surface heuristics. The LM is trained ON the
    // corpus itself (unigram + bigram counts, two skinny shuffles with
    // map-side partials), then every bigram occurrence is scored
    // p(w2|w1) ≈ c(w1w2)/(c(w1)+5) on a 2^20 integer grid (exact long
    // division — logs are transcendental and not bit-portable across
    // engines, so the score is a mean grid-probability, monotone in the
    // same direction as negative perplexity; the add-5 denominator
    // smoothing keeps hapax bigrams from scoring the grid maximum, the
    // standard additive-smoothing fix). The model joins are
    // deliberately UNhinted: vocabulary (and vocab²) is data-dependent
    // and unbounded at corpus scale, so a forced broadcast is the
    // driver-OOM class; AQE broadcasts when runtime stats are small and
    // both sides shuffle on the term key otherwise — either way the
    // model side is vocabulary-bounded, far below corpus scale. The
    // per-doc rollup is exact long addition (order-independent) + ONE
    // final double division. Docs with <2 tokens have no bigrams and
    // drop out (mirrored in the oracle).
    "q_doc_lm_score" -> { (s, dir) => lmScoreOf(Tables(s, dir, "documents")) },

    // DSIR-style importance weight — hashed-n-gram importance resampling
    // (Xie et al. 2023): score each raw document by how much its feature
    // distribution looks like a TARGET domain (here source src0, the
    // stand-in for "high-quality target corpus"). The classic estimator
    // is sum of log p_target(f)/p_raw(f) over the doc's features; logs
    // are transcendental and not bit-portable across engines, so — like
    // q_doc_lm_score and the BM25 rational idf — the weight is the mean
    // 2^20-grid ratio tc(bg)/(rc(bg)+5) over the doc's bigrams: exact
    // long division, monotone in the same direction. Plan shape at
    // 100 TB: bigrams stream out of the compiled ExplodeShingles
    // Generator (no token-row shuffle); raw counts are ONE skinny
    // groupBy(bg) with map-side partials; target counts reuse the same
    // pass filtered to the target slice; both joins are unhinted (the
    // feature vocabulary is data-dependent — forcing a broadcast is the
    // driver-OOM class, AQE picks one when runtime stats allow); the
    // per-doc rollup is exact long addition + one double division.
    "q_doc_dsir_weight" -> { (s, dir) =>
      dsirWeightOf(Tables(s, dir, "documents"), "src0")
    },

    // Collocation mining — corpus-level PMI-style association between
    // adjacent tokens (the word2vec/fastText phrase-detection pass that
    // decides "new york" should become one token before BPE training).
    // PMI's log is transcendental, so the score is the exact-integer
    // grid ratio (c12 · N · 2^20) div (c1 · c2 + 2^20) — monotone in
    // PMI, bit-portable (the lm_score/DSIR discipline; the +2^20
    // denominator smoothing damps hapax pairs). The numerator
    // c12·N·2^20 wraps 64-bit long once c12·N > 2^43 — reachable on a
    // real corpus (N ~ 10^13 bigrams) — and Spark's non-ANSI long
    // arithmetic would wrap silently while DuckDB raises, so the grid
    // is computed in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): both
    // are exact integer domains to ~10^38, far past the 10^32
    // worst-case product, and `div` on decimals is Spark's exact
    // IntegralDivide (Decimal.quot, no rounding) returning BIGINT, so
    // the two engines stay bit-identical at any corpus size whose
    // products fit 128 bits. Top-50 by (score,
    // bigram) through the bounded TopKPerKey shape is overkill for a
    // single global list — a plain orderBy+limit on the
    // vocabulary-bounded scored table is the honest plan (the scored
    // relation is |bigram vocab|, already reduced by two groupBys with
    // map-side partials; only the 50-row result crosses the driver).
    "q_doc_collocations" -> { (s, dir) =>
      import org.apache.spark.sql.GraftSql
      val docs = Tables(s, dir, "documents")
      val uni = docs.select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val bg = docs.select(
        GraftSql.column(graft.functions.ExplodeShingles(
          GraftSql.expression(toks), 2)).as("bg"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
      // corpus size rides as a 1-row aggregate cross-join (the q15/q22
      // pattern) — no eager driver-side count
      val nDf = bg.agg(count(lit(1)).as("n_bg"))
      bg.groupBy("bg", "w1", "w2").agg(count(lit(1)).as("c12"))
        .join(uni.select(col("w").as("w1"), col("c1").as("c1a")), "w1")
        .join(uni.select(col("w").as("w2"), col("c1").as("c1b")), "w2")
        .crossJoin(broadcast(nDf))
        .withColumn("pmi_grid",
          expr("(CAST(c12 AS DECIMAL(38,0)) * n_bg * 1048576)" +
            " div (CAST(c1a AS DECIMAL(38,0)) * c1b + 1048576)"))
        .select("bg", "c12", "c1a", "c1b", "pmi_grid")
        .orderBy(col("pmi_grid").desc, col("bg").asc)
        .limit(50)
    },

    // Deterministic stratified sampling — the per-source subsample every
    // corpus study starts with (eval carve-outs, ablation slices, data
    // audits) made repartition-stable: order WITHIN each source by
    // md5(doc_id) (a fixed pseudo-random permutation both engines
    // compute identically — no RNG, no partition-order dependence) and
    // keep the first floor(n_source/5) (an exact-integer 20%). One
    // shuffle on the source key; each stratum ranks in parallel
    // (the q_doc_ppl_buckets shard-parallel window discipline). Every
    // doc is emitted with its rank and verdict (audit discipline).
    "q_doc_stratified_sample" -> { (s, dir) =>
      val bySrc = Window.partitionBy("source")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("sample_rank", row_number().over(
          bySrc.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .withColumn("n_source", count(lit(1)).over(bySrc))
        .withColumn("keep", col("sample_rank") * 5 <= col("n_source"))
    },

    // Cross-source contamination matrix: for every source pair, how many
    // distinct 3-gram fingerprints they share — the governance table
    // that shows which feeds duplicate which (mirror sites, scrapes of
    // scrapes) BEFORE a training run mixes them. Scale shape: shingles
    // reduce to 64-bit fingerprints in the one-pass Generator (the
    // dup-spans discipline — text never shuffles); ONE exchange on the
    // fingerprint builds the per-shingle distinct source set
    // (collect_set — sources are an enumerable governance dimension,
    // thousands at most, so the set is bounded); the pair explosion is
    // |set|² ≤ |sources|² and runs MAP-SIDE after that aggregation; the
    // final rollup is a skinny ≤|sources|²-row groupBy. Most shingles
    // live in one source → empty sets drop immediately.
    "q_doc_source_overlap" -> { (s, dir) =>
      sourceOverlapOf(Tables(s, dir, "documents"))
    },

    // URL-level dedup — the FIRST pass of web-corpus prep (C4 dedupes
    // by URL before any content pass: it needs no text comparison at
    // all). Planted URLs (the url_stats convention, with a colliding
    // path so duplicates exist) normalize by lowercasing; canonical =
    // min doc_id per URL via the exact-dedup window idiom — one skinny
    // shuffle on the URL key, no self-join, every doc emitted with its
    // verdict (the audit-table discipline).
    "q_doc_url_dedup" -> { (s, dir) =>
      val url = concat(lit("https://Site"), (col("doc_id") % 7).cast("string"),
        lit(".example.org/p/"), (col("doc_id") % 40).cast("string"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), lower(url).as("url"))
        .withColumn("canonical_id",
          min(col("doc_id")).over(Window.partitionBy("url")))
        .withColumn("keep", col("doc_id") === col("canonical_id"))
    },

    // Gopher-style composite rule filter — the classic rule battery a
    // web corpus runs after URL dedup and before model-based scoring:
    // word-count bounds, mean-word-length bounds, stopword presence,
    // distinct-token (repetition) floor, each emitted as its own verdict
    // column so a data team can audit WHICH rule dropped a document.
    // Every comparison is integer-space (mean length as n_chars*10 vs
    // bounds*n_tokens — no float boundary can flip an engine), and the
    // whole battery is scan-shaped codegen: one pass, zero shuffles, at
    // 100 TB this is embarrassingly parallel per input split.
    "q_doc_gopher_rules" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_uniq"),
          stopCount(toks, stop("en")).as("n_stop"),
          length(regexp_replace(col("text"), " ", "")).as("n_chars_ns"))
        .withColumn("r_words", col("n_tokens").between(25, 80))
        .withColumn("r_mean_len",
          col("n_chars_ns") * 10 >= col("n_tokens") * 40 &&
            col("n_chars_ns") * 10 <= col("n_tokens") * 52)
        .withColumn("r_stop", col("n_stop") >= 2)
        .withColumn("r_uniq", col("n_uniq") * 10 >= col("n_tokens") * 3)
        .withColumn("keep",
          col("r_words") && col("r_mean_len") && col("r_stop") && col("r_uniq"))
    },

    // Temperature-based mixture weights (the multilingual sampling
    // trick: raise per-language mass to alpha=0.5 so rare languages are
    // up-weighted without drowning the head). Per-language doc counts →
    // sqrt-scaled weights → normalized shares and the boost factor vs
    // natural share. The sqrt rides an integer grid (floor(sqrt(c)·1e6))
    // so the normalizing SUM is exact integer arithmetic — cross-row
    // double sums are engine-order-dependent, integer sums are not; the
    // final shares are single IEEE divisions of exact integers.
    // Scale shape: one skinny groupBy(lang) + a 1-row global aggregate
    // cross-joined back (the q15 discipline, broadcast by construction).
    "q_doc_temperature_mix" -> { (s, dir) =>
      val perLang = Tables(s, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("s_scaled",
          floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      val tot = perLang.agg(sum("n_docs").as("t_docs"),
        sum("s_scaled").as("s_sum"))
      perLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("t_docs"),
          (col("n_docs").cast("double") / col("t_docs")).as("nat_share"),
          (col("s_scaled").cast("double") / col("s_sum")).as("temp_share"))
        .withColumn("boost", col("temp_share") / col("nat_share"))
        .withColumn("target_docs",
          floor(col("temp_share") * col("t_docs").cast("double")).cast("long"))
        .drop("t_docs")
    },

    // Fuzzy decontamination — the GPT-3/Pile discipline: instead of the
    // exact-shingle hit COUNT (q_doc_decontaminate), score each TRAIN
    // doc by the FRACTION of its distinct 3-gram shingles that appear
    // anywhere in the benchmark split, and flag docs above 20%. The
    // fraction rides a permille integer grid ((n_hit*1000) div n) — no
    // float boundary. Scale shape: both sides distinct-reduce BEFORE
    // the join (the decontaminate discipline); the benchmark side is
    // eval-sized (small) so AQE broadcasts it at any realistic scale,
    // and the per-doc totals/hits are two skinny partial-agg shuffles.
    "q_doc_contam_frac" -> { (s, dir) =>
      // r10 shape: per-doc distinct shingles come out of the Generator
      // itself (distinctShingleRows — a doc's shingle set is row-local,
      // so the former `.distinct()` exchange deduped rows that never
      // had cross-partition duplicates); the bench/train predicates
      // push to the two branches' scans, so they shingle complementary
      // halves — one corpus's worth of work total, where the r9 shape
      // derived the train side TWICE (totals vs hits) on top of the
      // bench pass (~2.8 corpus passes). Totals and hits then fall out
      // of ONE aggregation over a LEFT join against the bench set. The
      // broadcast is AQE's call, not pinned (r11): the bench side here
      // is the distinct shingles of 10% of the CORPUS — an SF-scaling
      // relation, exactly the pinned-broadcast class removed from the
      // relational queries in r10. AQE broadcasts it while runtime
      // stats are small and falls back to a shuffled join at the scale
      // where a forced broadcast would be a driver OOM.
      val d = distinctShingleRows(s, dir)
      val bench = d.filter(col("doc_id") % 10 === 0)
        .select("shingle").distinct().withColumn("bench_hit", lit(1L))
      d.filter(col("doc_id") % 10 =!= 0)
        .join(bench, Seq("shingle"), "left")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_shingles"),
          sum(coalesce(col("bench_hit"), lit(0L))).as("n_hit"))
        .withColumn("contam_permille",
          expr("(n_hit * 1000) div n_shingles"))
        .withColumn("flagged", col("contam_permille") >= 200)
    },

    // The persisted-index dedup LIFECYCLE under the oracle gate: freeze
    // an index over "yesterday's corpus" (doc_id % 3 == 0) —
    // fps + capped LSH bands + MinHash sketches round-trip through
    // parquet — then dedup "today's shard" (the rest) against the
    // LOADED artifacts: exact tier by content hash, near tier by
    // band-key join + sketch agreement (minAgree 4/8 ≈ Jaccard 0.5).
    // The oracle recomputes both tiers logically from `documents`, so
    // the save→load→dedup round trip itself is what's hash-checked.
    "q_doc_index_dedup" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // Key the scratch index by the sanitized FULL sf-dir path plus the
      // process pid: a 32-bit hashCode can collide two distinct sf dirs
      // onto one artifact, and two JVMs on the same sf dir (bench +
      // verify) would race overwrite-vs-read on a shared path.
      val idxDir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_text_index_" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "_p" + ProcessHandle.current().pid()).getAbsolutePath
      saveTextIndex(docs.filter(col("doc_id") % 3 === 0), idxDir)
      dedupAgainstIndex(s, docs.filter(col("doc_id") % 3 =!= 0), idxDir)
    },

    // Two-signal decontamination: a train document leaks an eval set
    // either LEXICALLY (shingle overlap — catches verbatim/near-verbatim
    // copies) or SEMANTICALLY (embedding cosine — catches paraphrases
    // lexical overlap misses). Flag on either signal; emit both so the
    // audit shows WHY a doc was dropped. The lexical side is
    // q_doc_contam_frac's permille grid. r12: the semantic side routes
    // through the IVF cell blocking with the corpus-scaled cell count
    // (semDecontamIvfOf) — the graded default is the measured scale
    // path (4.1× wall for 100× data vs 210.8× for the former exact
    // |train|×|eval| cross product, r11_sf100_true.json). The exact
    // flat form survives as semDecontamExactOf, spec-pinned at fixture
    // scale (the IVF flags are a subset of the exact flags by
    // construction), out of the graded path. Cosine threshold 0.35
    // sits in the attainable tail of the synthetic random embeddings
    // (real corpora would run ~0.9).
    "q_doc_sem_decontam" -> { (s, dir) =>
      // lexical side: the r10 contam_frac shape — per-doc distinct
      // shingles straight out of the Generator, left join against the
      // bench shingle set (AQE-broadcast while small, NOT pinned — the
      // bench side scales with the corpus; see q_doc_contam_frac), one
      // aggregation for totals AND hits
      val d = distinctShingleRows(s, dir)
      val bench = d.filter(col("doc_id") % 10 === 0)
        .select("shingle").distinct().withColumn("bench_hit", lit(1L))
      val lex = d.filter(col("doc_id") % 10 =!= 0)
        .join(bench, Seq("shingle"), "left")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_shingles"),
          sum(coalesce(col("bench_hit"), lit(0L))).as("n_hit"))
        .withColumn("contam_permille",
          expr("(n_hit * 1000) div n_shingles"))
        .select("doc_id", "contam_permille")
      val e = Tables(s, dir, "embeddings")
      // r13: the semantic side routes on TRAINED cells — the router
      // promotion applied to the graded default (measured faster than
      // seed cells at both decades, r13_decontam_trained.json); the
      // seed form stays graded as q_doc_sem_decontam_ivf
      val k = graft.queries.SimilarityOps.scaledCellCountOf(s, dir)
      // r15: 2-level trained-supers assignment above the threshold —
      // the graded route, oracle-mirrored via duckTrainedAssignCtes
      val sem = semDecontamIvfOf(e, nCents = k,
        centsOverride =
          Some(graft.queries.SimilarityOps.trainedCentsOf(s, dir, k)),
        twoLevelTrained =
          k >= graft.queries.SimilarityOps.twoLevelAssignK)
        .select("doc_id", "max_cell_cosine", "nearest_eval_id", "flagged_sem")
      lex.join(sem, "doc_id")
        .withColumn("flagged_lex", col("contam_permille") >= 200)
        .withColumn("flagged", col("flagged_lex") || col("flagged_sem"))
    },

    // The semantic-only IVF decontamination audit, corpus-scaled cell
    // count. Since r12 the combined q_doc_sem_decontam above routes its
    // semantic side through this same cell blocking; the former exact
    // |train|×|eval| form —
    // measured at 211× wall for 100× data (r11_sf100_true.json) —
    // survives as semDecontamExactOf, spec-pinned as the recall
    // ceiling. The cell blocking works the way production does:
    // both sides assign to the 16 seed cells ROW-LOCALLY
    // (NearestCentroidF32 — no expansion, no window), and a train doc
    // is compared only against eval vectors in its OWN cell — a
    // co-partitioned join on centroid_id plus one partial-aggregable
    // argmax. Cost is Σ|train_cell|·|eval_cell| instead of the full
    // product; with k grown ∝ corpus (the semdedupOf knob) that is
    // linear. Recall contract, stated not papered: nprobe=1 misses an
    // eval neighbor sitting across a cell boundary; genuine
    // contamination (cosine ≈ 1) co-assigns by construction. nprobe>1
    // composes exactly like q_embed_ivf_recall_sweep's superset-probe
    // union. Flag threshold and tie-break match the exact variant, so
    // the two operators' outputs are directly comparable audits.
    "q_doc_sem_decontam_ivf" -> { (s, dir) =>
      // corpus-scaled cell count like every other registered density
      // entry (r12 full-m=100 sweep measured the fixed-16 form at 50×
      // for 100× data — 12.5k-vector cells are the fixed-k trap this
      // operator exists to avoid); floor 16 = the sf0.01 convention
      val e = Tables(s, dir, "embeddings")
      semDecontamIvfOf(e,
        nCents = graft.queries.SimilarityOps.scaledCellCountOf(s, dir))
    },

    // TRAINED cells under the same decontamination contract — the r13
    // router promotion applied to this family: blocking cells come
    // from 3 Lloyd rounds (SimilarityOps.trainedCentsOf, memoized per
    // corpus as an index build) instead of the vec_id < k seed
    // convention the twin above keeps. Same argument as the neardup/
    // semdedup trained twins: Lloyd balances cell populations where
    // seed anchors inherit the corpus' skew, so the per-cell
    // train×eval product loses its mega-cell tail. The oracle unrolls
    // the identical 3 training rounds in SQL (duckTrainedCentsCtes) —
    // training is hash-checked, not trusted.
    "q_doc_sem_decontam_ivf_trained" -> { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val k = graft.queries.SimilarityOps.scaledCellCountOf(s, dir)
      // r15: graded 2-level assignment above the threshold (see
      // q_doc_sem_decontam's semantic side)
      semDecontamIvfOf(e, nCents = k,
        centsOverride =
          Some(graft.queries.SimilarityOps.trainedCentsOf(s, dir, k)),
        twoLevelTrained =
          k >= graft.queries.SimilarityOps.twoLevelAssignK)
    },

    // Sliding-window chunking — the pretraining chunker: cut each
    // document into fixed-width token windows (W=32) with stride S=24
    // (8-token overlap keeps context across cuts). Pure Generate over
    // the scan: chunk starts come from sequence(0, (n-1) div S), the
    // window text from the codegen slice() — no lambda, no shuffle; at
    // 100 TB chunking parallelizes per input split and the output is
    // ready for q_doc_pack's per-shard sequence packing.
    "q_doc_chunk_windows" -> { (s, dir) =>
      val W = 32
      val S = 24
      Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .withColumn("n", size(col("tk")))
        .select(col("doc_id"), col("n"), col("tk"),
          explode(sequence(lit(0),
            ((col("n") - 1) / lit(S)).cast("int"))).as("chunk_idx"))
        .withColumn("start_tok", col("chunk_idx") * S)
        .withColumn("n_chunk",
          least(lit(W), col("n") - col("start_tok")))
        .withColumn("chunk_text",
          concat_ws(" ", slice(col("tk"), col("start_tok") + 1, lit(W))))
        .select("doc_id", "chunk_idx", "start_tok", "n_chunk", "chunk_text")
    },

    // CCNet-style perplexity bucketing: rank every document by the
    // bigram-LM score (q_doc_lm_score's integer-grid model) WITHIN its
    // source shard and cut head/middle/tail terciles — the shape CCNet
    // actually ships (per-shard quality strata a mix can sample from).
    // The ntile window is partitioned by source, so shards bucket in
    // parallel (the token_budget discipline: a global ordering would
    // serialize into one task at corpus scale); the score is a single
    // IEEE division of exact integers — bit-identical in both engines —
    // with doc_id tie-break, so no ambiguity decides a bucket edge.
    "q_doc_ppl_buckets" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val w = Window.partitionBy("source")
        .orderBy(col("lm_score").desc, col("doc_id").asc)
      // source rides the scoring rollup (lmScoreOf carry) — no second
      // corpus scan + doc_id join just to recover the shard key
      lmScoreOf(docs, carry = Seq("source"))
        .withColumn("bucket", ntile(3).over(w))
        .withColumn("stratum",
          when(col("bucket") === 1, lit("head"))
            .when(col("bucket") === 2, lit("middle"))
            .otherwise(lit("tail")))
        .select("doc_id", "source", "lm_score", "bucket", "stratum")
    },

    // BM25 retrieval scoring against a fixed query — the ranked-search
    // primitive of data curation (find the training docs most relevant
    // to an eval topic; the retrieval half of decontamination-by-
    // similarity). Okapi BM25 with k1=1.2, b=0.75, with Robertson's
    // log-free rational idf (N-df+0.5)/(df+0.5) — logs are
    // transcendental and not bit-portable, the TF-IDF discipline; the
    // ranking is monotone-equivalent per term. Scale shape: the
    // query-term filter prunes the token stream AT THE SCAN (isin on a
    // 3-term literal); tf is |matching docs|-scale, df is 3 rows and
    // the global (N, avgdl) stats are ONE row — both broadcast bounded
    // by construction (the q15 1-row cross-join discipline); dl is the
    // one corpus-wide skinny aggregate. The 3 per-term scores pivot to
    // fixed columns and sum in fixed left-to-right order (cross-row
    // double sums are engine-order-dependent; a 3-column add is not).
    "q_doc_bm25" -> { (s, dir) =>
      val terms = Seq("spark", "join", "window")
      val docs = Tables(s, dir, "documents")
      val tok = docs.select(col("doc_id"), explode(toks).as("term"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val tf = tok.filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val avgdl = col("sum_dl").cast("double") / col("n_docs")
      val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      val denom = col("tf") + lit(1.2) *
        (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl").cast("double") / avgdl))
      val scored = tf.join(broadcast(dfT), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("s", idf * (col("tf") * lit(2.2)) / denom)
      val pivoted = scored.groupBy("doc_id").agg(
        max(when(col("term") === "spark", col("s"))).as("raw_spark"),
        max(when(col("term") === "join", col("s"))).as("raw_join"),
        max(when(col("term") === "window", col("s"))).as("raw_window"))
      dl.join(pivoted, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dl"),
          coalesce(col("raw_spark"), lit(0.0)).as("s_spark"),
          coalesce(col("raw_join"), lit(0.0)).as("s_join"),
          coalesce(col("raw_window"), lit(0.0)).as("s_window"))
        .withColumn("bm25", col("s_spark") + col("s_join") + col("s_window"))
    }
  )

  /** Source-overlap core over any (source, text) frame — see the
    * q_doc_source_overlap entry above for the plan-shape discussion. */
  def sourceOverlapOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSql
    // distinctPerRow: the downstream collect_set dedups anyway, but
    // emitting a doc's repeated shingles once shrinks the rows feeding
    // the partial aggregation by the corpus repeat rate for free
    val sh = docs
      .select(col("source"),
        GraftSql.column(graft.functions.ExplodeShingles(
          GraftSql.expression(toks), 3, distinctPerRow = true)).as("shingle"))
      .select(col("source"),
        (graft.functions.Md5Prefix60(col("shingle")) % MinhashMod).as("h"))
    // r17 NOTE (measured, left alone): a codegen distinct(h, source)
    // self-join was tried against this collect_set shape (guide §4 — it
    // removes the ObjectHashAggregate partial from the exploded
    // stream) and read consistently SLOWER at sf1t (1.0–1.5 s → 1.9 s
    // in interleaved A/B): the join materializes/broadcasts the whole
    // distinct (h, source) relation where collect_set's per-h sets
    // (bounded by the source cardinality) never leave the aggregate.
    // The object boundary here carries tiny sets, not payloads.
    sh.groupBy("h").agg(collect_set(col("source")).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(col("h"), explode(col("ss")).as("source_a"), col("ss"))
      .select(col("h"), col("source_a"), explode(col("ss")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Bigram-LM scoring core over any (doc_id, text) frame — see the
    * q_doc_lm_score entry above for the plan-shape discussion. `carry`
    * columns (e.g. source) ride the bigram stream into the per-doc
    * rollup so callers never rejoin the corpus for them.
    *
    * The model grid attaches to the DISTINCT-bigram table: c2 ⋈ uni is
    * a vocabulary-scale join, and the corpus-sized occurrence stream
    * then joins ONCE on bg — the earlier occurrence-side c2-then-uni
    * chain re-shuffled the whole corpus a second time on w1, a full
    * extra exchange at 100 TB for counts that were per-bigram facts. */
  def lmScoreOf(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.GraftSql
    val uni = docs.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    // r17 (guide §2.4/§6 — one corpus-heavy pass, not two): the c2
    // model counts used to re-run the whole scan+bigram-explode a
    // second time. The occurrence stream must shuffle on bg for the
    // model probe anyway (the shuffle_hash join below), so an explicit
    // repartition(bg) lets the model aggregate RIDE THAT SAME exchange
    // (AQE ReuseExchange) — the subtrees stay byte-identical because
    // the model count is count(doc_id) over the isnotnull-filtered
    // stream (≡ count(1); a bare count(1) lets column pruning narrow
    // the model branch below the exchange and the reuse dissolves —
    // the q11/q_doc_top_terms pattern). carry columns no longer ride
    // the heavy exploded stream at all: they rejoin the |docs|-scale
    // rollup from a cheap non-exploding scan at the end.
    val src = docs.filter(col("doc_id").isNotNull)
    val bg = src.select(col("doc_id"),
      GraftSql.column(graft.functions.ExplodeShingles(
        GraftSql.expression(toks), 2)).as("bg"))
    val bgr = bg.repartition(col("bg"))
    // LEFT join against uni: every bigram's first token is a token of
    // the same corpus, so uni (a superset) always matches and left ≡
    // inner — but the inner spelling let Catalyst infer an
    // isnotnull(split(bg)[0]) filter and push it below the model
    // branch's exchange, breaking the byte-identity the ReuseExchange
    // above depends on (verified in the final adaptive plan).
    val model = bgr.groupBy("bg").agg(count(col("doc_id")).as("c2"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(uni, col("w1") === col("w"), "left")
      .withColumn("grid", expr("(c2 * 1048576) div (c1 + 5)"))
      .select("bg", "grid")
    // SHUFFLE_HASH on the model side: without CBO the Aggregate→Join
    // model subtree carries a corpus-scale size estimate while the raw
    // Generate stream looks small, so unhinted planning INVERTED the
    // build side and broadcast the occurrence table (measured 3× slower
    // at 10×; at 100 TB it is a driver OOM). Hash-building the
    // vocabulary-bounded model per partition is the scale-correct
    // physical join, and a forced broadcast of the model would be the
    // data-dependent-OOM class the comment above rules out.
    val rolled = bgr.join(model.hint("shuffle_hash"), "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("grid").as("sum_grid"))
    val carried =
      if (carry.isEmpty) rolled
      else rolled.join(
        src.select(("doc_id" +: carry).map(col): _*), Seq("doc_id"))
    carried
      .select((Seq("doc_id") ++ carry ++ Seq("n_bigrams", "sum_grid"))
        .map(col): _*)
      .withColumn("lm_score",
        col("sum_grid").cast("double") / col("n_bigrams"))
  }

  /** DSIR-style grid importance weight vs a target source — see the
    * q_doc_dsir_weight entry above for the plan-shape discussion. */
  def dsirWeightOf(docs: DataFrame, targetSource: String): DataFrame = {
    import org.apache.spark.sql.GraftSql
    // isnotnull(doc_id) makes count(doc_id) ≡ count(1) by construction
    // (doc ids are never null in any corpus; the q_doc_top_terms
    // precedent) — required for the model count below to stay exact
    val bg = docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("source"),
        GraftSql.column(graft.functions.ExplodeShingles(
          GraftSql.expression(toks), 2)).as("bg"))
    // r17 (guide §2.4/§6): the old shape ran the corpus scan + bigram
    // explode THREE times (raw counts, target counts, occurrences).
    // One aggregate over the shuffled occurrence stream now computes
    // raw AND target counts together — count(when(source = target, 1))
    // is exactly the old left-joined tc with its null coalesced to 0 —
    // and the aggregate rides the SAME bg exchange the probe join needs
    // (AQE ReuseExchange; count(doc_id) + the when(source) reference
    // keep the model subtree byte-identical to the probe's, the
    // lmScoreOf/q11 pattern). shuffle_hash on the model side for the
    // same non-CBO build-side reason as lmScoreOf.
    val bgr = bg.repartition(col("bg"))
    val model = bgr.groupBy("bg").agg(
      count(col("doc_id")).as("rc"),
      count(when(col("source") === targetSource, 1)).as("tc"))
      .withColumn("grid", expr("(tc * 1048576) div (rc + 5)"))
      .select("bg", "grid")
    bgr.join(model.hint("shuffle_hash"), "bg")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"), sum("grid").as("sum_grid"))
      .withColumn("dsir_weight",
        col("sum_grid").cast("double") / col("n_bigrams"))
  }

  private val duckToks = s"string_split(text, ' ') AS toks"

  /** the bigram-LM scoring CTE chain ending in `lm_scored(doc_id,
    * n_bigrams, sum_grid, lm_score)` — shared by the q_doc_lm_score and
    * q_doc_ppl_buckets oracles. Callers prepend WITH. */
  private lazy val duckLmCtes: String =
    s"""t AS (SELECT doc_id, $duckToks FROM documents),
      |tok AS (SELECT unnest(toks) AS w FROM t),
      |uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
      |bgl AS (
      | SELECT doc_id,
      |  unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS bg
      | FROM t),
      |bgs AS (
      | SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bgl),
      |c2 AS (SELECT bg, count(*) AS c2 FROM bgs GROUP BY bg),
      |grids AS (
      | SELECT b.doc_id, (c2.c2 * 1048576) // (uni.c1 + 5) AS grid
      | FROM bgs b JOIN c2 USING (bg) JOIN uni ON b.w1 = uni.w),
      |lm_scored AS (
      | SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(grid) AS BIGINT) AS sum_grid,
      |  CAST(sum(grid) AS DOUBLE) / count(*) AS lm_score
      | FROM grids GROUP BY doc_id)""".stripMargin

  /** the full MinHash-LSH pairs oracle — shared verbatim by the
    * clusters oracle, which wraps it as a CTE */
  /** the corpus-prep CTE chain (near-dup clusters + per-doc verdicts up
    * to `audited`) — the audit and per-source-rollup oracles share it.
    * Callers prepend WITH RECURSIVE. */
  private lazy val duckCorpusPrepCtes: String =
    s"""pairs_out AS ($duckMinhashPairsSql),
      |edges AS (
      | SELECT id_a AS src, id_b AS dst FROM pairs_out
      | UNION ALL SELECT id_b, id_a FROM pairs_out),
      |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
      |reach(doc_id, label) AS (
      | SELECT doc_id, doc_id FROM nodes
      | UNION
      | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id),
      |clusters AS (
      | SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
      |base AS (
      | SELECT doc_id, source,
      |  len(toks) AS n_tokens,
      |  ${duckStopCount(stop("en"))} AS s_en,
      |  ${duckStopCount(stop("fr"))} AS s_fr,
      |  ${duckStopCount(stop("de"))} AS s_de,
      |  ${duckStopCount(stop("es"))} AS s_es,
      |  CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket,
      |  md5(text) AS fp
      | FROM (SELECT doc_id, source, text, $duckToks FROM documents)),
      |verdicts AS (
      | SELECT b.doc_id, b.source,
      |  ($argmaxSql) = 'en' AS lang_ok,
      |  b.n_tokens >= 20 AND b.s_en * 10 >= b.n_tokens AS quality_ok,
      |  b.doc_id = min(b.doc_id) OVER (PARTITION BY b.fp) AS exact_canonical,
      |  coalesce(cl.cluster_id = b.doc_id, TRUE) AS neardup_canonical,
      |  CASE WHEN b.bucket < 90 THEN 'train'
      |       WHEN b.bucket < 95 THEN 'valid'
      |       ELSE 'test' END AS split
      | FROM base b LEFT JOIN clusters cl ON b.doc_id = cl.doc_id),
      |audited AS (
      | SELECT *,
      |  (lang_ok AND quality_ok AND exact_canonical AND neardup_canonical) AS keep
      | FROM verdicts)""".stripMargin

  private def duckMinhashPairsSql: String = duckMinhashPairsSqlAt(0.5)

  private def duckMinhashPairsSqlAt(minJ: Double): String =
    s"""WITH d AS (
        | SELECT doc_id, $duckShingles AS sh
        | FROM (SELECT doc_id, $duckToks FROM documents) WHERE len(toks) >= 3),
        |hashed AS (
        | SELECT doc_id,
        |  list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $MinhashMod) AS hs
        | FROM d),
        |sigs AS (
        | SELECT doc_id, ${(0 until 8).map(i =>
             s"list_min(list_transform(hs, h -> (${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP)) AS sig$i")
             .mkString(", ")}
        | FROM hashed),
        |banded AS (
        | ${(0 until 4).map(b =>
             s"SELECT doc_id, $b AS band_idx, md5(CAST(sig${2 * b} AS VARCHAR) || '_' || CAST(sig${2 * b + 1} AS VARCHAR)) AS band_hash FROM sigs")
             .mkString("\n UNION ALL ")}),
        |capped AS (
        | SELECT doc_id, band_idx, band_hash FROM (
        |  SELECT *, count(*) OVER (PARTITION BY band_idx, band_hash) AS bsz
        |  FROM banded)
        | WHERE bsz <= $LshBucketCap),
        |pairs AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM capped a JOIN capped b
        |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        | CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
        |FROM pairs JOIN d sa ON sa.doc_id = id_a JOIN d sb ON sb.doc_id = id_b
        |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(sa.sh, sb.sh))) >= $minJ""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_doc_token_stats" ->
      s"""SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_uniq_tokens,
        | length(text) AS n_chars_calc
        |FROM (SELECT doc_id, text, $duckToks FROM documents)""".stripMargin,
    "q_doc_quality" ->
      s"""SELECT doc_id, n_tokens, n_stop, mean_token_len,
        | (n_tokens >= 20 AND n_stop * 10 >= n_tokens) AS keep
        |FROM (SELECT doc_id, len(toks) AS n_tokens,
        |  ${duckStopCount(stop("en"))} AS n_stop,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS mean_token_len
        | FROM (SELECT doc_id, text, $duckToks FROM documents))""".stripMargin,
    "q_doc_langid" ->
      s"""SELECT doc_id, lang, s_en, s_fr, s_de, s_es,
        | $argmaxSql AS lang_pred
        |FROM (SELECT doc_id, lang,
        |  ${duckStopCount(stop("en"))} AS s_en,
        |  ${duckStopCount(stop("fr"))} AS s_fr,
        |  ${duckStopCount(stop("de"))} AS s_de,
        |  ${duckStopCount(stop("es"))} AS s_es
        | FROM (SELECT doc_id, lang, $duckToks FROM documents))""".stripMargin,
    "q_doc_langid_confusion" ->
      s"""WITH pred AS (
        | SELECT doc_id, lang, $argmaxSql AS lang_pred
        | FROM (SELECT doc_id, lang,
        |  ${duckStopCount(stop("en"))} AS s_en,
        |  ${duckStopCount(stop("fr"))} AS s_fr,
        |  ${duckStopCount(stop("de"))} AS s_de,
        |  ${duckStopCount(stop("es"))} AS s_es
        | FROM (SELECT doc_id, lang, $duckToks FROM documents))),
        |cells AS (
        | SELECT lang, lang_pred, count(*) AS n_docs
        | FROM pred GROUP BY lang, lang_pred),
        |totals AS (
        | SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang
        | FROM cells GROUP BY lang)
        |SELECT c.lang, c.lang_pred, c.n_docs, t.n_lang,
        | (c.n_docs * 1000) // t.n_lang AS permille
        |FROM cells c JOIN totals t ON c.lang = t.lang""".stripMargin,
    "q_doc_pii_scrub" ->
      """SELECT doc_id,
        | len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        | len(regexp_extract_all(raw, '[0-9]{4,}')) AS n_digit_runs,
        | regexp_replace(
        |   regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '[0-9]{4,}', '<NUM>', 'g') AS clean_text
        |FROM (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@mail.example.com ref ' || CAST(doc_id * 7919 AS VARCHAR) AS raw
        | FROM documents)""".stripMargin,
    "q_doc_fingerprint" ->
      "SELECT doc_id, md5(lower(text)) AS fp FROM documents",
    "q_doc_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_doc_repetition" ->
      s"""WITH rows_ AS (
        | SELECT doc_id, unnest($duckShinglesAll) AS shingle
        | FROM (SELECT doc_id, $duckToks FROM documents) WHERE len(toks) >= 3),
        |counts AS (
        | SELECT doc_id, shingle, count(*) AS c FROM rows_ GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_shingles,
        | CAST(max(c) AS BIGINT) AS max_shingle_count,
        | CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS repetition_ratio
        |FROM counts GROUP BY doc_id""".stripMargin,
    "q_doc_ngram_jaccard" ->
      s"""WITH d AS (
        | SELECT doc_id, $duckShingles AS sh
        | FROM (SELECT doc_id, $duckToks FROM documents)
        | WHERE len(toks) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | len(list_intersect(a.sh, b.sh)) AS n_shared,
        | len(list_distinct(list_concat(a.sh, b.sh))) AS n_union,
        | CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "q_doc_minhash_sig" ->
      s"""WITH d AS (
        | SELECT doc_id, $duckShingles AS sh
        | FROM (SELECT doc_id, $duckToks FROM documents) WHERE len(toks) >= 3),
        |hashed AS (
        | SELECT doc_id,
        |  list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $MinhashMod) AS hs
        | FROM d)
        |SELECT doc_id, ${(0 until 8).map(i =>
             s"list_min(list_transform(hs, h -> (${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP)) AS sig$i")
             .mkString(", ")}
        |FROM hashed""".stripMargin,
    "q_doc_minhash_pairs" -> duckMinhashPairsSql,
    "q_doc_pair_sim_hist" ->
      s"""SELECT CAST(floor(jaccard * 10) AS BIGINT) AS sim_decile,
        | count(*) AS n_pairs
        |FROM (${duckMinhashPairsSqlAt(0.0)})
        |GROUP BY 1""".stripMargin,
    // min-label propagation converges to the component minimum, which is
    // exactly what the transitive-closure min computes: every node's
    // reachable-label set contains the component min and nothing smaller.
    "q_doc_dedup_clusters" ->
      s"""WITH RECURSIVE pairs_out AS ($duckMinhashPairsSql),
        |edges AS (
        | SELECT id_a AS src, id_b AS dst FROM pairs_out
        | UNION ALL SELECT id_b, id_a FROM pairs_out),
        |nodes AS (
        | SELECT DISTINCT src AS doc_id FROM edges),
        |reach(doc_id, label) AS (
        | SELECT doc_id, doc_id FROM nodes
        | UNION
        | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id)
        |SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id""".stripMargin,
    "q_doc_bpe_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+')) AS n_subword_tokens
        |FROM documents""".stripMargin,
    "q_doc_dup_spans" ->
      s"""WITH sp AS (
        | SELECT doc_id,
        |  CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $MinhashMod AS h
        | FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS s
        |  FROM (SELECT doc_id, $duckToks FROM documents) WHERE len(toks) >= 5)),
        |pd AS (SELECT h, doc_id, count(*) AS n_occ FROM sp GROUP BY 1, 2),
        |wd AS (SELECT *, count(*) OVER (PARTITION BY h) AS n_docs FROM pd)
        |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_windows,
        | CAST(sum(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END) AS BIGINT) AS n_dup_windows,
        | CAST(sum(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END) AS DOUBLE)
        |   / sum(n_occ) AS dup_fraction
        |FROM wd GROUP BY doc_id""".stripMargin,
    "q_doc_dup_span_strip" ->
      s"""WITH t AS (SELECT doc_id, $duckToks FROM documents),
        |p0 AS (
        | SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
        | FROM t WHERE len(toks) >= 5),
        |sp AS (
        | SELECT doc_id, i,
        |  CAST('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]), 1, 15) AS BIGINT) % $MinhashMod AS h
        | FROM p0),
        |duph AS (
        | SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY h)
        | WHERE nd >= 2),
        |cov AS (
        | SELECT DISTINCT sp.doc_id, sp.i + d.d AS j
        | FROM sp JOIN duph USING (h), (SELECT unnest(range(0, 5)) AS d) d),
        |tp0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j FROM t),
        |tp AS (SELECT doc_id, j, toks[j] AS tok FROM tp0),
        |kept AS (
        | SELECT tp.doc_id, tp.j, tp.tok
        | FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.j = cov.j
        | WHERE cov.j IS NULL),
        |agg AS (
        | SELECT doc_id, array_to_string(list(tok ORDER BY j), ' ') AS clean_text,
        |  count(*) AS n_kept
        | FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        | CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept_tokens
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,
    "q_doc_pack" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT doc_id, source, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM t)
        |SELECT doc_id, source, n_tokens,
        | (cum - n_tokens) // 2048 AS pack_id,
        | (cum - n_tokens) % 2048 AS pack_offset
        |FROM c""".stripMargin,
    "q_doc_rolling_fp" ->
      s"""SELECT doc_id,
        | list_reduce(
        |   list_prepend(0::BIGINT, list_transform(string_split(text, ' '),
        |     t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $MinhashMod)),
        |   (h, x) -> (h * 1000003 + x) % $RollMod) AS rolling_fp
        |FROM documents""".stripMargin,
    "q_doc_decontaminate" ->
      s"""WITH d AS (
        | SELECT doc_id, unnest($duckShingles) AS shingle
        | FROM (SELECT doc_id, $duckToks FROM documents) WHERE len(toks) >= 3),
        |train AS (SELECT DISTINCT shingle FROM d WHERE doc_id % 10 <> 0),
        |ev AS (SELECT DISTINCT doc_id, shingle FROM d WHERE doc_id % 10 = 0)
        |SELECT doc_id, count(*) AS n_contaminated_shingles
        |FROM ev JOIN train USING (shingle) GROUP BY doc_id""".stripMargin,
    "q_doc_contam_frac" ->
      s"""WITH d AS (
        | SELECT doc_id, unnest($duckShingles) AS shingle
        | FROM (SELECT doc_id, $duckToks FROM documents) WHERE len(toks) >= 3),
        |bench AS (SELECT DISTINCT shingle FROM d WHERE doc_id % 10 = 0),
        |train AS (SELECT DISTINCT doc_id, shingle FROM d WHERE doc_id % 10 <> 0),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
        |hits AS (
        | SELECT doc_id, count(*) AS n_hit
        | FROM train JOIN bench USING (shingle) GROUP BY doc_id)
        |SELECT t.doc_id, t.n_shingles,
        | coalesce(h.n_hit, 0) AS n_hit,
        | (coalesce(h.n_hit, 0) * 1000) // t.n_shingles AS contam_permille,
        | (coalesce(h.n_hit, 0) * 1000) // t.n_shingles >= 200 AS flagged
        |FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin,
    "q_doc_index_dedup" ->
      s"""WITH t AS (SELECT doc_id, text, $duckToks FROM documents),
        |d AS (SELECT doc_id, $duckShingles AS sh FROM t WHERE len(toks) >= 3),
        |hashed AS (
        | SELECT doc_id,
        |  list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $MinhashMod) AS hs
        | FROM d),
        |sigs AS (
        | SELECT doc_id, ${(0 until 8).map(i =>
             s"list_min(list_transform(hs, h -> (${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP)) AS sig$i")
             .mkString(", ")}
        | FROM hashed),
        |banded AS (
        | ${(0 until 4).map(b =>
             s"SELECT doc_id, $b AS band_idx, md5(CAST(sig${2 * b} AS VARCHAR) || '_' || CAST(sig${2 * b + 1} AS VARCHAR)) AS band_hash FROM sigs")
             .mkString("\n UNION ALL ")}),
        |idx_capped AS (
        | SELECT doc_id, band_idx, band_hash FROM (
        |  SELECT *, count(*) OVER (PARTITION BY band_idx, band_hash) AS bsz
        |  FROM (SELECT * FROM banded WHERE doc_id % 3 = 0))
        | WHERE bsz <= $LshBucketCap),
        |new_capped AS (
        | SELECT doc_id, band_idx, band_hash FROM (
        |  SELECT *, count(*) OVER (PARTITION BY band_idx, band_hash) AS bsz
        |  FROM (SELECT * FROM banded WHERE doc_id % 3 <> 0))
        | WHERE bsz <= $LshBucketCap),
        |cands AS (
        | SELECT DISTINCT n.doc_id AS doc_id, i.doc_id AS idx_id
        | FROM new_capped n JOIN idx_capped i
        |  ON n.band_idx = i.band_idx AND n.band_hash = i.band_hash),
        |agree AS (
        | SELECT c.doc_id, c.idx_id,
        |  (${(0 until 8).map(i =>
             s"CASE WHEN ns.sig$i = isg.sig$i THEN 1 ELSE 0 END")
             .mkString(" + ")}) AS n_agree
        | FROM cands c JOIN sigs ns ON ns.doc_id = c.doc_id
        |  JOIN sigs isg ON isg.doc_id = c.idx_id),
        |near AS (
        | SELECT doc_id, min(idx_id) AS dup_near_of
        | FROM agree WHERE n_agree >= 4 GROUP BY doc_id),
        |fps AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents),
        |ex AS (
        | SELECT n.doc_id, min(i.doc_id) AS dup_exact_of
        | FROM fps n JOIN fps i ON n.fp = i.fp
        | WHERE n.doc_id % 3 <> 0 AND i.doc_id % 3 = 0
        | GROUP BY n.doc_id)
        |SELECT nd.doc_id, e.dup_exact_of, nr.dup_near_of,
        | (e.dup_exact_of IS NULL AND nr.dup_near_of IS NULL) AS keep
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0) nd
        |LEFT JOIN ex e ON nd.doc_id = e.doc_id
        |LEFT JOIN near nr ON nd.doc_id = nr.doc_id""".stripMargin,
    // r12: the semantic CTEs mirror semDecontamIvfOf — cell-scoped
    // comparison under the corpus-scaled cell count — so the oracle
    // pins the graded scale path's semantics exactly
    "q_doc_sem_decontam" ->
      s"""WITH d AS (
        | SELECT doc_id, unnest($duckShingles) AS shingle
        | FROM (SELECT doc_id, $duckToks FROM documents) WHERE len(toks) >= 3),
        |bench AS (SELECT DISTINCT shingle FROM d WHERE doc_id % 10 = 0),
        |train AS (SELECT DISTINCT doc_id, shingle FROM d WHERE doc_id % 10 <> 0),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
        |hits AS (
        | SELECT doc_id, count(*) AS n_hit
        | FROM train JOIN bench USING (shingle) GROUP BY doc_id),
        |lex AS (
        | SELECT t.doc_id,
        |  (coalesce(h.n_hit, 0) * 1000) // t.n_shingles AS contam_permille
        | FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id),
        |${graft.queries.SimilarityOps.duckTrainedCentsCtes},
        |${graft.queries.SimilarityOps.duckTrainedAssignCtes("cents3")},
        |ev AS (SELECT centroid_id, vec_id AS eval_id, embedding AS e_emb
        |  FROM assign WHERE vec_id % 10 = 0),
        |tr AS (SELECT vec_id AS doc_id, centroid_id, embedding
        |  FROM assign WHERE vec_id % 10 <> 0),
        |sc AS (
        | SELECT tr.doc_id, ev.eval_id,
        |  list_reduce(list_transform(range(1, 65),
        |    i -> CAST(tr.embedding[i] AS DOUBLE) * ev.e_emb[i]), (x, y) -> x + y) /
        |  (sqrt(list_reduce(list_transform(tr.embedding,
        |     x -> CAST(x AS DOUBLE) * x), (a, b) -> a + b)) *
        |   sqrt(list_reduce(list_transform(ev.e_emb,
        |     x -> CAST(x AS DOUBLE) * x), (a, b) -> a + b))) AS cosine
        | FROM tr JOIN ev ON tr.centroid_id = ev.centroid_id),
        |sem AS (
        | SELECT doc_id, cosine AS max_cell_cosine, eval_id AS nearest_eval_id
        | FROM (SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY cosine DESC, eval_id ASC) AS rn
        |   FROM sc) WHERE rn = 1)
        |SELECT l.doc_id, l.contam_permille, s.max_cell_cosine,
        | s.nearest_eval_id,
        | l.contam_permille >= 200 AS flagged_lex,
        | coalesce(s.max_cell_cosine >= 0.35e0, FALSE) AS flagged_sem,
        | (l.contam_permille >= 200 OR
        |  coalesce(s.max_cell_cosine >= 0.35e0, FALSE)) AS flagged
        |FROM lex l JOIN tr t ON l.doc_id = t.doc_id
        |LEFT JOIN sem s ON l.doc_id = s.doc_id""".stripMargin,
    "q_doc_sem_decontam_ivf" ->
      s"""WITH cents AS (
        | SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings WHERE vec_id < $duckScaledK),
        |${duckSemDecontamIvfBody("cents")}""".stripMargin,
    // trained twin: identical decontamination body over the 3-round
    // Lloyd cents — the oracle runs the SAME training arithmetic
    // kmeansOf runs (integer-grid means, float rounding per round)
    // r15: the assign CTE is the k-threshold-branched 2-level route,
    // matching the Spark side's gradedAssignSupers exactly
    "q_doc_sem_decontam_ivf_trained" ->
      s"""WITH ${graft.queries.SimilarityOps.duckTrainedCentsCtes},
        |${graft.queries.SimilarityOps.duckTrainedAssignCtes("cents3")},
        |${duckSemDecontamIvfBodyFrom("assign")}""".stripMargin,
    "q_doc_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, $duckToks FROM documents),
        |c AS (
        | SELECT doc_id, len(toks) AS n, toks,
        |  unnest(range(0, (len(toks) - 1) // 24 + 1)) AS chunk_idx
        | FROM t)
        |SELECT doc_id, chunk_idx, chunk_idx * 24 AS start_tok,
        | least(32, n - chunk_idx * 24) AS n_chunk,
        | array_to_string(toks[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)], ' ')
        |  AS chunk_text
        |FROM c""".stripMargin,
    "q_doc_top_terms" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, rk, term, tf, df FROM (
        | SELECT doc_id, term, tf, df,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY CAST(tf AS DOUBLE) / df DESC, term ASC) AS rk
        | FROM tf JOIN df USING (term))
        |WHERE rk <= 3""".stripMargin,
    "q_doc_simhash" ->
      s"""WITH tok AS (
        | SELECT doc_id, CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT) AS h
        | FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |       FROM documents) t),
        |votes AS (
        | SELECT doc_id,
        |  ${(0 until 16).map(j =>
             s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j").mkString(", ")}
        | FROM tok GROUP BY doc_id)
        |SELECT doc_id,
        | ${(0 until 16).map(j => s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)").mkString(" + ")} AS simhash
        |FROM votes""".stripMargin,
    "q_doc_quality_vs_dup" ->
      s"""WITH RECURSIVE pairs_out AS ($duckMinhashPairsSql),
        |edges AS (
        | SELECT id_a AS src, id_b AS dst FROM pairs_out
        | UNION ALL SELECT id_b, id_a FROM pairs_out),
        |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        |reach(doc_id, label) AS (
        | SELECT doc_id, doc_id FROM nodes
        | UNION
        | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id),
        |clusters AS (
        | SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
        |scored AS (
        | SELECT doc_id, source,
        |  (${duckStopCount(stop("en"))} * 1000) // len(toks) AS q_grid
        | FROM (SELECT doc_id, source, $duckToks FROM documents)),
        |keeps AS (
        | SELECT s.source, coalesce(cl.cluster_id = s.doc_id, TRUE) AS keep,
        |  ntile(10) OVER (PARTITION BY s.source ORDER BY s.q_grid, s.doc_id) AS decile
        | FROM scored s LEFT JOIN clusters cl ON s.doc_id = cl.doc_id)
        |SELECT source, decile, count(*) AS n_docs,
        | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        | (CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) * 1000)
        |   // count(*) AS keep_permille
        |FROM keeps GROUP BY source, decile""".stripMargin,
    "q_doc_dedup_keep" ->
      s"""WITH RECURSIVE pairs_out AS ($duckMinhashPairsSql),
        |edges AS (
        | SELECT id_a AS src, id_b AS dst FROM pairs_out
        | UNION ALL SELECT id_b, id_a FROM pairs_out),
        |nodes AS (
        | SELECT DISTINCT src AS doc_id FROM edges),
        |reach(doc_id, label) AS (
        | SELECT doc_id, doc_id FROM nodes
        | UNION
        | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id),
        |clusters AS (
        | SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id)
        |SELECT d.doc_id,
        | coalesce(c.cluster_id, d.doc_id) AS cluster_id,
        | coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keep
        |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id""".stripMargin,
    "q_doc_split" ->
      """SELECT doc_id, source, bucket,
        | CASE WHEN bucket < 90 THEN 'train'
        |      WHEN bucket < 95 THEN 'valid'
        |      ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
        | FROM documents)""".stripMargin,
    "q_doc_corpus_card" ->
      """SELECT count(*) AS n_docs,
        | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        | CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        | CAST(max(n_toks) AS BIGINT) AS max_doc_tokens,
        | CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_contents,
        | count(*) - CAST(count(DISTINCT fp) AS BIGINT) AS n_exact_dup_docs,
        | CAST(sum(n_toks) AS DOUBLE) / count(*) AS mean_doc_tokens
        |FROM (SELECT source, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |  md5(text) AS fp FROM documents)""".stripMargin,
    "q_doc_length_hist" ->
      """SELECT count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        | bin * 64 AS bin_lo
        |FROM (SELECT n_toks, n_toks // 64 AS bin
        | FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents))
        |GROUP BY bin""".stripMargin,
    "q_doc_shard_shuffle" ->
      """SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos
        |FROM (SELECT doc_id, skey, skey % 8 AS shard
        | FROM (SELECT doc_id,
        |   CAST('0x' || substr(md5('shuf42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS skey
        |  FROM documents))""".stripMargin,
    "q_doc_url_stats" ->
      """WITH raw AS (
        | SELECT doc_id, text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
        |   || '.example.org/p/' || CAST(doc_id AS VARCHAR)
        |   || ' and http://www.ref' || CAST(doc_id % 3 AS VARCHAR) || '.net' AS raw
        | FROM documents),
        |h AS (
        | SELECT doc_id, unnest(regexp_extract_all(raw, 'https?://([A-Za-z0-9.-]+)', 1)) AS host
        | FROM raw)
        |SELECT host, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, count(*) AS n_refs
        |FROM h GROUP BY host""".stripMargin,
    "q_doc_mix" ->
      """SELECT doc_id, lang, source, rate_permille,
        | CAST(1000.0 AS DOUBLE) / rate_permille AS weight
        |FROM (SELECT doc_id, lang, source,
        |  CAST(CASE WHEN lang = 'en' THEN 500
        |       WHEN lang = 'zh' THEN 250
        |       WHEN lang = 'es' THEN 800
        |       ELSE 1000 END AS BIGINT) AS rate_permille,
        |  CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS bucket
        | FROM documents)
        |WHERE bucket < rate_permille""".stripMargin,
    "q_doc_corpus_prep" ->
      s"""WITH RECURSIVE $duckCorpusPrepCtes
        |SELECT doc_id, source, lang_ok, quality_ok, exact_canonical,
        | neardup_canonical, split, keep
        |FROM audited""".stripMargin,
    "q_doc_prep_funnel" ->
      s"""WITH RECURSIVE $duckCorpusPrepCtes,
        |wide AS (
        | SELECT count(*) AS n0,
        |  CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN lang_ok AND quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN lang_ok AND quality_ok AND exact_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n4
        | FROM audited)
        |SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_surviving FROM wide
        |UNION ALL SELECT 1, 'lang_id', n1 FROM wide
        |UNION ALL SELECT 2, 'quality', n2 FROM wide
        |UNION ALL SELECT 3, 'exact_dedup', n3 FROM wide
        |UNION ALL SELECT 4, 'near_dedup', n4 FROM wide""".stripMargin,
    "q_doc_source_stats" ->
      s"""WITH RECURSIVE $duckCorpusPrepCtes
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
        | CAST(sum(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
        | CAST(sum(CASE WHEN exact_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_canonical,
        | CAST(sum(CASE WHEN neardup_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_canonical,
        | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        | CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        | CAST(sum(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        | CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        |FROM audited GROUP BY source""".stripMargin,
    "q_doc_token_budget" ->
      s"""WITH scored AS (
        | SELECT doc_id, source,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(${duckStopCount(stop("en"))} AS DOUBLE) / len(toks) AS q_score
        | FROM (SELECT doc_id, source, $duckToks FROM documents))
        |SELECT doc_id, source, n_tokens, q_score,
        | CAST(sum(n_tokens) OVER (PARTITION BY source
        |   ORDER BY q_score DESC, doc_id ASC
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        | (sum(n_tokens) OVER (PARTITION BY source
        |   ORDER BY q_score DESC, doc_id ASC
        |   ROWS UNBOUNDED PRECEDING)) <= 1500 AS kept
        |FROM scored""".stripMargin,
    "q_doc_lm_score" ->
      s"""WITH $duckLmCtes
        |SELECT doc_id, n_bigrams, sum_grid, lm_score
        |FROM lm_scored""".stripMargin,
    "q_doc_dsir_weight" ->
      s"""WITH t AS (SELECT doc_id, source, $duckToks FROM documents),
        |bgl AS (
        | SELECT doc_id, source,
        |  unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg
        | FROM t),
        |raw AS (SELECT bg, count(*) AS rc FROM bgl GROUP BY bg),
        |tgt AS (
        | SELECT bg, count(*) AS tc FROM bgl
        | WHERE source = 'src0' GROUP BY bg)
        |SELECT b.doc_id, b.source, count(*) AS n_bigrams,
        | CAST(sum((coalesce(tg.tc, 0) * 1048576) // (r.rc + 5)) AS BIGINT)
        |   AS sum_grid,
        | CAST(sum((coalesce(tg.tc, 0) * 1048576) // (r.rc + 5)) AS DOUBLE)
        |   / count(*) AS dsir_weight
        |FROM bgl b JOIN raw r USING (bg) LEFT JOIN tgt tg USING (bg)
        |GROUP BY b.doc_id, b.source""".stripMargin,
    "q_doc_collocations" ->
      s"""WITH t AS (SELECT doc_id, $duckToks FROM documents),
        |tok AS (SELECT unnest(toks) AS w FROM t),
        |uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
        |bgl AS (
        | SELECT unnest(list_transform(range(1, len(toks)),
        |   i -> toks[i] || ' ' || toks[i+1])) AS bg
        | FROM t),
        |nb AS (SELECT count(*) AS n_bg FROM bgl),
        |cnt AS (
        | SELECT bg, string_split(bg, ' ')[1] AS w1,
        |  string_split(bg, ' ')[2] AS w2, count(*) AS c12
        | FROM bgl GROUP BY bg),
        |scored AS (
        | SELECT c.bg, CAST(c.c12 AS BIGINT) AS c12,
        |  ua.c1 AS c1a, ub.c1 AS c1b,
        |  (CAST(c.c12 AS HUGEINT) * (SELECT n_bg FROM nb) * 1048576)
        |    // (CAST(ua.c1 AS HUGEINT) * ub.c1 + 1048576) AS pmi_grid
        | FROM cnt c JOIN uni ua ON c.w1 = ua.w JOIN uni ub ON c.w2 = ub.w)
        |SELECT bg, c12, c1a, c1b, CAST(pmi_grid AS BIGINT) AS pmi_grid
        |FROM scored ORDER BY pmi_grid DESC, bg ASC LIMIT 50""".stripMargin,
    "q_doc_stratified_sample" ->
      s"""SELECT doc_id, source, sample_rank, n_source,
        | (sample_rank * 5 <= n_source) AS keep
        |FROM (
        | SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank,
        |  count(*) OVER (PARTITION BY source) AS n_source
        | FROM documents)""".stripMargin,
    "q_doc_ppl_buckets" ->
      s"""WITH $duckLmCtes
        |SELECT doc_id, source, lm_score, bucket,
        | CASE WHEN bucket = 1 THEN 'head'
        |      WHEN bucket = 2 THEN 'middle'
        |      ELSE 'tail' END AS stratum
        |FROM (
        | SELECT l.doc_id, d.source, l.lm_score,
        |  ntile(3) OVER (PARTITION BY d.source
        |    ORDER BY l.lm_score DESC, l.doc_id ASC) AS bucket
        | FROM lm_scored l JOIN documents d ON l.doc_id = d.doc_id)""".stripMargin,
    "q_doc_bm25" ->
      s"""WITH tok AS (
        | SELECT doc_id, unnest(toks) AS term
        | FROM (SELECT doc_id, $duckToks FROM documents)),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        |tf AS (
        | SELECT doc_id, term, count(*) AS tf FROM tok
        | WHERE term IN ('spark', 'join', 'window')
        | GROUP BY doc_id, term),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        | SELECT t.doc_id, t.term,
        |  -- e0 literals: bare 0.5 is DECIMAL in DuckDB and rounds
        |  -- differently from Spark's double arithmetic
        |  ((s.n_docs - f.df + 0.5e0) / (f.df + 0.5e0))
        |   * (t.tf * 2.2e0)
        |   / (t.tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 *
        |      (CAST(d.dl AS DOUBLE) / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS s
        | FROM tf t JOIN dft f USING (term) JOIN dl d USING (doc_id), stats s),
        |pivoted AS (
        | SELECT doc_id,
        |  max(CASE WHEN term = 'spark' THEN s END) AS raw_spark,
        |  max(CASE WHEN term = 'join' THEN s END) AS raw_join,
        |  max(CASE WHEN term = 'window' THEN s END) AS raw_window
        | FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, d.dl,
        | coalesce(raw_spark, 0.0) AS s_spark,
        | coalesce(raw_join, 0.0) AS s_join,
        | coalesce(raw_window, 0.0) AS s_window,
        | coalesce(raw_spark, 0.0) + coalesce(raw_join, 0.0)
        |   + coalesce(raw_window, 0.0) AS bm25
        |FROM dl d LEFT JOIN pivoted p ON d.doc_id = p.doc_id""".stripMargin,
    "q_doc_source_overlap" ->
      s"""WITH sh AS (
        | SELECT DISTINCT source,
        |  CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $MinhashMod AS h
        | FROM (
        |  SELECT source, unnest($duckShinglesAll) AS shingle
        |  FROM (SELECT source, $duckToks FROM documents)))
        |SELECT a.source AS source_a, b.source AS source_b,
        | count(*) AS n_shared_shingles
        |FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "q_doc_url_dedup" ->
      """WITH u AS (
        | SELECT doc_id,
        |  lower('https://Site' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.example.org/p/' || CAST(doc_id % 40 AS VARCHAR)) AS url
        | FROM documents)
        |SELECT doc_id, url,
        | min(doc_id) OVER (PARTITION BY url) AS canonical_id,
        | doc_id = min(doc_id) OVER (PARTITION BY url) AS keep
        |FROM u""".stripMargin,
    "q_doc_gopher_rules" ->
      s"""WITH m AS (
        | SELECT doc_id, len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_uniq,
        |  ${duckStopCount(stop("en"))} AS n_stop,
        |  length(replace(text, ' ', '')) AS n_chars_ns
        | FROM (SELECT doc_id, text, $duckToks FROM documents))
        |SELECT doc_id, n_tokens, n_uniq, n_stop, n_chars_ns,
        | n_tokens BETWEEN 25 AND 80 AS r_words,
        | (n_chars_ns * 10 >= n_tokens * 40 AND
        |  n_chars_ns * 10 <= n_tokens * 52) AS r_mean_len,
        | n_stop >= 2 AS r_stop,
        | n_uniq * 10 >= n_tokens * 3 AS r_uniq,
        | (n_tokens BETWEEN 25 AND 80
        |  AND n_chars_ns * 10 >= n_tokens * 40
        |  AND n_chars_ns * 10 <= n_tokens * 52
        |  AND n_stop >= 2
        |  AND n_uniq * 10 >= n_tokens * 3) AS keep
        |FROM m""".stripMargin,
    "q_doc_temperature_mix" ->
      """WITH per_lang AS (
        | SELECT lang, count(*) AS n_docs,
        |  CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT) AS s_scaled
        | FROM documents GROUP BY lang),
        |tot AS (
        | SELECT sum(n_docs) AS t_docs, sum(s_scaled) AS s_sum FROM per_lang)
        |SELECT lang, n_docs,
        | CAST(n_docs AS DOUBLE) / t_docs AS nat_share,
        | CAST(s_scaled AS DOUBLE) / s_sum AS temp_share,
        | (CAST(s_scaled AS DOUBLE) / s_sum) / (CAST(n_docs AS DOUBLE) / t_docs) AS boost,
        | CAST(floor((CAST(s_scaled AS DOUBLE) / s_sum) * CAST(t_docs AS DOUBLE)) AS BIGINT) AS target_docs
        |FROM per_lang, tot""".stripMargin
  )
}
