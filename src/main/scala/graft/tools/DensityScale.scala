package graft.tools

/** Density-scale proof for the embedding near-dup family (round-11
  * brief item 4, second half). The fixed-knob sidecars
  * (r11_sf{1,30,100}_true.json) measure what everyone suspects: with a
  * FIXED partition geometry (6 sign bits → 64 buckets, 16 cells) and a
  * corpus that grows at constant center count, per-bucket population
  * grows linearly and the within-bucket pairwise goes quadratic until
  * the degenerate-bucket caps swallow whole cells. That is the honest
  * fixed-knob curve — and it is NOT the 100 TB operating point.
  *
  * The documented scale contract (semdedupOf / neardupOf scaladocs) is
  * that the partition count is THE knob that grows with the corpus:
  * sign-LSH bits ~ 6 + log2(m) keeps expected bucket size constant;
  * SemDeDup k ~ 16·m keeps cells constant-sized. This tool runs the
  * same operators at every multiplier with the DENSITY-MATCHED knobs
  * and records the curve that contract predicts (~linear in corpus
  * size). Recall note, stated not papered: more hyperplanes lower the
  * collision probability of LOOSE pairs (cosine barely over the 0.25
  * threshold: 0.58^bits) while genuine near-dups (cosine ≈ 1, planted
  * perturbations) still collide at ≈ 0.985^bits ≈ 90% at 13 bits — the
  * standard LSH contract: the knob trades the loose tail, not the dup
  * mass. For SemDeDup the n·k assignment term becomes the next-order
  * cost at k ∝ n; production solves it with hierarchical / ANN
  * centroid assignment, which is why the measured scaled curve bends
  * slightly at the top multiplier (the PLANS.md entry quantifies it).
  *
  * Usage: runMain graft.tools.DensityScale <outJson> <dir:m> [<dir:m>...]
  */
object DensityScale {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DensityScale <outJson> <dir:m> [<dir:m>...]")
    val outJson = args(0)
    val dirs = args.drop(1).toSeq.map { a =>
      val i = a.lastIndexOf(':')
      (a.substring(0, i), a.substring(i + 1).toInt)
    }
    val spark = graft.GraftSession()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val rows = dirs.map { case (dir, m) =>
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      // density-matched knobs: expected bucket ≈ 2000·m / 2^bits stays
      // ~30; cells ≈ 2000·m / (16·m) stay 125
      val bits = 6 + (math.log(m.toDouble) / math.log(2.0)).ceil.toInt
      val nCents = 16 * m
      import graft.queries.SimilarityOps.{neardupCellsOf, neardupOf, semdedupOf}
      // SPARK_GRAFT_DENSITY_ONLY=substr,substr narrows the label set
      // (re-measuring one new operator without re-paying the slow
      // saturated-LSH points)
      val onlyLabels = sys.env.get("SPARK_GRAFT_DENSITY_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      def run(label: String, body: => Unit): Option[(String, Double)] = {
        if (!onlyLabels.forall(_.exists(label.contains))) return None
        body // untimed warm pass (codegen/JIT, scan cache)
        val s = time(body)
        println(f"[density] m=$m%-4d $label%-22s ${s}%7.2f s (bits=$bits nCents=$nCents)")
        Some(label -> s)
      }
      // measurement order: the cell family FIRST — the saturated-LSH
      // points run for minutes at high m and contaminate readings taken
      // after them in the same JVM (r12 measured clusters_cells at
      // 45.8 s in-curve vs 16.0 s isolated; heap/codecache pressure)
      val nSupers = math.ceil(math.sqrt(nCents.toDouble)).toInt
      // the full TRAINED production configuration: kmeansOf cells +
      // trained supers + two-level assignment (the router-quality
      // spec's trained/trained pairing, at scale). Training cost is
      // its own label (kmeansOf's Lloyd rounds run eagerly at
      // construction — by-name body captures them); the operator label
      // amortizes the build (lazy + localCheckpoint: charged to the
      // untimed warm pass), the build-once/use-many operating point.
      lazy val trainedDf = graft.queries.SimilarityOps
        .kmeansOf(e, k = nCents, iters = 3).localCheckpoint()
      val r = Seq(
        run("neardup_cells", noop(neardupCellsOf(e, nCents = nCents))),
        run("semdedup_scaled", noop(semdedupOf(e, nCents = nCents))),
        run("clusters_cells", noop(
          graft.queries.TextOps.clustersOf(neardupCellsOf(e, nCents = nCents))
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("cluster_id")))),
        run("semdecon_ivf_scaled", noop(
          graft.queries.TextOps.semDecontamIvfOf(e, nCents = nCents))),
        // h2: the same scaled-k operators through the two-level coarse
        // quantizer (√k supers) — measures the n·k assignment fix
        run("semdedup_h2", noop(semdedupOf(e, nCents = nCents,
          assignSupers = nSupers))),
        run("neardup_cells_h2", noop(neardupCellsOf(e, nCents = nCents,
          assignSupers = nSupers))),
        run("kmeans_train", noop(graft.queries.SimilarityOps
          .kmeansOf(e, k = nCents, iters = 3))),
        run("neardup_cells_trained", noop(neardupCellsOf(e,
          nCents = nCents, assignSupers = nSupers,
          centsOverride = Some(trainedDf), trainSupers = true))),
        // the LSH family last (see order note above)
        run("neardup_scaled", noop(neardupOf(e, bits = bits))),
        run("clusters_scaled", noop(
          graft.queries.TextOps.clustersOf(neardupOf(e, bits = bits))
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.col("cluster_id"))))
      ).flatten.toMap
      (m, bits, nCents, r)
    }
    val json = rows.map { case (m, bits, nCents, r) =>
      s"""{"m":$m,"bits":$bits,"n_cents":$nCents,""" +
        r.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("", ",", "}")
    }.mkString("[", ",", "]")
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, s"""{"curve":$json}""")
    println(s"""{"metric":"density_scale","points":${rows.size}}""")
    spark.stop()
  }
}
