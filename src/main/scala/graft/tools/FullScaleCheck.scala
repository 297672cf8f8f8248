package graft.tools

/** FULL-suite true-sf1 runner (round-9 brief item 3): every registered
  * query executes against BOTH an sf0.1-shaped dir and a 10×
  * (ScaleUp-generated) sf1 dir; per query it reports warm seconds at
  * each scale, the ratio, and whether the physical join strategy
  * flipped (exchange / broadcast-hash / sort-merge node counts). The
  * sidecar makes a super-linear scaler or a plan flip in ANY of the
  * suite's queries visible, where the r8 top-5 sidecar could only see
  * the heavy hitters.
  *
  * Discipline mirrors Bench: a full untimed warm pass per dir absorbs
  * codegen/JIT, the memoized dedup tables rebuild untimed (their build
  * is reported as its own memo line item per dir), and timed runs go
  * through the noop sink so every output column materializes.
  *
  * Usage: runMain graft.tools.FullScaleCheck <dirSmall> <dirLarge> [outJson]
  */
object FullScaleCheck {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: FullScaleCheck <dirSmall> <dirLarge> [outJson]")
    val Seq(small, large) = args.take(2).toSeq
    val outJson = args.lift(2).getOrElse("bench_history/r09_sf1_sidecar.json")
    val spark = graft.GraftSession()

    // SPARK_GRAFT_ONLY=q_a,q_b restricts the sweep (Bench's selector) —
    // the true-sf1 sidecar runs the top-10 heavy hitters on a generator
    // corpus that carries only the tables those queries read
    val names = graft.Bench.selectedQueries

    // shared harness primitives (graft.Bench — one benchmarking
    // contract for the per-round bench and this scale checker). loud:
    // a query that crashes ONLY at the large scale is the headline
    // finding this tool exists for; it prints its cause and lands in
    // the sidecar as -1 plus an "error" marker (see the rows loop)
    def runNoop(name: String, dir: String): Double =
      graft.Bench.runNoopOn(spark, name, dir, loud = true)
    def planSummary(name: String, dir: String): String =
      try {
        val plan = graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString
        def n(pat: String) = pat.r.findAllIn(plan).length
        // ex counts SHUFFLE exchanges only — a bare "Exchange" regex
        // also matches BroadcastExchange, double-signalling any
        // broadcast-side change in both ex= and bhj=
        s"ex=${n("(?<!Broadcast)Exchange")} bhj=${n("BroadcastHashJoin")} " +
          s"smj=${n("SortMergeJoin")} bnlj=${n("BroadcastNestedLoopJoin")}"
      } catch { case _: Throwable => "error" }

    /** one dir's full pass: untimed warm (incl. memo rebuild), then
      * timed; returns (per-query sec, memo seconds) */
    def pass(dir: String): (Map[String, Double], Double) = {
      names.foreach(runNoop(_, dir)) // warm codegen/JIT, populate memos
      val memoS = graft.Bench.rebuildMemosUntimed(spark, dir, names)
      (names.map(n => n -> runNoop(n, dir)).toMap, memoS)
    }

    val (tSmall, memoSmall) = pass(small)
    val (tLarge, memoLarge) = pass(large)

    // Outlier self-adjudication (r12 lesson, hit twice): a reading taken
    // right after a minutes-long job in the same JVM can inherit its
    // heap/codecache pressure — chain_js_traces read 86× in-sweep and
    // 9.2× isolated, clusters_cells 45.8 s in-curve and 16.0 s isolated.
    // Any query whose ratio lands >20× gets ONE fresh re-time of both
    // sides after the sweep; the record keeps the re-timed ratio and
    // marks the row retimed so the first reading stays attributable.
    // r13 (ADVICE): retime each SIDE under its own freshly-rebuilt
    // memos. pass(large) cleared the whole Spark cache and rebuilt
    // memos for the large dir only, so a memo-dependent q_doc query
    // retimed on the small dir would pay the full memo rebuild inside
    // its timed reading while the large side reused warm memos —
    // asymmetrically DEFLATING the retimed ratio the sidecar records
    // as authoritative. All small retimes run after one untimed small
    // memo rebuild, then all large retimes after one large rebuild.
    val outliers = names.filter { q =>
      val ts = tSmall(q); val tl = tLarge(q)
      ts > 0 && tl >= 0 && tl / ts > 20.0
    }
    val retimed = scala.collection.mutable.Map.empty[String, (Double, Double)]
    if (outliers.nonEmpty) {
      graft.Bench.rebuildMemosUntimed(spark, small, outliers)
      val rs = outliers.map(q => q -> runNoop(q, small)).toMap
      graft.Bench.rebuildMemosUntimed(spark, large, outliers)
      for (q <- outliers) retimed(q) = (rs(q), runNoop(q, large))
    }

    val rows = names.map { q =>
      val (ts, tl) = retimed.getOrElse(q, (tSmall(q), tLarge(q)))
      val ps = planSummary(q, small); val pl = planSummary(q, large)
      val err = ts < 0 || tl < 0
      val ratio = if (ts > 0 && tl >= 0) tl / ts else -1.0
      val rt = retimed.contains(q)
      println(f"$q%-34s small=$ts%7.2f large=$tl%7.2f ratio=$ratio%6.2f " +
        s"flip=${ps != pl}${if (ps != pl) s"  [$ps -> $pl]" else ""}" +
        (if (rt) f"  RETIMED (first: ${tLarge(q) / tSmall(q)}%.2f)" else "") +
        (if (err) "  ERROR" else ""))
      (q, ts, tl, ratio, ps != pl, err, rt)
    }
    val qs = rows.map { case (q, ts, tl, r, flip, err, rt) =>
      s""""$q":{"small_sec":${f"$ts%.3f"},"large_sec":${f"$tl%.3f"},""" +
        s""""ratio":${f"$r%.2f"},"plan_flip":$flip,"error":$err""" +
        (if (rt) s""","retimed":true,"first_ratio":${f"${tLarge(q) / tSmall(q)}%.2f"}""" else "") +
        "}"
    }.mkString("{", ",", "}")
    val nErrors = rows.count(_._6)
    if (nErrors > 0)
      System.err.println(s"[scalecheck] $nErrors quer${if (nErrors == 1) "y" else "ies"} FAILED — see lines above")
    val totS = tSmall.values.filter(_ >= 0).sum
    val totL = tLarge.values.filter(_ >= 0).sum
    val record =
      s"""{"small":"$small","large":"$large","n_queries":${names.size},""" +
      s""""total_small_s":${f"$totS%.3f"},"total_large_s":${f"$totL%.3f"},""" +
      s""""memo_small_s":${f"$memoSmall%.3f"},"memo_large_s":${f"$memoLarge%.3f"},""" +
      s""""per_query":$qs}"""
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, record)
    println(s"""{"metric":"sf1_total","value":${f"$totL%.3f"},"unit":"sec","small_total":${f"$totS%.3f"},"n_queries":${names.size}}""")
    spark.stop()
  }
}
