package graft.tools

import java.util.{Random => JRandom}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic scale-test corpus generator for the true-law
  * scale-proof (round-8 brief item 3; extended to the FULL table set
  * in r11): emits every TESTDATA.md table shaped like the driver's
  * testdata — `documents`, `embeddings`, the relational star
  * (`lineitem part orders supplier customer nation region`) and
  * `events` (laws for each family in the section comments below)
  * (TESTDATA.md measured distributions at sf0.1: ~31-word per-language
  * vocab, 5 languages at the observed mix, 20 sources, 44-577 char
  * docs, ~0.2% planted exact dups + ~1% near dups; embeddings 64-dim
  * 10-center mixture with 5% planted near-dups; lineitem/part with
  * 20k·m parts, 1k·m suppliers, 600k·m lines) at any multiplier `m`.
  *
  * Usage: runMain graft.tools.ScaleGen <outDir> <multiplier>
  *        [table,table,...]   (optional subset, e.g. the 100× runs
  *                             generate only documents,embeddings)
  *
  * The point is RATIO benchmarking: generate m=1 and m=10 with the
  * same generator, run the same queries on both, and the runtime ratio
  * isolates data scaling from generator drift. Seeded java.util.Random
  * (spec-fixed LCG) ⇒ byte-identical output on every run/platform.
  * Row construction is distributed: each Spark partition seeds its own
  * RNG from (seed, partitionId), so the build itself scales. */
object ScaleGen extends Serializable {

  /** splitmix64 finalizer: java.util.Random's seed scramble does not
    * decorrelate sequential seeds (the first draw of seeds k and k+1 is
    * strongly correlated — measured as a 3:1 language skew and a 10×
    * under-planting of dups), so every per-row RNG seeds from a mixed
    * (salt, id) instead */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def rng(salt: Long, id: Long): JRandom =
    new JRandom(mix(mix(salt) ^ id))

  private val langs = Seq("en", "de", "fr", "es", "zh")
  // observed sf0.1 language mix: en ~41%, others ~15% each
  private val langCum = Seq(0.41, 0.55, 0.70, 0.85, 1.0)
  private def vocab(lang: String): IndexedSeq[String] = {
    val base = IndexedSeq("spark", "column", "line", "part", "scan", "fast",
      "query", "agg", "table", "hash", "value", "key", "group", "filter",
      "customer", "stream", "slow", "sort", "batch", "order", "small",
      "vector", "join", "shuffle", "cache", "disk", "merge", "row",
      "plan", "stage", "task")
    if (lang == "en") base else base.map(w => s"${w}_$lang")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleGen <outDir> <multiplier> [table,table,...]")
    val out = args(0)
    val m = args(1).toInt
    // optional table subset (e.g. "documents,embeddings"): the 100×
    // heavy-hitter runs need only the two content tables — generating
    // 60M lineitem rows for a dedup-cluster timing would be waste
    val only = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.GraftSession()
    generate(spark, out, m, only)
    spark.stop()
  }

  def generate(spark: SparkSession, out: String, m: Int,
      only: Option[Set[String]] = None): Unit = {
    def want(t: String): Boolean = only.forall(_.contains(t))
    val nDocs = 5000L * m
    val nVecs = 2000L * m
    val nLines = 600000L * m
    val nPartKeys = 20000L * m
    val nSupps = 1000L * m

    // documents: per-language word salad with planted exact/near dups.
    // A dup row re-generates its BASE doc's text from the base id's own
    // deterministic RNG — no shuffle, no self-join, scales linearly.
    def docText(id: Long): String = {
      val r = rng(1, id)
      val u = r.nextDouble()
      val lang = langs(langCum.indexWhere(u <= _))
      val v = vocab(lang)
      val nTokens = 8 + r.nextInt(90)
      val sb = new StringBuilder
      var i = 0
      while (i < nTokens && sb.length < 560) {
        if (i > 0) sb.append(' ')
        sb.append(v(r.nextInt(v.size)))
        i += 1
      }
      sb.toString
    }
    def docLang(id: Long): String = {
      val r = rng(1, id)
      langs(langCum.indexWhere(r.nextDouble() <= _))
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, false),
      StructField("text", StringType, false),
      StructField("lang", StringType, false),
      StructField("source", StringType, false),
      StructField("n_chars", LongType, false)))
    val docRdd = spark.sparkContext.range(0L, nDocs, numSlices = 32).map { id =>
      val r = rng(2, id)
      val roll = r.nextDouble()
      val baseId =
        if (id >= 100 && roll < 0.002) id - 1 - r.nextInt(100).toLong // exact dup
        else id
      val base = docText(baseId)
      val text =
        if (id >= 100 && roll >= 0.002 && roll < 0.012) {
          // near dup: the base doc with one token appended
          base + " " + vocab(docLang(baseId))(r.nextInt(31))
        } else base
      Row(id, text, docLang(baseId), s"src${(id % 20).toInt}", text.length.toLong)
    }
    if (want("documents")) spark.createDataFrame(docRdd, docSchema)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: 64-dim 10-center Gaussian mixture, 5% near-dups
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), false),
      StructField("label", IntegerType, false)))
    def vecOf(id: Long): (Array[Float], Int) = {
      val r = rng(3, id)
      val label = r.nextInt(10)
      val c = rng(4, label) // shared center per label
      val e = Array.tabulate(64)(_ =>
        (c.nextGaussian() + 0.3 * r.nextGaussian()).toFloat)
      (e, label)
    }
    val vecRdd = spark.sparkContext.range(0L, nVecs, numSlices = 32).map { id =>
      val r = rng(5, id)
      val (e, label) =
        if (id >= 50 && r.nextDouble() < 0.05) {
          val (base, lb) = vecOf(id - 1 - r.nextInt(50).toLong)
          (base.map(x => x + 0.01f * r.nextGaussian().toFloat), lb)
        } else vecOf(id)
      Row(id, e.toSeq, label)
    }
    if (want("embeddings")) spark.createDataFrame(vecRdd, vecSchema)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // relational star: FULL TESTDATA.md schemas at the sf0.1-measured
    // distribution laws (r10 — the r8 version emitted only the q16
    // column subset; the true-sf1 sidecar needs q1/q11/q21 too). All
    // laws re-measured against /root/testdata/sf0.1: 0-based contiguous
    // keys, ~uniform orderkey references (147.2k/150k distinct over
    // 600k lines = the uniform-draw expectation), ~uniform
    // returnflag×linestatus and priority mixes, value/date ranges as
    // observed. Seeded per-row RNGs ⇒ byte-identical on every run.
    val nOrders = 150000L * m
    val nCusts = 15000L * m
    val epoch95 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    def ts(r: JRandom, fromMs: Long, spanDays: Long) =
      new java.sql.Timestamp(fromMs + r.nextLong(spanDays) * 86400000L)
    def money(r: JRandom, lo: Double, hi: Double): Double =
      math.rint((lo + (hi - lo) * r.nextDouble()) * 100.0) / 100.0

    val liSchema = StructType(Seq(
      StructField("l_orderkey", LongType, false),
      StructField("l_partkey", LongType, false),
      StructField("l_suppkey", LongType, false),
      StructField("l_linenumber", IntegerType, false),
      StructField("l_quantity", DoubleType, false),
      StructField("l_extendedprice", DoubleType, false),
      StructField("l_discount", DoubleType, false),
      StructField("l_tax", DoubleType, false),
      StructField("l_returnflag", StringType, false),
      StructField("l_linestatus", StringType, false),
      StructField("l_shipdate", TimestampType, false)))
    val liRdd = spark.sparkContext.range(0L, nLines, numSlices = 32).map { id =>
      val r = rng(6, id)
      val qty = 1.0 + r.nextInt(50)
      Row(r.nextLong(nOrders), r.nextLong(nPartKeys), r.nextLong(nSupps),
        1 + r.nextInt(7), qty,
        math.rint(qty * (900.0 + 1200.0 * r.nextDouble()) * 100.0) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "ANR".charAt(r.nextInt(3)).toString,
        "FO".charAt(r.nextInt(2)).toString,
        ts(r, epoch95, 2500))
    }
    if (want("lineitem")) spark.createDataFrame(liRdd, liSchema)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val adjs = IndexedSeq("large", "hot", "blue", "cold", "dark", "pale",
      "small", "round")
    val nouns = IndexedSeq("ring", "bolt", "gear", "gizmo", "plate", "rod",
      "widget", "anvil")
    val partSchema = StructType(Seq(
      StructField("p_partkey", LongType, false),
      StructField("p_name", StringType, false),
      StructField("p_brand", StringType, false),
      StructField("p_type", StringType, false),
      StructField("p_size", IntegerType, false),
      StructField("p_retailprice", DoubleType, false)))
    val pTypes = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD")
    val partRdd = spark.sparkContext.range(0L, nPartKeys, numSlices = 32).map { id =>
      val r = rng(7, id)
      Row(id, s"${adjs(r.nextInt(8))} ${nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", pTypes(r.nextInt(6)),
        1 + r.nextInt(50), money(r, 900.0, 999.9))
    }
    if (want("part")) spark.createDataFrame(partRdd, partSchema)
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    val ordSchema = StructType(Seq(
      StructField("o_orderkey", LongType, false),
      StructField("o_custkey", LongType, false),
      StructField("o_orderstatus", StringType, false),
      StructField("o_totalprice", DoubleType, false),
      StructField("o_orderdate", TimestampType, false),
      StructField("o_orderpriority", StringType, false)))
    val prios = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    val ordRdd = spark.sparkContext.range(0L, nOrders, numSlices = 32).map { id =>
      val r = rng(8, id)
      Row(id, r.nextLong(nCusts), "OPF".charAt(r.nextInt(3)).toString,
        money(r, 1000.0, 500000.0), ts(r, epoch95, 2400),
        prios(r.nextInt(5)))
    }
    if (want("orders")) spark.createDataFrame(ordRdd, ordSchema)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    val supSchema = StructType(Seq(
      StructField("s_suppkey", LongType, false),
      StructField("s_name", StringType, false),
      StructField("s_nationkey", IntegerType, false),
      StructField("s_acctbal", DoubleType, false)))
    val supRdd = spark.sparkContext.range(0L, nSupps, numSlices = 32).map { id =>
      val r = rng(9, id)
      Row(id, f"Supplier#$id%09d", r.nextInt(25), money(r, -1000.0, 10000.0))
    }
    if (want("supplier")) spark.createDataFrame(supRdd, supSchema)
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    // ---- r11: the remaining TESTDATA.md families, so the FULL suite
    // runs under the true generator law (round-11 brief item 2). Laws
    // measured against /root/testdata/sf0.1 (same discipline as the
    // relational star above): customer 15k·m rows, uniform nationkey
    // 0-24, acctbal ~U[-999.99, 9999.99], uniform 5-segment mix;
    // events 100k·m rows over 1.5k·m users, ts uniform across 30 days
    // of 2024-01, uniform 5-type mix, value ~Exp(mean 50) (measured
    // median 34.9 ≈ 50·ln2, max 560 ≈ 50·ln(1e5)), props = the literal
    // {"k": <0-99>} JSON; nation/region are FIXED dimensions (25/5
    // rows, NATION_i → region i%5, canonical region names) — they do
    // not scale with m, exactly like the testdata.

    val custSchema = StructType(Seq(
      StructField("c_custkey", LongType, false),
      StructField("c_name", StringType, false),
      StructField("c_nationkey", IntegerType, false),
      StructField("c_acctbal", DoubleType, false),
      StructField("c_mktsegment", StringType, false)))
    val segs = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY")
    val custRdd = spark.sparkContext.range(0L, nCusts, numSlices = 32).map { id =>
      val r = rng(10, id)
      Row(id, f"Customer#$id%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), segs(r.nextInt(5)))
    }
    if (want("customer")) spark.createDataFrame(custRdd, custSchema)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    val nEvents = 100000L * m
    val nUsers = 1500L * m
    val evTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
    val epoch24 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evSchema = StructType(Seq(
      StructField("event_id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("user_id", LongType, false),
      StructField("event_type", StringType, false),
      StructField("value", DoubleType, false),
      StructField("props", StringType, false)))
    val evRdd = spark.sparkContext.range(0L, nEvents, numSlices = 32).map { id =>
      val r = rng(11, id)
      val t = new java.sql.Timestamp(
        epoch24 + (r.nextDouble() * 30.0 * 86400000.0).toLong)
      val value = math.rint(-50.0 * math.log(
        1.0 - r.nextDouble()) * 100.0) / 100.0
      Row(id, t, r.nextLong(nUsers), evTypes(r.nextInt(5)), value,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    if (want("events")) spark.createDataFrame(evRdd, evSchema)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val natSchema = StructType(Seq(
      StructField("n_nationkey", IntegerType, false),
      StructField("n_name", StringType, false),
      StructField("n_regionkey", IntegerType, false)))
    if (want("nation")) spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 25).map(i =>
        Row(i, s"NATION_$i", i % 5)), 1), natSchema)
      .write.mode("overwrite").parquet(s"$out/nation.parquet")

    val regSchema = StructType(Seq(
      StructField("r_regionkey", IntegerType, false),
      StructField("r_name", StringType, false)))
    if (want("region")) spark.createDataFrame(
      spark.sparkContext.parallelize(Seq("AFRICA", "AMERICA", "ASIA",
        "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) =>
        Row(i, n) }, 1), regSchema)
      .write.mode("overwrite").parquet(s"$out/region.parquet")
  }
}
