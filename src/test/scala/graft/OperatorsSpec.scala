package graft

import graft.chain.{Bronze, ChainDatasets}
import graft.functions.Keccak
import graft.operators.SaltedJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("top-k per key: NaN rows rank first like the window form; nulls drop") {
    import spark.implicits._
    // NaN cosines are live inputs (0/0 for a zero-norm embedding);
    // Spark's total order ranks NaN greatest, so desc top-k must put it
    // first REGARDLESS of arrival order — primitive < / == comparisons
    // ignore NaN and made results arrival-order-dependent
    val rowsA = Seq((1L, Double.NaN, 9L), (1L, 5.0, 1L), (1L, 3.0, 2L))
    val rowsB = rowsA.reverse
    def run(rows: Seq[(Long, Double, Long)]) =
      graft.operators.TopKPerKey.topK(spark,
        rows.toDF("k", "score", "id"), "k", "score", "id", 2)
        .orderBy("rk").collect()
        .map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(run(rowsA) == Seq((1, 9L), (2, 1L)))
    assert(run(rowsB) == run(rowsA)) // arrival-order invariant
    // null key/score/id rows drop instead of crashing the primitive
    // tuple encoder
    val withNulls = Seq[(java.lang.Long, java.lang.Double, java.lang.Long)](
      (1L, null, 5L), (1L, 2.0, 6L), (null, 1.0, 7L))
      .toDF("k", "score", "id")
    val got = graft.operators.TopKPerKey.topK(spark, withNulls,
      "k", "score", "id", 2).collect()
    assert(got.length == 1 && got(0).getLong(2) == 6L)
  }

  test("top-k per key: partial WindowGroupLimit bounds the shuffle map-side") {
    // r16: TopKPerKey's internals moved from a typed Aggregator to the
    // native row_number + rank-filter form. The scale contract the
    // Aggregator provided must survive the move: a PARTIAL group limit
    // runs BELOW the exchange, so only k rows per key per input
    // partition cross the shuffle — never the whole scored relation.
    import spark.implicits._
    val df = (1 to 1000).map(i => ((i % 7).toLong, i.toDouble, i.toLong))
      .toDF("k", "score", "id")
    val plan = graft.operators.TopKPerKey
      .topK(spark, df, "k", "score", "id", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    val partialIdx = plan.indexOf(", Partial")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx > 0 && exchangeIdx > 0 && exchangeIdx < partialIdx,
      s"partial group limit must sit below the exchange:\n$plan")
  }

  test("string top-k: UTF8-binary tie-break matches the window form") {
    import spark.implicits._
    // equal scores force the id tie-break; 'é' sorts AFTER 'z' in UTF8
    // binary order (0xC3... > 0x7A) exactly as Spark's column ordering
    // and DuckDB's default collation do — a Java String.compareTo
    // tie-break would agree here but diverge on supplementary planes,
    // so the aggregator's order source is pinned to UTF8String
    val rows = Seq(
      (1L, 2.0, "zebra", 10L, 5L), (1L, 2.0, "apple", 11L, 6L),
      (1L, 2.0, "été", 12L, 7L), (1L, 9.0, "mid", 13L, 8L),
      (2L, 1.0, "only", 1L, 1L))
    def run(rs: Seq[(Long, Double, String, Long, Long)]) =
      graft.operators.TopKPerKey.topKStr(spark,
        rs.toDF("k", "score", "term", "tf", "df"),
        "k", "score", "term", "tf", "df", 3)
        .orderBy("k", "rk").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSeq
    val expect = Seq((1L, 1, "mid", 13L, 8L), (1L, 2, "apple", 11L, 6L),
      (1L, 3, "zebra", 10L, 5L), (2L, 1, "only", 1L, 1L))
    assert(run(rows) == expect)
    assert(run(rows.reverse) == expect) // arrival-order invariant
    // the window formulation agrees row-for-row, including the payloads
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
      .orderBy(col("score").desc, col("term").asc)
    val win = rows.toDF("k", "score", "term", "tf", "df")
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .orderBy("k", "rk").collect()
      .map(r => (r.getLong(0), r.getInt(5), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(win == expect)
  }

  test("salted join equals plain join exactly") {
    val l = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_partkey"), col("l_quantity"))
    val o = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    val plain = l.join(o, "k")
    // the reserved salt column name is refused, not silently corrupted
    val eSalt = intercept[IllegalArgumentException] {
      SaltedJoin.join(l.withColumn("__salt", lit(1)), o, "k")
    }
    assert(eSalt.getMessage.contains("__salt"))
    val salted = SaltedJoin.join(l, o, "k", salts = 8)
    assert(salted.count() == plain.count())
    // same multiset of rows: compare an order-insensitive aggregate per key
    val a = plain.groupBy("k").agg(count(lit(1)).as("n"),
      sum(col("l_partkey")).as("sp")).collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val b = salted.groupBy("k").agg(count(lit(1)).as("n"),
      sum(col("l_partkey")).as("sp")).collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(a == b)
    // deterministic across runs
    assert(SaltedJoin.join(l, o, "k", salts = 8).count() == salted.count())
  }

  test("AQE skew-join splits the hot key; salted and adaptive joins agree") {
    // The SAME pathological shape q_salted_join_orders exists for — one
    // key carrying most of the large side — run under AQE's skew-join
    // instead of manual salting: a fresh session (session-global confs)
    // with the skew thresholds scaled down to spec-size data, broadcast
    // disabled so the join is a genuine sort-merge. The final adaptive
    // plan must carry the isSkew mark (AQE split the hot partition) and
    // the three formulations — plain SMJ, AQE skew-split SMJ, manual
    // SaltedJoin — must agree exactly. PLANS.md ("AQE skew-join vs
    // manual salting") records when each applies at 100 TB.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // 70% of the large side lands on key 1; the rest spreads over 1000
    val large = s2.range(0, 200000).select(
      when(col("id") % 10 < 7, lit(1L)).otherwise(col("id") % 1000).as("k"),
      col("id").as("v"))
    val small = s2.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    def sig(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"), sum("w").as("sw"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    val adaptive = large.join(small, "k")
    // drive THIS queryExecution (a write plans a fresh one, and
    // Dataset.foreach runs through a separate deserializer execution):
    // the adaptive plan only carries its skew marks after execution
    adaptive.queryExecution.toRdd.count()
    val finalPlan = adaptive.queryExecution.executedPlan.toString
    assert(finalPlan.contains("SortMergeJoin"), s"expected SMJ:\n$finalPlan")
    assert(finalPlan.contains("isSkew=true") || finalPlan.contains("skew=true"),
      s"AQE did not mark a skew split:\n$finalPlan")
    val want = sig(adaptive)
    // AQE-off plain join and the manual SaltedJoin produce identical rows
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.adaptive.enabled", "false")
    s3.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val large3 = s3.range(0, 200000).select(
      when(col("id") % 10 < 7, lit(1L)).otherwise(col("id") % 1000).as("k"),
      col("id").as("v"))
    val small3 = s3.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    assert(sig(large3.join(small3, "k")) == want)
    assert(sig(SaltedJoin.join(large3, small3, "k", salts = 8)) == want)
  }

  test("erc20 transfer from-filter pushes into topic position") {
    val dir = graft.queries.ChainQueries.FixDir
    val all = ChainDatasets.erc20Transfers(Bronze.dir(spark, dir))
    val someFrom = all.select("from_address").limit(1).collect()(0).getAs[Array[Byte]](0)
    val filtered = ChainDatasets.erc20Transfers(Bronze.dir(spark, dir), from = Some(someFrom))
    val n = filtered.count()
    assert(n > 0 && n < all.count())
    filtered.select("from_address").collect().foreach { r =>
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](0), someFrom))
    }
  }
}
