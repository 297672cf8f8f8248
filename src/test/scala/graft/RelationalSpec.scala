package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4)
  val sf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every registered query runs on sf0.001 and has oracle coverage") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      withClue(s"query $name: ") { assert(df.columns.nonEmpty) }
      // force execution
      df.count()
    }
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql without matching query: $extra")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1 aggregates to the 6 flag/status groups (comparator-safe doubles)") {
    // aggregates stay decimal internally; the final output cast is DOUBLE
    // so the driver's pandas comparator sees float64 on both sides
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(rows.nonEmpty && rows.size <= 6)
    rows.values.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Double]("sum_charge") > 0)
    }
  }

  test("q_topk_orders returns exactly 10 ordered rows") {
    val prices = SparkEntry.queries("q_topk_orders")(spark, sf)
      .collect().map(_.getAs[Double]("totalprice"))
    assert(prices.length == 10)
    assert(prices.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("cube: one pass produces all four grouping-set classes exactly") {
    val rows = SparkEntry.queries("q_cube_part_stats")(spark, sf).collect()
    def cls(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("g_brand").intValue, r.getAs[Number]("g_container").intValue)
    val byClass = rows.groupBy(cls)
    assert(byClass.keySet == Set((0, 0), (0, 1), (1, 0), (1, 1)))
    val total = Tables(spark, sf, "part").count()
    // the grand-total row covers every part; each class partitions them
    assert(byClass((1, 1)).map(_.getAs[Long]("n_parts")).toSeq == Seq(total))
    Seq((0, 0), (0, 1), (1, 0)).foreach { c =>
      assert(byClass(c).map(_.getAs[Long]("n_parts")).sum == total)
    }
  }

  test("partition-pruned scan reads only the filtered partition") {
    // date/priority-partitioned layout + a partition-key filter must
    // prune AT PLANNING (PartitionFilters on the scan node), not filter
    // rows after a full read — the difference between scanning one
    // partition and scanning 100 TB
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables(spark, sf, "orders")
      .write.partitionBy("o_orderpriority").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("o_orderpriority") === "1-URGENT")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      s"no partition filter in plan:\n$plan")
    val expected = Tables(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(df.count() == expected && expected > 0)
  }

  test("bucketed co-located join runs with NO exchange on the join key") {
    // the pre-partitioning answer to the biggest recurring shuffle at
    // 100 TB: write both fact tables bucketed on the join key once, and
    // every later orderkey join reads co-located buckets — SortMergeJoin
    // with ZERO Exchange in the plan (vs two full shuffles unhinted)
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    val o = Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    val l = Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.format("parquet").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").option("path", s"$wh/o")
      .mode("overwrite").saveAsTable("b_orders")
    l.write.format("parquet").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").option("path", s"$wh/l")
      .mode("overwrite").saveAsTable("b_lineitem")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and it computes the same rows as the plain (shuffling) join
      val unbucketed = l.join(o, col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() == unbucketed.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
