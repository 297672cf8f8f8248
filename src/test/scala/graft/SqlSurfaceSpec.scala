package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL-registered custom functions end to end. */
class ExplodeShinglesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("generator yields n-grams, honors short/empty/null inputs") {
    import org.apache.spark.sql.GraftSql
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"), (2L, "a b"), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val out = df.select(col("id"),
      GraftSql.column(graft.functions.ExplodeShingles(
        GraftSql.expression(split(col("text"), " ")), 3)).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // only the 4-token doc yields; 2 overlapping 3-grams, in order
    assert(out.toSeq == Seq((1L, "a b c"), (1L, "b c d")))
  }

  test("generator matches the array-lambda shingles semantics (with dupes)") {
    import org.apache.spark.sql.GraftSql
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, "x y x y x y")).toDF("id", "text") // duplicate 3-grams
    val gen = df.select(
      GraftSql.column(graft.functions.ExplodeShingles(
        GraftSql.expression(split(col("text"), " ")), 3)).as("sh"))
      .groupBy("sh").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gen == Map("x y x" -> 2, "y x y" -> 2))
  }
}

class SqlSurfaceSpec extends AnyFunSuite {
  import SparkTestSession._

  test("keccak256 / u256 family / decode_event usable from SQL") {
    Graft.registerFunctions(spark)
    val h = spark.sql("SELECT hex(keccak256(encode('abc', 'UTF-8'))) AS h")
      .collect()(0).getString(0).toLowerCase
    assert(h == "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45")

    val s = spark.sql(
      "SELECT u256_string(u256_from_string('123456789')) AS s").collect()(0).getString(0)
    assert(s == "123456789")

    assert(spark.sql("SELECT u256_u64(u256_from_string('18446744073709551617')) AS w")
      .collect()(0).getLong(0) == 1L) // 2^64 + 1 wraps to 1

    // i256: all-ones word is -1 under two's complement, 2^256-1 unsigned
    assert(spark.sql("SELECT i256_string(unhex(repeat('ff', 32))) AS s")
      .collect()(0).getString(0) == "-1")
    assert(spark.sql("SELECT u256_string(unhex(repeat('ff', 32))) AS s")
      .collect()(0).getString(0) ==
      BigInt(2).pow(256).-(1).toString)
    assert(spark.sql("SELECT i256_string(u256_from_string('123')) AS s")
      .collect()(0).getString(0) == "123") // positive values agree

    val logsDir = graft.queries.ChainQueries.FixDir + "/rpc_logs.parquet"
    spark.read.parquet(logsDir).createOrReplaceTempView("sql_logs")
    val decoded = spark.sql(
      """SELECT dec.value AS v FROM (
        |  SELECT decode_event(topics, data,
        |    'Transfer(address indexed from, address indexed to, uint256 value)') AS dec
        |  FROM sql_logs) WHERE dec IS NOT NULL""".stripMargin)
    assert(decoded.count() > 0)

    // non-literal signature is rejected with a clear error
    val err = intercept[Exception] {
      spark.sql("SELECT decode_event(topics, data, CAST(rand() AS STRING)) FROM sql_logs")
        .collect()
    }
    assert(err.getMessage.contains("string literal") ||
      err.getCause != null && err.getCause.getMessage.contains("string literal"))
  }

  test("pipeline kernels usable from SQL") {
    Graft.registerFunctions(spark)
    val row = spark.sql(
      """SELECT dot_f32(a, b) AS d, sum_sq_f32(a) AS ss, abs_max_f32(b) AS am,
        |  sub_f32(a, b) AS df,
        |  minhash_sigs(split('the quick brown fox jumps', ' '), 3) AS sigs,
        |  md5_prefix60('abc') AS h
        |FROM VALUES (array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS t(a, b)"""
        .stripMargin).collect()(0)
    assert(row.getAs[Double]("d") == 1.0 * 3.0 + 2.0 * 0.5)
    assert(row.getAs[Double]("ss") == 5.0)
    assert(row.getAs[Double]("am") == 3.0)
    assert(row.getAs[scala.collection.Seq[Float]]("df").toSeq == Seq(-2.0f, 1.5f))
    assert(row.getAs[scala.collection.Seq[Long]]("sigs").length == 8)
    assert(row.getAs[Long]("h") > 0)
    // the generator composes with LATERAL VIEW like explode
    val sh = spark.sql(
      """SELECT shingle FROM (SELECT split('a b c d', ' ') AS toks)
        |LATERAL VIEW explode_shingles(toks, 3) s AS shingle""".stripMargin)
    assert(sh.collect().map(_.getString(0)).toSeq == Seq("a b c", "b c d"))
    // SQL minhash_sigs IS the family the dedup pipeline runs on
    val docs = Tables(spark, sf, "documents").limit(50)
    docs.createOrReplaceTempView("sql_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, minhash_sigs(split(text, ' '), 3) AS sigs
        |FROM sql_docs""".stripMargin)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Long]]("sigs").toSeq).toMap
    graft.queries.TextOps.rowSigsOf(docs).collect().foreach { r =>
      assert(viaSql(r.getAs[Long]("doc_id")) ==
        r.getAs[scala.collection.Seq[Long]]("sigs").toSeq)
    }
  }

  test("graft_lake table function scans a frozen lake with file pruning") {
    Graft.registerFunctions(spark)
    import graft.chain.{BlockSyntax, Freeze, Lake}
    val out = java.nio.file.Files.createTempDirectory("lake_tvf_").toString
    Freeze.freeze(spark, graft.queries.ChainQueries.FixDir, Freeze.FreezeSpec(
      datasets = Seq("blocks"), blocks = BlockSyntax.Range(1000, 1060),
      chunkSize = 10, outputDir = out, noReport = true,
      maxConcurrentChunks = 1))
    // full scan, pruned scan, aggregation over the TVF — all plain SQL
    assert(spark.sql(s"SELECT count(*) FROM graft_lake('$out', 'blocks')")
      .head().getLong(0) == 60L)
    val pruned = spark.sql(
      s"SELECT * FROM graft_lake('$out', 'blocks', '1015:1045')")
    assert(pruned.inputFiles.length == 4) // files 1010/1020/1030/1040
    assert(pruned.count() == 30L)
    val agg = spark.sql(
      s"""SELECT min(block_number) AS lo, max(block_number) AS hi
         |FROM graft_lake('$out', 'blocks', '1050:latest')""".stripMargin)
      .head()
    // an explicit latest end INCLUDES the lake head (1059), like the
    // omitted-end form — the reference only end-excludes numeric ends
    assert(agg.getInt(0) == 1050 && agg.getInt(1) == 1059)
    // non-literal args fail at analysis with a clear message
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_lake('$out', lower('BLOCKS'))").collect()
    }
    assert(e.getMessage.contains("literal"))
  }
}
