package graft

import graft.chain.{Bronze, Datatypes, Freeze, TableSchema}
import graft.functions.U256
import graft.queries.ChainQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Each `Freeze.catalog` entry declares the bronze tables its builder
  * reads: live extraction fetches exactly those, and a multi bundle
  * persists their union. A builder that reads a bronze its entry leaves
  * out would fail on every live freeze, so each entry is built from a
  * Bronze holding only its declared tables. */
class BronzeDepsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("the catalog has one entry per dataset and per multi member") {
    assert(Freeze.catalog.keySet == Datatypes.canonicalNames,
      Freeze.catalog.keySet diff Datatypes.canonicalNames)
    val members = Datatypes.multis.values.flatten.toSet
    assert(members.subsetOf(Freeze.catalog.keySet), members -- Freeze.catalog.keySet)
  }

  test("every catalog entry builds from its declared bronzes alone") {
    val fixtures = Bronze.dir(spark, ChainQueries.FixDir)
    for ((dataset, entry) <- Freeze.catalog.toSeq.sortBy(_._1)) {
      val declared = entry.bronze(Freeze.BuildOptions())
      val bronze = Bronze.persisted(declared.map(t => t -> fixtures(t)).toMap)
      try withClue(s"$dataset from ${declared.toSeq.sorted.mkString(", ")}: ") {
        entry.build(Freeze.BuildOptions())(bronze)
          .write.format("noop").mode("overwrite").save()
      } finally bronze.release()
    }
    // a table the Bronze does not hold fails by its name
    val blocksOnly = Bronze.persisted(Map("rpc_blocks" -> fixtures("rpc_blocks")))
    try {
      val e = intercept[NoSuchElementException](blocksOnly("rpc_logs"))
      assert(e.getMessage.contains("rpc_logs"), e.getMessage)
    } finally blocksOnly.release()
  }

  test("every catalog entry emits its declared columns unsorted; outputs sort") {
    // the builders are the one source of a table's columns and sort
    // nothing: column selection and order happen once, at the output
    val fixtures = Bronze.dir(spark, ChainQueries.FixDir)
    val all = Freeze.BuildOptions(columns = Some(Seq("all")))
    val suffixes = U256.allReprs.map("_" + _.suffix)
    for ((dataset, entry) <- Freeze.catalog.toSeq.sortBy(_._1)) {
      val ds = Datatypes(dataset)
      val df = entry.build(all)(fixtures)
      // a u256 family collapses to its declared column
      val emitted = df.columns.toSeq.map(c =>
        ds.u256Columns.find(u => suffixes.exists(u + _ == c)).getOrElse(c)).distinct
      assert(emitted == ds.columnNames, dataset)
      val sorts = df.queryExecution.analyzed.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
      }
      assert(sorts.isEmpty, s"$dataset builds a sort")
    }
    // the outputs sort whole over bronze of several part files: an
    // in-memory collect and a --txs file
    val sf = "fixtures/chain_sf0.1"
    def assertSorted(dataset: String, df: DataFrame): Unit = {
      val keys = TableSchema.defaultSort(Datatypes(dataset)).map(col)
      val rows = df.select(keys: _*).collect().toSeq
      assert(rows.size > 1, dataset)
      assert(rows == df.select(keys: _*).orderBy(keys: _*).collect().toSeq,
        s"$dataset is not sorted by $keys")
    }
    for (dataset <- Seq("logs", "transactions", "traces"))
      assertSorted(dataset, Cli.collectDf(Array(dataset, "--source-dir", sf,
        "--blocks", "1000:7000"), spark))
    val hashes = spark.read.parquet(s"$sf/rpc_transactions.parquet")
      .select("transaction_hash").orderBy("transaction_hash").limit(300).collect()
      .map(r => "0x" + r.getAs[Array[Byte]](0).map("%02x".format(_)).mkString)
    val out = java.nio.file.Files.createTempDirectory("graft_txs_sorted").toString
    val r = Cli.run(Array("transactions", "logs", "--source-dir", sf,
      "--output-dir", out, "--txs") ++ hashes, spark).get
    assert(r.completed.size == 2)
    for (path <- r.completed)
      assertSorted(if (path.contains("__logs__")) "logs" else "transactions",
        spark.read.parquet(path))
  }
}
