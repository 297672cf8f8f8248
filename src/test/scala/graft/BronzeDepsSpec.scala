package graft

import graft.chain.{Bronze, Datatypes, Freeze, TableSchema}
import graft.queries.ChainQueries
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

  test("every builder sorts by its dataset's default sort") {
    // a freeze sorts each file by TableSchema.defaultSort, so a builder
    // that ends on other keys would write rows in another order than its
    // in-memory frame
    val fixtures = Bronze.dir(spark, ChainQueries.FixDir)
    for (dataset <- Freeze.catalog.keys.toSeq.sorted) {
      val plan = Freeze.builder(dataset)(fixtures).queryExecution.analyzed
      val keys = plan match {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
          s.order.map(_.child.references.head.name)
        case other => fail(s"$dataset ends on ${other.nodeName}, not a sort")
      }
      assert(keys == TableSchema.defaultSort(Datatypes(dataset)), dataset)
    }
  }
}
