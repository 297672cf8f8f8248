package graft

import java.nio.file.{Files, Path, Paths}

import graft.chain.{Datatypes, Freeze, LakeFs}
import graft.queries.ChainQueries
import org.scalatest.funsuite.AnyFunSuite

/** Each `Freeze.catalog` entry declares the bronze tables its builder
  * reads: live extraction fetches exactly those, and a multi bundle
  * persists their union. A builder that reads a bronze its entry leaves
  * out would fail on every live freeze, so each entry is built from a
  * directory holding only its declared bronzes. */
class BronzeDepsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def copyTree(from: Path, to: Path): Unit = {
    val files = Files.walk(from)
    try files.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally files.close()
  }

  test("the catalog has one entry per dataset and per multi member") {
    assert(Freeze.catalog.keySet == Datatypes.canonicalNames,
      Freeze.catalog.keySet diff Datatypes.canonicalNames)
    val members = Datatypes.multis.values.flatten.toSet
    assert(members.subsetOf(Freeze.catalog.keySet), members -- Freeze.catalog.keySet)
  }

  test("every catalog entry builds from its declared bronzes alone") {
    val root = Files.createTempDirectory("graft_bronze_deps")
    try {
      for ((dataset, entry) <- Freeze.catalog.toSeq.sortBy(_._1)) {
        val bronzes = entry.bronze(Freeze.BuildOptions())
        val dir = root.resolve(dataset)
        Files.createDirectories(dir)
        bronzes.foreach { b =>
          copyTree(Paths.get(ChainQueries.FixDir, s"$b.parquet"),
            dir.resolve(s"$b.parquet"))
        }
        withClue(s"$dataset from ${bronzes.toSeq.sorted.mkString(", ")}: ") {
          entry.build(Freeze.BuildOptions())(spark, dir.toString)
            .write.format("noop").mode("overwrite").save()
        }
      }
    } finally LakeFs.deleteTree(root.toString)
  }
}
