package graft

import java.nio.file.{Files, Path, Paths}

import graft.chain.{Freeze, LakeFs}
import graft.queries.ChainQueries
import graft.sources.RpcSource
import org.scalatest.funsuite.AnyFunSuite

/** `RpcSource.bronzeDeps` is a second copy of which bronze tables each
  * ChainDatasets builder reads: live extraction fetches exactly those.
  * A builder that reads a bronze the map leaves out would fail on every
  * live freeze, so each wired dataset is built from a directory holding
  * only its declared bronzes. */
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

  test("every live-wired dataset builds from its declared bronzes alone") {
    val root = Files.createTempDirectory("graft_bronze_deps")
    try {
      assert(RpcSource.bronzeDeps.keySet.subsetOf(Freeze.allBuilders.keySet),
        RpcSource.bronzeDeps.keySet -- Freeze.allBuilders.keySet)
      for ((dataset, bronzes) <- RpcSource.bronzeDeps.toSeq.sortBy(_._1)) {
        val dir = root.resolve(dataset)
        Files.createDirectories(dir)
        bronzes.foreach { b =>
          copyTree(Paths.get(ChainQueries.FixDir, s"$b.parquet"),
            dir.resolve(s"$b.parquet"))
        }
        withClue(s"$dataset from ${bronzes.toSeq.sorted.mkString(", ")}: ") {
          Freeze.allBuilders(dataset)(spark, dir.toString)
            .write.format("noop").mode("overwrite").save()
        }
      }
    } finally LakeFs.deleteTree(root.toString)
  }
}
