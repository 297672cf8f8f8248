package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Order-insensitive content digests: a row count and the sum of the
  * rows' 64-bit hashes, so two outputs agree whatever their row order. */
object Check {
  final case class Digest(rows: Long, hash: String)

  /** digest of every chunk file written directly under `dir`, by name */
  def chunkDigests(spark: SparkSession, dir: String): Map[String, Digest] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.contains("__") && f.getName.endsWith(".parquet"))
    files.groupBy(_.getName.split("__")(1)).toSeq.flatMap { case (_, fs) =>
      val df = spark.read.parquet(fs.map(_.getPath).toSeq: _*)
      val got = df.select(input_file_name().as("f"),
          xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)").as("h"))
        .groupBy("f").agg(count(lit(1)), sum(col("h"))).collect().map { r =>
          new File(new java.net.URI(r.getString(0)).getPath).getName ->
            Digest(r.getLong(1), r.get(2).toString)
        }.toMap
      // a file with no rows has no group
      fs.map(f => f.getName -> got.getOrElse(f.getName, Digest(0, "0")))
    }.toMap
  }

  /** Reads `name` from the cache dir, or computes and stores it. The
    * cache dir is keyed by the program's sources, so an entry is always
    * the reference of the code under test. */
  def cached(cacheDir: String, name: String)(compute: => Map[String, Digest]): Map[String, Digest] = {
    val p = Paths.get(cacheDir, name + ".tsv")
    if (Files.exists(p))
      Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
        val Array(f, n, h) = l.split('\t')
        f -> Digest(n.toLong, h)
      }.toMap
    else {
      val m = compute
      Files.createDirectories(p.getParent)
      val tmp = Paths.get(cacheDir, name + ".tsv.tmp")
      Files.write(tmp, m.toSeq.sortBy(_._1)
        .map { case (f, d) => s"$f\t${d.rows}\t${d.hash}" }.asJava)
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      m
    }
  }

  /** files of `got` that are missing or differ from `want` */
  def mismatches(want: Map[String, Digest], got: Map[String, Digest]): Seq[String] =
    want.keys.toSeq.sorted.filter(k => !got.get(k).contains(want(k))) ++
      got.keys.toSeq.sorted.filterNot(want.contains)
}
