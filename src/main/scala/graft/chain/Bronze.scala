package graft.chain

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bronze tables a dataset builder reads (`rpc_blocks`, …) by name:
  * a directory of parquet tables, or frames fetched from a node and held
  * in Spark's cache — cryo's "one extraction DataFrame cached + N
  * projections written". Release it once the frames built on it are done. */
final class Bronze private (table: String => DataFrame, onRelease: () => Unit) {
  def apply(name: String): DataFrame = table(name)
  def release(): Unit = onRelease()
}

object Bronze {
  /** lazy parquet reads of `$path/<name>.parquet`; nothing to release */
  def dir(spark: SparkSession, path: String): Bronze =
    new Bronze(name => spark.read.parquet(s"$path/$name.parquet"), () => ())

  /** `dir` holding only `blocks`: every table with a `block_number`
    * is filtered by them (Catalyst pushes the filter into the parquet
    * scan); `rpc_receipts`, keyed by transaction, is read whole */
  def dir(spark: SparkSession, path: String, blocks: BlockSyntax.Blocks): Bronze = {
    val all = dir(spark, path)
    new Bronze(name => {
      val df = all(name)
      if (df.columns.contains("block_number")) Freeze.filterBlocks(df, blocks) else df
    }, () => ())
  }

  /** Persists every frame and materializes each once before it returns,
    * so whatever computes them (a node fetch) runs here and never again
    * while the frames are held. `release()` unpersists them. A table it
    * does not hold fails by name. */
  def persisted(frames: Map[String, DataFrame]): Bronze = {
    def release(): Unit = frames.values.foreach(_.unpersist())
    frames.values.foreach(_.persist())
    try frames.values.foreach(_.count())
    catch { case e: Throwable => release(); throw e }
    new Bronze(name => frames.getOrElse(name, throw new NoSuchElementException(
      s"bronze table $name is not held (held: ${frames.keys.toSeq.sorted.mkString(", ")})")),
      () => release())
  }
}
