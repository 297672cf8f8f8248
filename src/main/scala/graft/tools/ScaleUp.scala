package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-schema corpus scale-up by replication with key translation
  * (round-9 brief item 3: a true-sf1 run of the WHOLE suite, not just
  * the top-5 heavy hitters ScaleGen covers).
  *
  * Every table of a source sf dir is replicated `m`× with surrogate
  * keys shifted per replica (newKey = oldKey + k·maxKey), so
  * cardinalities, join fan-outs and group counts all grow ×m while
  * per-key distributions stay EXACTLY the source's — the standard
  * scale-up construction for plan-shape benchmarking: a plan flip or a
  * super-linear runtime at m=10 is attributable to data volume, not
  * generator drift. Dimension tables with fixed semantics (region,
  * nation) copy unchanged, and foreign keys into them stay put, so
  * broadcast-dimension joins keep their true 100 TB shape (the dims do
  * NOT grow with the fact data).
  *
  * Content columns that feed dedup/similarity get a per-replica
  * deterministic perturbation (a replica token appended to doc text, a
  * unit offset on one embedding dimension) so cross-replica rows are
  * NOT planted duplicates: the dup/near-dup rate stays the source's
  * intra-replica rate instead of every row acquiring m−1 exact twins —
  * replication without this would change the dedup workload's
  * complexity class, not just its size.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <m>
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleUp <srcDir> <outDir> <m>")
    val spark = graft.GraftSession()
    generate(spark, args(0), args(1), args(2).toInt)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String, m: Int): Unit = {
    def rd(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def wr(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    // stride = max + 1: source keys are 0-based, so a stride of plain
    // `max` collides replica k's key `max` with replica k+1's key `0`
    // (ScaleUpSpec caught exactly this — 448 distinct keys out of 450)
    // and quietly merges rows across replicas
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0) + 1L

    /** replicate m× with per-replica key shifts; `shift` maps column →
      * its key-space stride. One explode, no m-way union. The output
      * repartitions to `nOut` files so the scaled corpus is SPLITTABLE:
      * the source sf dirs are single-row-group files (fine at their
      * size), and replicating one into a single 10× row group would
      * serialize every compute-heavy scan onto one core — the first
      * sweep showed exactly that (per-row queries at ×15-40 instead of
      * ~×10, all parallelism lost at the scan). A real sf1 corpus
      * arrives as many files; the generator must too. */
    def scale(df: DataFrame, shift: Map[String, Long],
        mutate: Map[String, org.apache.spark.sql.Column] = Map.empty,
        nOut: Int = 32): DataFrame = {
      val rep = df.withColumn("__k",
        explode(lit((0 until m).toArray))).withColumn("__kl",
        col("__k").cast("long"))
      val cols = df.columns.map { c =>
        shift.get(c) match {
          case Some(stride) => (col(c) + col("__kl") * stride).as(c)
          case None => mutate.getOrElse(c, col(c)).as(c)
        }
      }
      rep.select(cols.toSeq: _*).repartition(nOut)
    }

    val customer = rd("customer"); val supplier = rd("supplier")
    val part = rd("part"); val orders = rd("orders")
    val lineitem = rd("lineitem"); val events = rd("events")
    val docs = rd("documents"); val vecs = rd("embeddings")

    val mCust = maxOf(customer, "c_custkey")
    val mSupp = maxOf(supplier, "s_suppkey")
    val mPart = maxOf(part, "p_partkey")
    val mOrd = maxOf(orders, "o_orderkey")
    val mEvt = maxOf(events, "event_id")
    val mUser = maxOf(events, "user_id")
    val mDoc = maxOf(docs, "doc_id")
    val mVec = maxOf(vecs, "vec_id")

    // fixed dimensions copy unchanged (they do not grow with the data)
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    wr(scale(customer, Map("c_custkey" -> mCust)), "customer")
    wr(scale(supplier, Map("s_suppkey" -> mSupp)), "supplier")
    wr(scale(part, Map("p_partkey" -> mPart)), "part")
    wr(scale(orders, Map("o_orderkey" -> mOrd, "o_custkey" -> mCust)),
      "orders")
    wr(scale(lineitem, Map("l_orderkey" -> mOrd, "l_partkey" -> mPart,
      "l_suppkey" -> mSupp)), "lineitem")
    wr(scale(events, Map("event_id" -> mEvt, "user_id" -> mUser)), "events")

    // documents: per-replica token suffix keeps cross-replica texts
    // distinct (see scaladoc); n_chars tracks the new length
    val newText = when(col("__k") === 0, col("text"))
      .otherwise(concat(col("text"), lit(" rep"), col("__k")))
    wr(scale(docs, Map("doc_id" -> mDoc),
        mutate = Map(
          "text" -> newText,
          "n_chars" -> length(newText).cast("long"))),
      "documents")

    // embeddings: replica k>0 shifts dimension (k-1) mod dim by an
    // offset that GROWS once k wraps past the dimensionality — replicas
    // land in disjoint regions at ANY multiplier (a bare `i = k-1`
    // silently no-opped for k > dim, handing those replicas exact twin
    // vectors and changing the near-dup workload's complexity class)
    wr(scale(vecs, Map("vec_id" -> mVec),
        mutate = Map("embedding" -> expr(
          "transform(embedding, (x, i) -> " +
            "CASE WHEN __k > 0 AND i = (__k - 1) % size(embedding) " +
            "THEN x + CAST(1 + ((__k - 1) DIV size(embedding)) AS FLOAT) " +
            "ELSE x END)"))),
      "embeddings")
  }
}
