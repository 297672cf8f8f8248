package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** Plan audit: runs each named query through the noop sink, the way
  * the harness times it, then prints its FINAL adaptive plan — AQE's
  * runtime decisions (reused exchanges, coalesced shuffle reads, join
  * swaps) beside each scan's PushedFilters and ReadSchema. Reads
  * SPARK_GRAFT_SF_DIR (default sf0.01):
  * `sbt "runMain graft.tools.Explain q5_local_supplier ..."`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession()
    // the write runs as its own command execution, whose executed plan
    // reaches a listener (asynchronously) once it has finished
    val plans = new LinkedBlockingQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (funcName == "overwrite") plans.put(qe.explainString(FormattedMode))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q5_local_supplier", "q1_pricing_summary", "q_doc_minhash_pairs",
      "q_embed_cosine_topk", "chain_transactions")
    names.foreach { n =>
      println(s"\n================ $n ================")
      val df = SparkEntry.queries(n)(spark, sfDir)
      plans.clear()
      df.write.format("noop").mode("overwrite").save()
      println(Option(plans.poll(60, TimeUnit.SECONDS))
        .getOrElse("(no final plan reported within 60 s)"))
    }
    spark.stop()
  }
}
