package graft

import org.apache.spark.sql.SparkSession

/** The one way a main builds its SparkSession: `local[cpus]` with as
  * many shuffle partitions, the session time zone pinned to UTC (an
  * answer must not depend on the host's zone: `date_trunc("hour")`
  * under Asia/Kolkata cuts at :30 UTC), no UI, WARN logging. `cpus` is
  * SPARK_GRAFT_CPUS when set, else the JVM's available processors. */
object GraftSession {
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
