package graft

import java.util.TimeZone

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("hour buckets do not depend on the host zone: GraftSession pins UTC") {
    val tz = "spark.sql.session.timeZone"
    def hourly(s: SparkSession) =
      SparkEntry.queries("q_events_hourly")(s, sf).collect().toSet
    val utc = hourly(spark)
    // a session with no zone from the launcher: the build's javaOptions
    // pass -Dspark.sql.session.timeZone=UTC, which every newSession()
    // inherits, so clear it
    def unpinned(): SparkSession = {
      val s = spark.newSession()
      s.conf.unset(tz)
      s
    }
    val hostZone = TimeZone.getDefault
    val active = SparkSession.getActiveSession
    TimeZone.setDefault(TimeZone.getTimeZone("Asia/Kolkata"))
    try {
      // control: left unpinned, the session follows the JVM zone and
      // Kolkata's :30 offset moves every hour bucket
      val control = unpinned()
      assert(control.conf.get(tz) == "Asia/Kolkata")
      assert(hourly(control).intersect(utc).isEmpty)
      // GraftSession's builder configures the thread's active session
      val fresh = unpinned()
      SparkSession.setActiveSession(fresh)
      val pinned = GraftSession(4)
      assert(pinned eq fresh)
      assert(pinned.conf.get(tz) == "UTC")
      assert(hourly(pinned) == utc)
    } finally {
      TimeZone.setDefault(hostZone)
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }
}
