package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the program's public calls. A span's self time
  * is its wall time minus that of its direct children. With tracing off
  * `span` only runs the body. */
final class Spans(enabled: Boolean, runId: String) {
  import Spans.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = synchronized(stack.headOption.map(_._1).getOrElse(0))
      synchronized(stack.push((id, name, System.nanoTime())))
      try body
      finally synchronized {
        val (_, _, start) = stack.pop()
        done += Span(id, name, parent, start, System.nanoTime())
      }
    }

  def selfSeconds: Map[String, Double] = synchronized {
    val childTime = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childTime.getOrElse(s.id, 0L)).sum / 1e9 }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val lines = done.sortBy(_.start).map { s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)
}

/** Spark's own task, job, SQL and streaming metrics, attributed to the
  * job group that was set when each job started. Streaming micro-batch
  * jobs run under the query's run id and count as `streaming`. */
final class SparkMetrics(spark: SparkSession) {
  final class Totals {
    var jobs = 0L
    var tasks = 0L
    var taskNanos = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
    var sqlExecutions = 0L
    var sqlNanos = 0L
  }

  private val byGroup = new ConcurrentHashMap[String, Totals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val streamingRunIds = ConcurrentHashMap.newKeySet[String]()
  val batchMillis = mutable.ArrayBuffer.empty[Long]
  @volatile var currentGroup = "none"

  private def groupOf(raw: String): String =
    if (raw == null) "none"
    else if (streamingRunIds.contains(raw)) "streaming"
    else raw

  private def totals(g: String): Totals = byGroup.computeIfAbsent(g, _ => new Totals)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull)
      e.stageIds.foreach(stageGroup.put(_, g))
      val t = totals(g)
      t.synchronized(t.jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = totals(stageGroup.getOrDefault(e.stageId, "none"))
        t.synchronized {
          t.tasks += 1
          t.taskNanos += m.executorRunTime * 1000000L
          t.gcMs += m.jvmGCTime
          t.inputBytes += m.inputMetrics.bytesRead
          t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val t = totals(currentGroup)
      t.synchronized { t.sqlExecutions += 1; t.sqlNanos += d }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    // delivered before the query's first job starts
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamingRunIds.add(e.runId.toString)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.batchDuration
      batchMillis.synchronized(batchMillis += d)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` under job group `g`, then waits for its events. */
  def inGroup[T](g: String)(body: => T): T = {
    val sc = spark.sparkContext
    currentGroup = g
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      drain()
      currentGroup = "none"
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def get(groups: String*): Totals = {
    val sum = new Totals
    groups.flatMap(g => Option(byGroup.get(g))).foreach { t =>
      t.synchronized {
        sum.jobs += t.jobs; sum.tasks += t.tasks; sum.taskNanos += t.taskNanos
        sum.gcMs += t.gcMs; sum.inputBytes += t.inputBytes
        sum.shuffleBytes += t.shuffleBytes; sum.spillBytes += t.spillBytes
        sum.outputBytes += t.outputBytes; sum.sqlExecutions += t.sqlExecutions
        sum.sqlNanos += t.sqlNanos
      }
    }
    sum
  }

  def all: Totals = get(byGroup.keys.asScala.toSeq: _*)
}
