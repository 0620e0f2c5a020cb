package graft.perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one timed call, filled by [[Tracer]]. */
final class Ledger {
  var jobs = 0L
  var taskS = 0.0
  var scanBytes = 0L
  var scanRows = 0L
  var shuffleBytes = 0L
  var maxTaskShuffleRows = 0L
  var planS = 0.0
  var execS = 0.0
  var writeBytes = 0L
  var filesWritten = 0L
}

/** The traced run's probe: one SparkListener (jobs, task time, scan,
  * shuffle, bytes written, the largest task's shuffle rows) and one
  * QueryExecutionListener (analysis + optimization + planning time from
  * `QueryExecution.tracker`, execution time, files written).
  * Registered from benchmark code only; the program is not modified.
  * [[begin]]/[[end]] bracket one call: each drains the listener bus so
  * every event lands in the call that caused it, and sets the call's
  * job group. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var cur = new Ledger
  private val sc = spark.sparkContext

  sc.addSparkListener(this)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { cur.jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      cur.taskS += m.executorRunTime / 1e3
      cur.scanBytes += m.inputMetrics.bytesRead
      cur.scanRows += m.inputMetrics.recordsRead
      cur.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      cur.maxTaskShuffleRows =
        math.max(cur.maxTaskShuffleRows, m.shuffleReadMetrics.recordsRead)
      cur.writeBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    var files = 0L
    qe.executedPlan.foreach(_.metrics.get("numFiles").foreach(files += _.value))
    synchronized {
      cur.planS += planMs / 1e3
      cur.execS += durationNs / 1e9
      cur.filesWritten += files
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Seconds the caller spent waiting on bus drains: the tracer's own
    * cost on the call path. */
  var drainS = 0.0

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    PerfbenchBus.drain(sc)
    drainS += (System.nanoTime() - t0) / 1e9
  }

  def begin(group: String): Unit = {
    drain()
    synchronized { cur = new Ledger }
    sc.setJobGroup(group, group)
  }

  def end(): Ledger = {
    drain()
    sc.clearJobGroup()
    synchronized { val l = cur; cur = new Ledger; l }
  }
}

/** In-memory spans (name, start, end, parent, run id), written once at
  * exit. Times are nanoseconds since the harness started. */
final class Spans(runId: String) {
  private final case class Span(id: Int, name: String, parent: Int,
      start: Long, var end: Long)
  private val t0 = System.nanoTime()
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[A](name: String)(f: => A): A = {
    val s = Span(all.size, name, open.headOption.getOrElse(-1),
      System.nanoTime() - t0, -1L)
    all += s
    open = s.id :: open
    try f
    finally {
      s.end = System.nanoTime() - t0
      open = open.tail
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"run":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}

object Json {
  def str(s: String): String = graft.Json.str(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
