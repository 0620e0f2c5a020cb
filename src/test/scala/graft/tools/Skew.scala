package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-task skew observability (VERDICT r15 #8): the largest
  * shuffle-read row count any task sees while a query runs — the
  * straggler number behind a skewed exchange. A keyed operator whose
  * hottest key grows super-linearly with the corpus shows up here as a
  * counter jump long before it is a wall-time mystery: ScaleProbe
  * prints it per window-heavy query (and for the key-skew corpus
  * shape, `skew` mode), and SkewSpec pins each measured query's spread
  * bound so a refactor that regresses an exchange to single-task
  * absorption fails CI.
  *
  * Scope note: the counter is per TASK, not per exchange — it is the
  * max over every shuffle the query runs, which is exactly the
  * straggler-facing quantity (whichever exchange is worst). Queries
  * must run serially while measuring; concurrent jobs would pollute
  * the maximum.
  */
object Skew {

  private final class MaxShuffleRowsListener extends SparkListener {
    val max = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        tasks.incrementAndGet()
        val r = m.shuffleReadMetrics.recordsRead
        var cur = max.get()
        while (r > cur && !max.compareAndSet(cur, r)) cur = max.get()
      }
    }
  }

  /** Run `f` and return the max shuffle-read records of any task it
    * scheduled. The listener bus is asynchronous, so after the action
    * returns this polls until the observed task count is stable for
    * two consecutive 100 ms windows before reading the maximum —
    * events trail the action by milliseconds, the double-window wait
    * bounds the race without reaching into Spark's private bus. */
  def maxTaskShuffleRows(s: SparkSession)(f: => Unit): Long = {
    val l = new MaxShuffleRowsListener
    s.sparkContext.addSparkListener(l)
    try {
      f
      var prev = -1L
      var stable = 0
      while (stable < 2) {
        val cur = l.tasks.get()
        if (cur == prev) stable += 1 else stable = 0
        prev = cur
        Thread.sleep(100)
      }
      l.max.get()
    } finally s.sparkContext.removeSparkListener(l)
  }
}
