package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.io.Io

/** Lifecycle helpers for iterative-loop checkpoints.
  *
  * `Dataset.localCheckpoint()` truncates lineage by pinning the
  * materialized rows in the BlockManager — but `Dataset.unpersist` does
  * NOT release that pin (it only touches the `cache()` manager), so an
  * iterative loop that checkpoints per round leaks one corpus-sized
  * block per iteration and degrades every query that runs after it in
  * the same session. These helpers expose the pinned RDD behind an
  * eager local checkpoint so loops can release superseded rounds, and a
  * parquet materializer for results that must OUTLIVE the loop (a pinned
  * block released before its consumer's action would make tasks fail;
  * a written table has no such lifetime coupling — at 100 TB it is also
  * simply where an index/label table belongs).
  */
object Checkpoints {

  /** Eagerly checkpoint `df`, returning the truncated-lineage frame AND
    * the BlockManager-pinned RDD backing it, for later [[release]]. */
  def pin(df: DataFrame): (DataFrame, RDD[_]) = {
    val out = df.localCheckpoint()
    (out, rddOf(out))
  }

  /** The pinned RDD behind an eagerly checkpointed DataFrame. */
  def rddOf(checkpointed: DataFrame): RDD[_] =
    checkpointed.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.rdd
    }.getOrElse(throw new IllegalArgumentException(
      "not an eagerly checkpointed DataFrame: " +
        checkpointed.queryExecution.analyzed.nodeName))

  /** Drop a pinned checkpoint block (async — callers never need the
    * blocking form; the block is dead weight, not a correctness pin). */
  def release(rdd: RDD[_]): Unit = { rdd.unpersist(blocking = false); () }

  /** Replace lineage with a parquet round-trip: the frame's rows land in
    * a temp table and the returned frame scans it. Unlike a checkpoint
    * pin this survives arbitrarily long (no BlockManager residency), so
    * it is the right terminal step for an iterative loop whose result
    * feeds later queries. Longs/doubles/float-arrays round-trip exactly
    * through parquet, so hashes are unaffected. */
  def materialize(df: DataFrame, prefix: String = "graft-mat"): DataFrame = {
    val dir = scopedTempDir(prefix).toString
    df.write.mode("overwrite").parquet(dir)
    Io.parquet(df.sparkSession, dir)
  }

  /** Temp table directory that is removed at JVM exit: repeated loop
    * materializations / index builds must not accumulate dead parquet
    * under the system temp dir beyond the session. ONE static hook
    * drains the registry — a hook Thread per directory would pile up
    * unboundedly in loop-heavy sessions and all start concurrently at
    * exit. */
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val cleanupHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles()
        if (kids != null) kids.foreach(rm)
        p.delete()
        ()
      }
      var d = tempDirs.poll()
      while (d != null) {
        rm(d.toFile)
        d = tempDirs.poll()
      }
    }))
  }

  private[graft] def scopedTempDir(prefix: String): java.nio.file.Path = {
    cleanupHook
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }
}
