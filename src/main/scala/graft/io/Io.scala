package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

/** The engine's one parquet read. `read.parquet(path)` without a schema
  * infers it through a one-task Spark job that reads a single footer —
  * a fixed cost paid on every artifact read-back and every small append
  * batch. Here the driver reads that footer itself, with Spark's own
  * footer and schema code ([[GraftParquetBridge]]), and hands the
  * schema to `read.schema(...)`, so the read launches no job.
  *
  * The file is the one inference would pick: the path sorted, hidden
  * names skipped as the file index skips them, `_common_metadata` then
  * `_metadata` then the first data file. Anything inference does beyond
  * one footer goes through plain `read.parquet` unchanged — a missing
  * path (same error), a partitioned tree (`ivf/cells`, `gcache/cache`:
  * partition columns are discovered exactly as before), or a directory
  * with no data file. */
object Io {
  def parquet(s: SparkSession, path: String): DataFrame =
    dataSchema(s, path) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None => s.read.parquet(path)
    }

  /** The schema inference would give `path`, when one footer decides it. */
  private[graft] def dataSchema(s: SparkSession, path: String): Option[StructType] = {
    val conf = GraftParquetBridge.hadoopConf(s)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val leaves: Seq[FileStatus] =
      try {
        val st = fs.getFileStatus(p)
        if (st.isDirectory)
          fs.listStatus(p).toSeq.filterNot(f => GraftParquetBridge.hiddenName(f.getPath.getName))
        else Seq(st)
      } catch { case _: FileNotFoundException => return None }
    if (leaves.exists(_.isDirectory)) return None
    val sorted = leaves.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata")).orElse(sorted.headOption)
      .flatMap(GraftParquetBridge.footerSchema(s, conf, _))
  }
}
