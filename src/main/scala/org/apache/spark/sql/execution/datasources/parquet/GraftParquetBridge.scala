package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's package-private parquet schema code so
  * [[graft.io.Io.parquet]] derives a table's data schema with exactly
  * the calls `read.parquet` inference makes, minus the one-task Spark
  * job inference wraps them in. Lives in this package solely for
  * access; contains no logic. */
object GraftParquetBridge {
  private def classic(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def hadoopConf(s: SparkSession): Configuration =
    classic(s).sessionState.newHadoopConf()

  /** Spark's schema of one footer (the session's binary/int96/NTZ/
    * nanos-as-long reading rules), read on the calling thread. None
    * when the footer is unreadable and corrupt files are ignored. */
  def footerSchema(s: SparkSession, conf: Configuration,
      file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file),
        classic(s).sessionState.conf.ignoreCorruptFiles), s)

  /** The file index's rule for names a listing skips (`_`/`.` prefixes
    * except the parquet summary files, `._COPYING_` suffixes). */
  def hiddenName(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
