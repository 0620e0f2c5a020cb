package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify, Bench, tests, and any
  * embedding application agree on semantics-critical settings.
  *
  * - `spark.sql.legacy.parquet.nanosAsLong`: the driver testdata's
  *   `events.ts` is parquet INT64 TIMESTAMP(NANOS) which Spark cannot read
  *   natively; with this flag it surfaces as epoch-nanos LongType and
  *   [[Tables.events]] converts to a microsecond TimestampType.
  * - UTC session timezone: every oracle comparison depends on it.
  * - AQE on with a modest advisory size: at 100 TB AQE coalesces shuffle
  *   partitions and re-plans skew joins; at test scale it keeps tiny
  *   shuffles from fragmenting into thousands of empty tasks.
  * - `fs.file.impl`: [[graft.io.NioLocalFileSystem]], Hadoop's local
  *   filesystem with permissions set through NIO instead of a forked
  *   `chmod` per created file and directory.
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)

  /** Local session sized from SPARK_GRAFT_CPUS (driver contract). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
