package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.Io

/** Table loaders for the driver testdata (TESTDATA.md).
  *
  * Every query receives the scale-factor directory at call time; all reads
  * go through here so the engine has one place to attach source-level
  * options (and, at scale, a place to swap parquet for a catalog-backed
  * DataSource V2 — see SURVEY.md §4 #1).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Io.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` has shipped in two physical vintages, so the loader is
    * schema-adaptive rather than hard-coded to either:
    *
    *  - parquet INT64 TIMESTAMP(NANOS): Spark can't read it natively;
    *    Sessions sets `spark.sql.legacy.parquet.nanosAsLong` so it
    *    surfaces as epoch-nanos LongType, which we truncate to Spark's
    *    microsecond TimestampType. Integer `div` — a double division
    *    would lose precision above 2^53 ns (~1970+104 days).
    *  - plain `timestamp[us]` (TIMESTAMP_NTZ or TIMESTAMP depending on
    *    reader config): already microsecond precision; a UTC-session
    *    CAST to TimestampType is exact, and `ts_ns` is derived as
    *    `unix_micros * 1000` (no sub-microsecond bits exist to lose).
    *
    * Both branches yield the identical frame: (event_id, ts: TIMESTAMP,
    * ts_ns: BIGINT epoch-nanos, user_id, event_type, value, props).
    * DuckDB's `epoch_ns(ts)` on the oracle side adapts the same way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    val tsCols = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        Seq("timestamp_micros(ts div 1000) AS ts", "ts AS ts_ns")
      case _ => // TimestampType or TimestampNTZType
        Seq("CAST(ts AS TIMESTAMP) AS ts",
            "unix_micros(CAST(ts AS TIMESTAMP)) * 1000L AS ts_ns")
    }
    raw.selectExpr(
      Seq("event_id") ++ tsCols ++ Seq("user_id", "event_type", "value", "props"): _*)
  }

  /** Alternative cube source: a classic NetCDF-3 container (the format
    * the reference's whole toolchain exchanges) surfaced as the same
    * long-form cube relation the parquet path yields — see
    * [[graft.ops.Export.readNetcdf]] for the decode and its scale
    * notes. */
  def cubeFromNetcdf(s: SparkSession, path: String): DataFrame =
    graft.ops.Export.readNetcdf(s, path)
}
