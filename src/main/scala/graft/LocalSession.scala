package graft

import org.apache.spark.sql.SparkSession

/** The one place this project configures a SparkSession: a local
  * master of `cpus` threads with as many shuffle partitions, UTC
  * session time, no UI, and TIMESTAMP(NANOS) parquet read as long
  * nanoseconds since the epoch (the sf tables have shipped
  * `events.ts` in that dtype, which Spark rejects by default).
  * Callers add their own settings to the returned builder before
  * `getOrCreate()`.
  */
object LocalSession {
  def apply(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
