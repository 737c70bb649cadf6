package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The driver has shipped `events.ts` as both TIMESTAMP(NANOS)
  * (reads as long nanos under `nanosAsLong`) and timestamp[us]
  * (reads as TIMESTAMP_NTZ). The temporal query builders adapt to
  * the column's actual dtype — this spec pins that both
  * representations of the SAME logical data produce identical
  * results, so the next regeneration cannot silently break one path.
  */
class PipelineDtypeSpec extends SparkSuite {
  private val tmp = tempDir("graft_dtype").toString

  test("q34/q53/q55/q59 agree between long-nanos and " +
      "timestamp[us] (NTZ) events") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // a few users over a few days, sessions gapping past 30 min,
    // ~9% signups so q55/q59 have interval sides
    val rows = (1 to 500).map { i =>
      val user = (i % 7).toLong
      val tsUs = 1704067200000000L +
        rnd.nextInt(260000).toLong * 1000000L +
        rnd.nextInt(1000000).toLong
      val et = if (i % 11 == 0) "signup"
        else if (i % 5 == 0) "purchase" else "view"
      (i.toLong, tsUs, user, et, (i % 97) * 1.5)
    }
    val base = rows.toDF("event_id", "us", "user_id", "event_type",
      "value")
    val nsDir = s"$tmp/ns"
    val usDir = s"$tmp/us"
    base.select(col("event_id"), (col("us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")
    base.select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$usDir/events.parquet")
    assert(s.read.parquet(s"$usDir/events.parquet")
      .schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)

    for (q <- Seq("q34_nanos_range", "q53_sessionize",
        "q55_asof_bucketed", "q59_range_join", "q80_zorder_census",
        "q84_rolling_features", "q86_latest_snapshot",
        "q93_daily_distinct", "q94_funnel", "q95_retention",
        "q97_rollup", "q98_pivot",
        "q115_decayed_counts", "q116_sliding_active")) {
      val a = PipelineQueries.queries(q)(s, nsDir).collect()
        .map(_.toString).sorted.toSeq
      val b = PipelineQueries.queries(q)(s, usDir).collect()
        .map(_.toString).sorted.toSeq
      assert(a.nonEmpty, s"$q returned no rows")
      assert(a == b,
        s"$q diverges between ns-long and us-NTZ events")
    }
  }
}
