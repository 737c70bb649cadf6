package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Temporal
import graft.SparkSuite

/** Streaming burst watch == the batch rule on in-order replay: daily
  * counts streamed in day order produce the same verdicts as
  * Temporal.burstDays, the trailing state stays bounded, and
  * verdicts survive a split across micro-batches.
  */
class StreamingBurstSpec extends SparkSuite {
  // api: flat 10/day then a 5x spike on day 8, recovery on day 9;
  // web: flat forever
  private val daily: Seq[(String, Long, Long)] =
    ((1L to 7L).map(d => ("api", d, 10L)) :+ (("api", 8L, 50L)) :+
      (("api", 9L, 10L))) ++ (1L to 9L).map(d => ("web", d, 20L))

  test("streamed verdicts match the batch rule across a batch split") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      s.sqlContext

    // batch truth over the same daily counts (expand counts to rows)
    val rows = daily.flatMap { case (k, d, n) =>
      (0L until n).map(_ => (k, d)) }
    val batch = Temporal.burstDays(rows.toDF("k", "d"),
        col("k"), col("d"), windowDays = 7, num = 2L, den = 1L,
        minHistory = 3)
      .select("key", "day", "burst").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(2))
      .toMap

    val input = MemoryStream[(String, Long, Long)]
    val watched = StreamingStructure.burstWatch(s, input.toDS(),
      windowDays = 7, num = 2L, den = 1L, minHistory = 3)
    val query = watched.toDF().writeStream.format("memory")
      .queryName("bwatch").outputMode("append").start()
    try {
      // split mid-history: state must carry across micro-batches
      val (first, rest) = daily.sortBy(r => (r._1, r._2)).splitAt(6)
      input.addData(first)
      query.processAllAvailable()
      input.addData(rest)
      query.processAllAvailable()
      val streamed = s.table("bwatch").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("day")) ->
          r.getAs[Boolean]("burst")).toMap
      assert(streamed.size == daily.size)
      batch.foreach { case (kd, b) =>
        assert(streamed(kd) == b, s"$kd: batch=$b")
      }
      assert(streamed(("api", 8L)), "the spike must alarm")
      assert(streamed.count(_._2) == 1, "exactly one alarm")
    } finally query.stop()
  }

  test("state stays bounded at windowDays entries per key") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      s.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val watched = StreamingStructure.burstWatch(s, input.toDS(),
      windowDays = 3, num = 2L, den = 1L, minHistory = 2)
    val query = watched.toDF().writeStream.format("memory")
      .queryName("bwatch2").outputMode("append").start()
    try {
      // 50 flat days, then a spike: the trailing window must only
      // see the last 3 observed days (mean 10), so the spike alarms
      input.addData((1L to 50L).map(d => ("k", d, 10L)))
      query.processAllAvailable()
      input.addData(Seq(("k", 51L, 25L)))
      query.processAllAvailable()
      val streamed = s.table("bwatch2").collect()
        .map(r => r.getAs[Long]("day") ->
          (r.getAs[Long]("wCnt"), r.getAs[Boolean]("burst"))).toMap
      // window count latches at 3 regardless of 50 days of history
      assert(streamed(51L) == ((3L, true)))
      assert(streamed(50L)._1 == 3L)
    } finally query.stop()
  }
}
