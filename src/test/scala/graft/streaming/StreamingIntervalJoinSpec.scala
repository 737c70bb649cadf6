package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Stream-stream interval join == the batch equi+theta join on the
  * same data: every (event, state) pair with matching key and the
  * event inside [state_ts, state_ts + horizon] emits exactly once,
  * across micro-batch splits of both sides.
  */
class StreamingIntervalJoinSpec extends SparkSuite {
  test("replayed two-sided micro-batches reproduce the batch join") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = 1704067200000L // 2024-01-01 UTC, millis
    val rnd = new scala.util.Random(61)
    // events and state rows over ~2 hours, 6 users; horizon 30 min
    val events = (1 to 300).map { i =>
      (i.toLong, (i % 6).toLong,
        new Timestamp(base + rnd.nextInt(7200) * 1000L))
    }.sortBy(_._3.getTime)
    val states = (1 to 40).map { i =>
      (1000L + i, (i % 6).toLong,
        new Timestamp(base + rnd.nextInt(7200) * 1000L))
    }.sortBy(_._3.getTime)

    val lIn = MemoryStream[(Long, Long, Timestamp)]
    val rIn = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamingStructure.intervalJoinStream(
      lIn.toDF().toDF("event_id", "user_id", "ts"),
      rIn.toDF().toDF("state_id", "user_id", "ts"),
      "user_id", "ts", horizon = "30 minutes")
    val query = joined.writeStream.format("memory")
      .queryName("ij").outputMode("append").start()
    try {
      // interleaved, roughly time-ordered feeds
      rIn.addData(states.slice(0, 15))
      lIn.addData(events.slice(0, 80))
      query.processAllAvailable()
      rIn.addData(states.slice(15, 40))
      lIn.addData(events.slice(80, 220))
      query.processAllAvailable()
      lIn.addData(events.slice(220, 300))
      query.processAllAvailable()
      val streamed = s.table("ij")
        .select("event_id", "state_id_r").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val batch = events.toDF("event_id", "user_id", "ts")
        .join(states.toDF("state_id", "user_id2", "ts2"),
          expr("user_id = user_id2 AND ts >= ts2 AND " +
            "ts <= ts2 + interval 30 minutes"))
        .select("event_id", "state_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally query.stop()
  }
}
