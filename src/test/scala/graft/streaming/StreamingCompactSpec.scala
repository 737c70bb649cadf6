package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Temporal
import graft.SparkSuite

/** Streamed CDC compaction == batch compactLatest on any replay
  * split: the max(struct) state is a commutative monoid, so arrival
  * order and micro-batch boundaries cannot change the winner —
  * including tied timestamps, where the tiebreak decides.
  */
class StreamingCompactSpec extends SparkSuite {
  test("replayed micro-batches reproduce the batch snapshot") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rnd = new scala.util.Random(53)
    // deliberate ts ties (20 distinct ts over 400 changes)
    val changelog = (1 to 400).map { i =>
      (rnd.nextInt(30).toLong, rnd.nextInt(20).toLong, i.toLong,
        s"v$i")
    }
    val input = MemoryStream[(Long, Long, Long, String)]
    val snap = StreamingStructure.latestSnapshotStream(
      input.toDF().toDF("key", "ts", "change_id", "payload"),
      "key", "ts", "change_id")
    val query = snap.writeStream.format("memory")
      .queryName("snap").outputMode("complete").start()
    try {
      input.addData(changelog.slice(0, 13))
      query.processAllAvailable()
      input.addData(changelog.slice(13, 260))
      query.processAllAvailable()
      input.addData(changelog.slice(260, 400))
      query.processAllAvailable()
      val streamed = s.table("snap").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).sortBy(_._1).toSeq
      val batch = Temporal.compactLatest(
          changelog.toDF("key", "ts", "change_id", "payload"),
          "key", "ts", "change_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).sortBy(_._1).toSeq
      assert(streamed === batch)
    } finally query.stop()
  }
}
