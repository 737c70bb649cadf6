package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Streamed Count-Min table == batch table on any replay split: the
  * per-item bucket fan-out is stateless and the counters are exact
  * incremental sums, so the sketch over an unbounded ingest carries
  * O(groups x d x w) state and never drifts from batch.
  */
class StreamingCountMinSpec extends SparkSuite {
  test("replayed micro-batches reproduce the batch counter table") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rnd = new scala.util.Random(9)
    val data = (1 to 1200).map { i =>
      (s"g${i % 3}", if (rnd.nextInt(10) < 3) "hot"
        else s"t${rnd.nextInt(200)}")
    }
    val input = MemoryStream[(String, String)]
    val cm = graft.operators.Sketches.countMinTable(
      input.toDF().toDF("g", "item"), col("g"), col("item"),
      w = 32, d = 3)
    val query = cm.writeStream.format("memory").queryName("cmstream")
      .outputMode("complete").start()
    try {
      input.addData(data.slice(0, 300))
      query.processAllAvailable()
      input.addData(data.slice(300, 1200))
      query.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)
      val streamed = s.table("cmstream").collect().map(key).toMap
      val batch = graft.operators.Sketches.countMinTable(
          data.toDF("g", "item"), col("g"), col("item"),
          w = 32, d = 3)
        .collect().map(key).toMap
      assert(streamed === batch)
    } finally query.stop()
  }
}
