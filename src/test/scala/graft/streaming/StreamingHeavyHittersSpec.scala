package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.SpaceSavingAgg
import graft.SparkSuite

/** Streamed SpaceSaving == batch SpaceSaving in the exact regime
  * (distinct items per group ≤ k): the sketch state is a mergeable
  * monoid, so any replay split of the stream must land on the same
  * counts the one-shot batch aggregation produces.
  */
class StreamingHeavyHittersSpec extends SparkSuite {
  test("replayed micro-batches reproduce the batch sketch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rnd = new scala.util.Random(41)
    val stream = (1 to 1200).map { i =>
      val g = if (i % 4 == 0) "g2" else "g1"
      (g, s"item${rnd.nextInt(20)}") // 20 distinct < k = 32: exact
    }
    val input = MemoryStream[(String, String)]
    val hh = StreamingStructure.heavyHittersStream(
      input.toDF().toDF("source", "tok"), "source", "tok", k = 32)
    val query = hh.writeStream.format("memory")
      .queryName("hh").outputMode("complete").start()
    try {
      input.addData(stream.slice(0, 77))
      query.processAllAvailable()
      input.addData(stream.slice(77, 700))
      query.processAllAvailable()
      input.addData(stream.slice(700, 1200))
      query.processAllAvailable()
      val streamed = s.table("hh")
        .selectExpr("group", "explode(hh) AS (item, est)")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val batch = stream.toDF("group", "item")
        .groupBy("group")
        .agg(SpaceSavingAgg.spaceSaving(col("item"), 32).as("hh"))
        .selectExpr("group", "explode(hh) AS (item, est)")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamed === batch)
      // and both equal the true counts (exact regime)
      val truth = stream.groupBy(identity).map { case ((g, i), v) =>
        (g, i) -> v.size.toLong }
      assert(batch === truth)
    } finally query.stop()
  }
}
