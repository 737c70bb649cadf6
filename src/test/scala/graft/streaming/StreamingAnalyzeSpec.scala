package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.analyzer.SparkAnalyzer
import graft.SparkSuite

/** Streamed structure inference == batch structure inference: the
  * micro-batch fold through the merge monoid must reproduce the
  * whole-corpus analysis — same render, any replay split (the q70
  * exact-merge contract, now over the streaming harness).
  */
class StreamingAnalyzeSpec extends SparkSuite {
  test("replayed micro-batches reproduce the batch analysis render") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val rows = (1 to 300).map { i =>
      (i.toLong, s"user$i", if (i % 3 == 0) "true" else "false",
        (i * 37 % 1000).toString)
    }
    val input = MemoryStream[(Long, String, String, String)]
    @volatile var last: Option[graft.core.SType] = None
    val query = StreamingStructure.analyzeStream(
      input.toDF().toDF("id", "name", "flag", "amount"),
      onUpdate = t => last = Some(t))
    try {
      input.addData(rows.slice(0, 40))
      query.processAllAvailable()
      input.addData(rows.slice(40, 170))
      query.processAllAvailable()
      input.addData(rows.slice(170, 300))
      query.processAllAvailable()
    } finally query.stop()
    val streamedRender = last.get.render
    val batchRender = new SparkAnalyzer()
      .analyzeTable(rows.toDF("id", "name", "flag", "amount"))
      .render
    assert(streamedRender === batchRender)
  }
}
