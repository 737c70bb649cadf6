package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite

/** Streaming mixture monitor == batch IPF census once the whole
  * corpus has streamed through, for any replay split: the cells are
  * exact incremental aggregation state and the per-batch solve is
  * the identical integer raking.
  */
class StreamingMixingSpec extends SparkSuite {
  test("the final streamed census equals the batch solve") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val corpus = (1 to 500).map { i =>
      val lang = Seq("en", "en", "en", "de", "fr")(i % 5)
      val src = Seq("web", "book")(i % 2)
      (s"d$i", lang, src)
    }
    val input = MemoryStream[(String, String, String)]
    @volatile var last: Array[(String, Long, Long, Long)] = Array.empty
    val query = StreamingStructure.mixtureCensusStream(
      input.toDF().toDF("doc_id", "lang", "source"), "lang",
      "source", onUpdate = rows => last = rows.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    try {
      corpus.grouped(120).foreach { chunk =>
        input.addData(chunk); query.processAllAvailable()
      }
      val batch = graft.operators.Mixing.rakeRowCensus(
          corpus.toDF("doc_id", "lang", "source"), col("lang"),
          col("source"))
        .orderBy(col("row_key").asc_nulls_first)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3)))
      assert(last.toList == batch.toList)
      assert(batch.nonEmpty && batch.map(_._2).sum == 500L)
    } finally query.stop()
  }
}
