package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite

/** Streamed phrase watch == batch phrase search on any replay
  * split: per-document positions are stateless, the census is exact
  * incremental aggregation state (one row per group).
  */
class StreamingPhraseSpec extends SparkSuite {
  test("replayed micro-batches reproduce the batch phrase census") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val phrase = Seq("data", "pipeline")
    val corpus = (1 to 400).map { i =>
      val g = s"src${i % 3}"
      val text = i % 5 match {
        case 0 => "the data pipeline runs the data pipeline twice"
        case 1 => "a data pipeline appears once here"
        case 2 => "pipeline data is reversed so it must not match"
        case _ => "no phrase at all in this row of filler words"
      }
      (g, text)
    }
    val input = MemoryStream[(String, String)]
    val watch = StreamingStructure.phraseWatch(
      input.toDF().toDF("source", "text"), "source", "text", phrase)
    val query = watch.writeStream.format("memory")
      .queryName("pwatch").outputMode("complete").start()
    try {
      corpus.grouped(90).foreach { chunk =>
        input.addData(chunk); query.processAllAvailable()
      }
      val streamed = s.sql(
          "SELECT group, n_docs, n_occ FROM pwatch")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2))).toSet
      val batch = StreamingStructure.phraseWatch(
          corpus.toDF("source", "text"), "source", "text", phrase)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2))).toSet
      assert(streamed == batch)
      // non-vacuous: the two matching shapes really occur and the
      // reversed phrase really does not count
      assert(batch.exists(_._3 > 0))
      val total = batch.toList.map(_._3).sum
      val expected = corpus.count(_._2.contains("data pipeline")) +
        corpus.count(
          _._2 == "the data pipeline runs the data pipeline twice")
      assert(total == expected)
    } finally query.stop()
  }
}
