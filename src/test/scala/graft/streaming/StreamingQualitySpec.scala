package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite

/** Streamed quality census == batch census on any replay split: the
  * per-document flags are stateless and the counts are exact
  * incremental aggregation state.
  */
class StreamingQualitySpec extends SparkSuite {
  test("replayed micro-batches reproduce the batch census") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val vocab = Seq("the", "data", "and", "rows", "with", "scan",
      "that", "merge", "of", "group")
    val corpus = (1 to 600).map { i =>
      val g = s"src${i % 4}"
      val text = i % 7 match {
        case 0 => "too short"                       // wc_ok trips
        case 1 => (0 until 60).map(j => s"# ${vocab(j % 10)}")
          .mkString(" ")                            // sym_ok trips
        case 2 => (0 until 60).map(_ => "buy now").mkString(" ")
        case _ => (0 until 60).map(j => vocab((i + j) % 10))
          .mkString(" ")
      }
      (g, text)
    }
    val input = MemoryStream[(String, String)]
    val census = StreamingStructure.qualityCensus(
      input.toDF().toDF("source", "text"), "source", "text")
    val query = census.writeStream.format("memory")
      .queryName("qcensus").outputMode("complete").start()
    try {
      input.addData(corpus.slice(0, 77))
      query.processAllAvailable()
      input.addData(corpus.slice(77, 400))
      query.processAllAvailable()
      input.addData(corpus.slice(400, 600))
      query.processAllAvailable()
      val streamed = s.table("qcensus").collect()
        .map(r => r.getAs[String]("group") -> r.toSeq.drop(1)).toMap
      val batch = StreamingStructure.qualityCensus(
          corpus.toDF("source", "text"), "source", "text")
        .collect().map(r => r.getAs[String]("group") -> r.toSeq.drop(1))
        .toMap
      assert(streamed === batch)
      // the fixture actually discriminates: some groups have
      // non-trivial pass counts
      val nDocs = batch.values.map(_.head.asInstanceOf[Long]).sum
      assert(nDocs === 600L)
    } finally query.stop()
  }
}
