package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.SparkSuite

/** Streaming boilerplate-line screen == the batch removal on any
  * replay split: the digest set is batch-built, the per-document
  * cleanup is stateless, so streamed clean_text matches the batch
  * operator document by document.
  */
class StreamingLineScreenSpec extends SparkSuite {
  private val banner = "subscribe to our newsletter"

  private def corpus = (1 to 40).map { i =>
    val body = s"unique prose line $i"
    val page =
      if (i % 3 == 0) s"$banner\n$body" else s"$body\nfooter $i"
    (i.toLong, page)
  }

  test("streamed screen matches the batch removal per document") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      s.sqlContext
    val batchDf = corpus.toDF("doc_id", "text")
    val freq = Dedup.frequentLineDigests(batchDf, col("doc_id"),
      col("text"), minDocs = 2)

    val input = MemoryStream[(Long, String)]
    val screened = StreamingStructure.lineScreenStream(
      input.toDF().toDF("doc_id", "text"), "text", freq)
    val query = screened.writeStream.format("memory")
      .queryName("lscreen").outputMode("append").start()
    try {
      input.addData(corpus.slice(0, 13))
      query.processAllAvailable()
      input.addData(corpus.slice(13, 40))
      query.processAllAvailable()
      val streamed = s.table("lscreen").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"),
            r.getAs[String]("clean_text"))).toMap

      val batch = Dedup.removeFrequentLines(batchDf, col("doc_id"),
          col("text"), minDocs = 2)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap

      assert(streamed.size === 40)
      corpus.foreach { case (id, _) =>
        val (nl, nr, ct) = streamed(id)
        val (bnl, bnr, bmd5) = batch(id)
        assert(nl === bnl, s"doc $id n_lines")
        assert(nr === bnr, s"doc $id n_removed")
        val d = java.security.MessageDigest.getInstance("MD5")
        val md5ct = d.digest(ct.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(md5ct === bmd5, s"doc $id clean_text")
      }
      // the banner really was screened somewhere
      assert(streamed.values.map(_._2).sum > 0L)
    } finally query.stop()
  }

  test("an oversized digest set is refused") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      s.sqlContext
    val freq = Dedup.frequentLineDigests(
      corpus.toDF("doc_id", "text"), col("doc_id"), col("text"),
      minDocs = 2)
    val input = MemoryStream[(Long, String)]
    intercept[IllegalArgumentException] {
      StreamingStructure.lineScreenStream(
        input.toDF().toDF("doc_id", "text"), "text", freq,
        maxDigests = 0)
    }
  }
}
