package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.LangModel
import graft.SparkSuite

/** Streaming LM screen == the batch scorer on any replay split: the
  * model is batch-trained and frozen, per-document scoring is
  * stateless, so streamed bits match LangModel.crossEntropyBits
  * document by document and the model-size guard refuses oversized
  * literals.
  */
class StreamingLmScreenSpec extends SparkSuite {
  // heavy repetition + a vocab tail so seen bigrams are CHEAP
  // (1 bit) and unseen ones EXPENSIVE (3 bits): in-model docs land
  // at 10 decibits, out-of-model at 30, and the 20 cut separates
  private val trusted =
    Seq.fill(8)("the quick brown fox") :+ "a b c d e f g h i j"

  private def arriving = Seq(
    (1L, "the quick brown fox"),     // pure in-model
    (2L, "zz yy xx ww"),             // everything unseen
    (3L, "the quick zz fox"),        // mixed
    (4L, "solo"),                    // no bigram → null score
    (5L, "the quick brown dog jumps over the lazy dog"))

  test("streamed bits match the batch scorer per document") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      s.sqlContext
    val (bi, uni, vocab) = LangModel.trainBigram(
      trusted.toDF("text"), col("text"))

    val batch = LangModel.crossEntropyBits(
        arriving.toDF("id", "text"), Seq(col("id")), col("text"),
        bi, uni, vocab)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_unseen"),
          r.getAs[Long]("bits"), r.getAs[Long]("decibits"))).toMap

    val input = MemoryStream[(Long, String)]
    val screened = StreamingStructure.lmScreenStream(
      input.toDF().toDF("id", "text"), "text", bi, uni, vocab,
      flagDecibits = 20L)
    val query = screened.writeStream.format("memory")
      .queryName("lmscreen").outputMode("append").start()
    try {
      input.addData(arriving.slice(0, 2))
      query.processAllAvailable()
      input.addData(arriving.slice(2, 5))
      query.processAllAvailable()
      val streamed = s.table("lmscreen").collect()
        .map(r => r.getAs[Long]("id") -> r).toMap
      assert(streamed.size == 5)
      // every doc the batch scorer emits must match bit-for-bit
      batch.foreach { case (id, (nb, nu, bits, dec)) =>
        val r = streamed(id)
        assert(r.getAs[Long]("n_bigrams") == nb, s"doc $id nb")
        assert(r.getAs[Long]("n_unseen") == nu, s"doc $id nu")
        assert(r.getAs[Long]("lm_bits") == bits, s"doc $id bits")
        assert(r.getAs[Long]("lm_decibits") == dec, s"doc $id dec")
      }
      // the no-bigram doc scores null, not zero
      assert(!batch.contains(4L))
      assert(streamed(4L).isNullAt(
        streamed(4L).fieldIndex("lm_bits")))
      assert(streamed(4L).getAs[Long]("n_bigrams") == 0L)
      // the all-unseen doc is flagged, the in-model one is not
      assert(streamed(2L).getAs[Boolean]("lm_flagged"))
      assert(!streamed(1L).getAs[Boolean]("lm_flagged"))
    } finally query.stop()
  }

  test("model-size guard refuses oversized literals") {
    val s = spark
    import s.implicits._
    val (bi, uni, vocab) = LangModel.trainBigram(
      trusted.toDF("text"), col("text"))
    val e = intercept[IllegalArgumentException] {
      StreamingStructure.lmScreenStream(
        trusted.toDF("text"), "text", bi, uni, vocab,
        maxModelEntries = 2)
    }
    assert(e.getMessage.contains("not trusted-slice-sized"))
  }
}
