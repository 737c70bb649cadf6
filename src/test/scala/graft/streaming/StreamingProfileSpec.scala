package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Streamed sketch profile == batch profile: the HLL++ estimate must
  * be EXACTLY the batch value on any replay split (register maxima
  * are order-insensitive), counts/sums exact, and the GK median
  * within its rank-error tolerance of the batch estimate.
  */
class StreamingProfileSpec extends SparkSuite {
  test("replayed micro-batches reproduce the batch profile") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val corpus = (1 to 900).map { i =>
      val g = if (i % 3 == 0) "web" else "books"
      val len = 1 + (i % 13)
      (g, (0 until len).map(j => s"w${i % 40}_$j").mkString(" "))
    }
    val input = MemoryStream[(String, String)]
    val profiled = StreamingStructure.profileStream(
      input.toDF().toDF("source", "text"), "source", "text")
    val query = profiled.writeStream.format("memory")
      .queryName("prof").outputMode("complete").start()
    try {
      // three uneven replay chunks
      input.addData(corpus.slice(0, 100))
      query.processAllAvailable()
      input.addData(corpus.slice(100, 550))
      query.processAllAvailable()
      input.addData(corpus.slice(550, 900))
      query.processAllAvailable()
      val streamed = s.table("prof").collect()
        .map(r => r.getAs[String]("group") -> r).toMap
      val batch = graft.operators.Sketches.corpusProfile(
          corpus.toDF("source", "text"), col("source"), col("text"))
        .collect().map(r => r.getAs[String]("group") -> r).toMap
      assert(streamed.keySet == batch.keySet)
      batch.foreach { case (g, b) =>
        val st = streamed(g)
        assert(st.getAs[Long]("n_docs") == b.getAs[Long]("n_docs"))
        assert(st.getAs[Long]("n_tokens") == b.getAs[Long]("n_tokens"))
        // HLL registers merge order-insensitively: exact equality
        assert(st.getAs[Long]("approx_unique") ==
          b.getAs[Long]("approx_unique"), g)
        // GK merge order matters: p50 within 5% of the batch value
        val sp = st.getAs[Long]("approx_tok_p50")
        val bp = b.getAs[Long]("approx_tok_p50")
        assert(math.abs(sp - bp) * 100 <= bp * 5, s"$g: $sp vs $bp")
      }
    } finally query.stop()
  }
}
