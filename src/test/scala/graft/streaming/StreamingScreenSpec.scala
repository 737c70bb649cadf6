package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The round-11 stateless ingest twins: streamed language screening
  * and streamed markup extraction equal their batch projections on
  * any replay split (zero state — the split points cannot matter).
  */
class StreamingScreenSpec extends SparkSuite {
  test("streamed language screen == batch classification across " +
      "splits") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val train = Seq(
      "aa" -> "the cat sat on the mat with the hat",
      "aa" -> "she sells sea shells by the sea shore",
      "bb" -> "der hund laeuft schnell durch den wald",
      "bb" -> "die schule beginnt frueh am morgen").toDF("l", "t")
    val model = graft.operators.LangModel.trainLangId(
      train, col("l"), col("t"))
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) s"the mat sat $i by the shore"
        else s"der wald beginnt $i am morgen"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingStructure.langIdScreenStream(
        input.toDF().toDF("id", "t"), model, "t")
      .select(col("id"), col("lang.pred").as("pred"))
      .writeStream.format("memory").queryName("lang_screen")
      .outputMode("append").start()
    try {
      Seq((0, 13), (13, 14), (14, 40)).foreach { case (a, b) =>
        input.addData(docs.slice(a, b))
        q.processAllAvailable()
      }
      val streamed = s.table("lang_screen").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = docs.toDF("id", "t")
        .select(col("id"), graft.operators.LangModel
          .langIdStruct(model, col("t")).getField("pred").as("p"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed === batch)
      assert(streamed.values.toSet === Set("aa", "bb"))
    } finally q.stop()
  }

  test("streamed markup extraction == batch extraction across " +
      "splits, including broken markup") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = (1 to 30).map { i =>
      val html = (i % 3) match {
        case 0 => s"<p>doc $i</p><a href='/x'>l</a>"
        case 1 => s"<title>t$i</title><script>junk<p></script>ok $i"
        case _ => s"<p>trail $i <b unclosed <i>deep</i>"
      }
      (i.toLong, html)
    }
    val input = MemoryStream[(Long, String)]
    val q = StreamingStructure.htmlExtractStream(
        input.toDF().toDF("id", "html"), "html")
      .select(col("id"), col("doc.text").as("text"),
        col("doc.title").as("title"),
        col("doc.n_links").as("nl"), col("doc.n_paragraphs").as("np"))
      .writeStream.format("memory").queryName("html_screen")
      .outputMode("append").start()
    try {
      Seq((0, 7), (7, 8), (8, 30)).foreach { case (a, b) =>
        input.addData(docs.slice(a, b))
        q.processAllAvailable()
      }
      val streamed = s.table("html_screen").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), Option(r.getString(2)), r.getInt(3),
            r.getInt(4)))).toMap
      val batch = docs.toDF("id", "html")
        .select(col("id"), graft.functions.HtmlTextExpr
          .htmlExtract(col("html")).as("doc"))
        .select(col("id"), col("doc.text"), col("doc.title"),
          col("doc.n_links"), col("doc.n_paragraphs"))
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), Option(r.getString(2)), r.getInt(3),
            r.getInt(4)))).toMap
      assert(streamed === batch)
      // spot-check one of each construct
      assert(streamed(3L) === (("doc 3 l", None, 1, 1)))
      assert(streamed(1L) === (("ok 1", Some("t1"), 0, 0)))
      assert(streamed(2L) === (("trail 2 deep", None, 0, 1)))
    } finally q.stop()
  }
}
