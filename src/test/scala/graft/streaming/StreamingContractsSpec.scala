package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Streaming contract twins == batch: the watch's incremental wide
  * census equals the batch rule census on any replay split, and the
  * stateless screen tags exactly the batch quarantine rows.
  */
class StreamingContractsSpec extends SparkSuite {
  private val rules = Seq(
    "x_pos" -> (col("x") > 0),
    "x_le_90" -> (col("x") <= 90),
    "tag_ok" -> (col("tag") === "ok"))

  private def corpus: Seq[(Long, Integer, String)] =
    (1 to 500).map { i =>
      val x: Integer = if (i % 11 == 0) null
        else if (i % 7 == 0) Integer.valueOf(-i)
        else Integer.valueOf(i % 100)
      (i.toLong, x, if (i % 13 == 0) "bad" else "ok")
    }

  test("streamed watch census equals the batch rule census") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Integer, String)]
    val watch = StreamingStructure.contractWatch(
      input.toDF().toDF("id", "x", "tag"), rules)
    val q = watch.writeStream.format("memory").queryName("cwatch")
      .outputMode("complete").start()
    try {
      input.addData(corpus.slice(0, 61))
      q.processAllAvailable()
      input.addData(corpus.slice(61, 350))
      q.processAllAvailable()
      input.addData(corpus.slice(350, 500))
      q.processAllAvailable()
      val streamed = s.table("cwatch").head()
      val batch = graft.operators.Contracts.ruleAgg(
        corpus.toDF("id", "x", "tag"), rules).head()
      assert(streamed.toSeq === batch.toSeq)
      // and the wide row carries the same numbers the batch census
      // explodes to rows
      val census = graft.operators.Contracts.ruleCensus(
          corpus.toDF("id", "x", "tag"), rules)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      rules.map(_._1).foreach { r =>
        assert(streamed.getAs[Long](s"__v_$r") === census(r))
      }
      assert(streamed.getAs[Long]("__n") === 500L)
      // fixture discriminates: every rule trips at least once
      assert(census.values.forall(_ > 0L))
    } finally q.stop()
  }

  test("stateless screen tags exactly the batch quarantine rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, Integer, String)]
    val screened = StreamingStructure.contractScreenStream(
        input.toDF().toDF("id", "x", "tag"), rules)
      .select(col("id"), col("reasons"))
    val q = screened.writeStream.format("memory").queryName("cscreen")
      .outputMode("append").start()
    try {
      corpus.grouped(137).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = s.table("cscreen").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      val (clean, bad) = graft.operators.Contracts.quarantine(
        corpus.toDF("id", "x", "tag"), rules)
      val badBatch = bad.select(col("id"), col("reasons")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      assert(streamed.filter(_._2.nonEmpty) === badBatch)
      assert(clean.count() + badBatch.size === 500L)
      // reason ORDER is the declared rule order, spec-pinned
      assert(badBatch.values.forall(rs =>
        rs == rules.map(_._1).filter(rs.contains)))
    } finally q.stop()
  }
}
