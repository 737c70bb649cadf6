package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.{LocalSession, SparkSuite}

/** Continuous decontamination screen: micro-batches driven through
  * [[StreamingStructure.decontamScreenToParquet]] must leave exactly
  * the per-doc verdicts the batch [[Dedup.screenAgainst]] computes
  * over the union of all batches — including after a replayed batch
  * (duplicate verdict rows dedupe away, values unchanged).
  */
class StreamingDecontamSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  private def tmp(prefix: String): String = tempDir(prefix).toString

  private val benchDoc1 =
    "never reveal the benchmark answer key alpha beta gamma delta " +
    "epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
  private val benchDoc2 =
    "the capital of atlantis is poseidonia according to the " +
    "canonical eval suite question number forty two revised edition"
  private val cleanDoc =
    "a perfectly ordinary training document about spark shuffle " +
    "partitions broadcast joins and adaptive query execution plans"
  // contains a verbatim run of benchDoc1 (> k tokens): partial hit
  private val leakyDoc =
    "some preamble text then never reveal the benchmark answer key " +
    "alpha beta gamma delta epsilon and then unrelated trailing words"

  test("streamed screen verdicts == batch screenAgainst, replay " +
      "converges") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext

    val bench = Seq((900L, benchDoc1), (901L, benchDoc2))
      .toDF("doc_id", "text")
    val screen = Dedup.buildContaminationScreen(bench,
      col("doc_id"), col("text"), shingleK = 5, fpp = 0.01)

    val b1 = Seq((1L, cleanDoc), (2L, leakyDoc))
    val b2 = Seq((3L, benchDoc2), (4L, cleanDoc + " with a suffix"))
    val verdictPath = tmp("dsc_verdicts") + "/v"

    val input = MemoryStream[(Long, String)]
    val query = StreamingStructure.decontamScreenToParquet(
      input.toDF().toDF("doc_id", "body"), "doc_id", "body",
      screen, verdictPath, tmp("dsc_ckpt"))
    try {
      Seq(b1, b2, b1 /* replay */).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
    } finally query.stop()

    val streamed = spark.read.parquet(verdictPath)
      .dropDuplicates("id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val all = (b1 ++ b2).toDF("doc_id", "body")
    val batch = Dedup.screenAgainst(screen, all, col("doc_id"),
        col("body"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(streamed == batch)
    // semantic sanity: clean doc no hits, leaky doc partial,
    // verbatim bench doc fully contained
    val byId = batch.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L)._2 == 0L)
    assert(byId(2L)._2 > 0L && byId(2L)._2 < byId(2L)._1)
    assert(byId(3L)._2 == byId(3L)._1)
  }

  test("screen write/read round-trip serves identical verdicts") {
    val s = spark
    import s.implicits._
    val bench = Seq((900L, benchDoc1), (901L, benchDoc2))
      .toDF("doc_id", "text")
    val built = Dedup.buildContaminationScreen(bench,
      col("doc_id"), col("text"), shingleK = 5, fpp = 0.01)
    val path = tmp("dsc_screen") + "/screen"
    Dedup.writeContaminationScreen(built, path)
    val loaded = Dedup.readContaminationScreen(spark, path)
    val docs = Seq((1L, cleanDoc), (2L, leakyDoc), (3L, benchDoc2))
      .toDF("doc_id", "text")
    def verdicts(sc: Dedup.ContaminationScreen) =
      Dedup.screenAgainst(sc, docs, col("doc_id"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(verdicts(loaded) == verdicts(built))
    // empty-bench screens persist too
    val emptyBuilt = Dedup.buildContaminationScreen(
      bench.where(lit(false)), col("doc_id"), col("text"))
    val emptyPath = tmp("dsc_screen_e") + "/screen"
    Dedup.writeContaminationScreen(emptyBuilt, emptyPath)
    val emptyLoaded = Dedup.readContaminationScreen(spark, emptyPath)
    assert(verdicts(emptyLoaded).forall(_._3 == 0L))
  }

  test("empty bench screen: verdicts all zero-hit") {
    val s = spark
    import s.implicits._
    val screen = Dedup.buildContaminationScreen(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    val out = Dedup.screenAgainst(screen,
        Seq((1L, cleanDoc)).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 0L)))
  }
}
