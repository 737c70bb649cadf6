package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Graph
import graft.{LocalSession, SparkSuite}

/** Streaming incremental PageRank: micro-batched edge deltas folding
  * into the persisted trace leave exactly the scores the full batch
  * re-rank produces, independent of how the delta splits across
  * batches (replay-split == batch), and a re-delivered batch is a
  * no-op (idempotent partition overwrite).
  */
class StreamingRankFoldSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  private def tmp(prefix: String): String = tempDir(prefix).toString

  private def sym(es: Seq[(String, String)]): Seq[(String, String)] =
    es ++ es.map(_.swap)

  private def baseEdges: Seq[(String, String)] = sym(
    (0 until 14).map(i => s"n$i" -> s"n${(i + 1) % 14}") ++
      Seq("n0" -> "n7", "n3" -> "n11", "n5" -> "n9"))

  private def ranks(df: DataFrame): Map[String, Long] =
    df.collect().map(r =>
      r.getString(0) -> r.getDecimal(1).longValueExact()).toMap

  /** Write the base-edge + trace artifacts, run the deltas through
    * the stream in the given batch splits, return the final scores.
    */
  private def streamed(deltaBatches: Seq[Seq[(String, String)]])
      : Map[String, Long] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      s.sqlContext
    val basePath = tmp("rank_base_")
    val traceDir = tmp("rank_trace_")
    val deltaPath = tmp("rank_delta_")
    val scoresPath = tmp("rank_scores_")
    val base = baseEdges.toDF("src", "dst")
    base.write.mode("overwrite").parquet(basePath)
    Graph.pagerankTrace(base, iterations = 2).zipWithIndex
      .foreach { case (df, i) =>
        df.write.mode("overwrite").parquet(s"$traceDir/t$i")
      }
    val input = MemoryStream[(String, String)]
    val q = StreamingStructure.rankFoldStream(
      input.toDF().toDF("src", "dst"), basePath, traceDir, 2,
      deltaPath, scoresPath, tmp("rank_ckpt_"))
    try {
      deltaBatches.foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    ranks(s.read.parquet(scoresPath))
  }

  test("streamed fold == the full batch re-rank, and the split " +
      "into micro-batches does not matter") {
    val s = spark
    import s.implicits._
    val d1 = sym(Seq("n2" -> "n12", "n4" -> "n8"))
    val d2 = sym(Seq("n6" -> "n13", "n0" -> "n7"))
    val full = ranks(Graph.pagerank(
      (baseEdges ++ d1 ++ d2).toDF("src", "dst"), iterations = 2))
    assert(streamed(Seq(d1, d2)) === full)
    assert(streamed(Seq(d1 ++ d2)) === full)
  }

  test("a NODE-ADDING delta batch folds through the stream (new " +
      "page arrives mid-stream)") {
    val s = spark
    import s.implicits._
    val d1 = sym(Seq("n1" -> "x99", "x99" -> "n10"))
    val full = ranks(Graph.pagerank(
      (baseEdges ++ d1).toDF("src", "dst"), iterations = 2))
    val got = streamed(Seq(d1))
    assert(got === full)
    assert(got.contains("x99"))
  }

  // ---- the HITS twin ----------------------------------------------

  private def hitsOf(df: DataFrame): Map[String, (Long, Long)] =
    df.collect().map(r => r.getString(0) ->
      (r.getDecimal(1).longValueExact(),
        r.getDecimal(2).longValueExact())).toMap

  private def hitsStreamed(deltaBatches: Seq[Seq[(String, String)]])
      : Map[String, (Long, Long)] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      s.sqlContext
    val basePath = tmp("hits_base_")
    val traceDir = tmp("hits_trace_")
    val deltaPath = tmp("hits_delta_")
    val scoresPath = tmp("hits_scores_")
    val base = baseEdges.toDF("src", "dst")
    base.write.mode("overwrite").parquet(basePath)
    Graph.hitsTrace(base, iterations = 2).zipWithIndex
      .foreach { case (df, i) =>
        df.write.mode("overwrite").parquet(s"$traceDir/t$i")
      }
    val input = MemoryStream[(String, String)]
    val q = StreamingStructure.hitsFoldStream(
      input.toDF().toDF("src", "dst"), basePath, traceDir, 2,
      deltaPath, scoresPath, tmp("hits_ckpt_"))
    try {
      deltaBatches.foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    hitsOf(spark.read.parquet(scoresPath))
  }

  test("HITS twin: streamed fold == the full deferred run, split-" +
      "independent") {
    val s = spark
    import s.implicits._
    val d1 = sym(Seq("n2" -> "n12"))
    val d2 = sym(Seq("n6" -> "n13", "n1" -> "x42"))
    val full = hitsOf(Graph.hitsDeferred(
      (baseEdges ++ d1 ++ d2).toDF("src", "dst"), iterations = 2))
    assert(hitsStreamed(Seq(d1, d2)) === full)
    assert(hitsStreamed(Seq(d1 ++ d2)) === full)
  }
}
