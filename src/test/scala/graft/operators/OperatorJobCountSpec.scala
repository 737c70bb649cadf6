package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{JobCounts, SparkSuite}

/** The Spark jobs of the rank and dedup operators, pinned on small
  * fixed fixtures at the rounds the benchmark runs (PageRank 2, HITS
  * 1). A change that adds or removes a job shows up here as a changed
  * table: a lower count updates the table as its proof, a higher one
  * needs a reason.
  */
class OperatorJobCountSpec extends SparkSuite {
  /** Jobs per operator call, its final collect included. */
  private val pinned = Map(
    "pagerank(2)" -> 32,
    "hits(1)" -> 24,
    "deduplicate" -> 38)

  /** Two users → products stars sharing a hub, a chain and a cycle. */
  private def edges: DataFrame = {
    val s = spark
    import s.implicits._
    (Seq(1L -> 10L, 1L -> 11L, 1L -> 12L, 2L -> 10L, 2L -> 13L,
      3L -> 10L, 3L -> 11L, 4L -> 14L, 14L -> 15L, 15L -> 16L,
      20L -> 21L, 21L -> 22L, 22L -> 20L)).toDF("src", "dst")
  }

  /** Three near-duplicate clusters and two singletons. */
  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "structured data inference merges similar records into one tree",
      "exact integer ranks keep every round reproducible on any width")
    val rows = base.zipWithIndex.flatMap { case (t, i) =>
      Seq((10L * i, t), (10L * i + 1, t + " again"),
        (10L * i + 2, t.replace("the", "a")))
    } ++ Seq((100L, "an unrelated sentence about parquet footers"),
      (101L, "another one about broadcast joins and shuffles"))
    rows.toDF("id", "text")
  }

  private def jobs(name: String)(body: => Any): Unit = {
    val got = JobCounts.inGroup(spark, s"graft-jobs-$name")(body)
    assert(got == pinned(name), s"$name launched $got jobs")
  }

  test("pagerank(iterations = 2) launches the pinned jobs") {
    jobs("pagerank(2)")(Graph.pagerank(edges, iterations = 2).collect())
  }

  test("hits(iterations = 1) launches the pinned jobs") {
    jobs("hits(1)")(Graph.hits(edges, iterations = 1).collect())
  }

  test("deduplicate launches the pinned jobs") {
    jobs("deduplicate")(
      Dedup.deduplicate(docs, col("id"), col("text")).collect())
  }
}
