package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{JobCounts, SparkSuite}

/** The Spark jobs of the rank and dedup operators, pinned on small
  * fixed fixtures at the rounds the benchmark runs (PageRank 2, HITS
  * 1), and of the three incremental rank folds at two rounds, each on
  * its driver-resident path (the default budget) and on its
  * distributed path (`maxBroadcastBytes = 0`). A change that adds or
  * removes a job shows up here as a changed table: a lower count
  * updates the table as its proof, a higher one needs a reason.
  */
class OperatorJobCountSpec extends SparkSuite {
  /** Jobs per operator call, its final collect included. */
  private val pinned = Map(
    "pagerank(2)" -> 32,
    "hits(1)" -> 24,
    "deduplicate" -> 38,
    "pagerankDelta" -> 25,
    "pagerankDelta@0" -> 44,
    "pagerankRefresh" -> 26,
    "pagerankRefresh@0" -> 47,
    "hitsDelta" -> 24,
    "hitsDelta@0" -> 62)

  /** Two users → products stars sharing a hub, a chain and a cycle. */
  private def edges: DataFrame = {
    val s = spark
    import s.implicits._
    (Seq(1L -> 10L, 1L -> 11L, 1L -> 12L, 2L -> 10L, 2L -> 13L,
      3L -> 10L, 3L -> 11L, 4L -> 14L, 14L -> 15L, 15L -> 16L,
      20L -> 21L, 21L -> 22L, 22L -> 20L)).toDF("src", "dst")
  }

  /** [[edges]] with every edge in both directions: no node is
    * dangling, as the PageRank folds require.
    */
  private def symEdges: DataFrame =
    edges.unionAll(edges.select(col("dst"), col("src")))

  /** A second copy of 1 <-> 11 and a new node 30 linked to 1 and 20,
    * each edge in both directions.
    */
  private def delta: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(1L -> 11L, 11L -> 1L, 1L -> 30L, 30L -> 1L, 20L -> 30L,
      30L -> 20L).toDF("src", "dst")
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

  for (budget <- Seq(128L << 20, 0L)) {
    val at = if (budget == 0L) "@0" else ""

    test(s"pagerankDelta$at launches the pinned jobs") {
      val trace = Graph.pagerankTrace(symEdges, iterations = 2)
      jobs(s"pagerankDelta$at")(Graph.pagerankDelta(symEdges, delta,
        trace, maxBroadcastBytes = budget).collect())
    }

    test(s"pagerankRefresh$at launches the pinned jobs") {
      val trace = Graph.pagerankTrace(symEdges, iterations = 2)
      // drops 1 <-> 10 and folds in the delta's new node
      val edited = symEdges.where(!((col("src") === 1L &&
          col("dst") === 10L) || (col("src") === 10L &&
          col("dst") === 1L)))
        .unionAll(delta)
      jobs(s"pagerankRefresh$at")(Graph.pagerankRefresh(symEdges,
        edited, trace, maxBroadcastBytes = budget).collect())
    }

    test(s"hitsDelta$at launches the pinned jobs") {
      val trace = Graph.hitsTrace(edges, iterations = 2)
      jobs(s"hitsDelta$at")(Graph.hitsDelta(edges, delta, trace,
        maxBroadcastBytes = budget).collect())
    }
  }

  test("deduplicate launches the pinned jobs") {
    jobs("deduplicate")(
      Dedup.deduplicate(docs, col("id"), col("text")).collect())
  }
}
