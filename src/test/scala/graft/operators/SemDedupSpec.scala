package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** SemDeDup: near-duplicates collapse within a cluster (keep-min-id),
  * distinct directions survive, the within-cluster candidate
  * generator is REALLY cluster-scoped (a near-dup pair split across
  * clusters is the published algorithm's accepted miss), and the
  * pair budget refuses degenerate clusterings.
  */
class SemDedupSpec extends SparkSuite {
  /** Two tight direction bundles far apart on the unit circle (in a
    * 4-dim space), plus an orthogonal singleton: k=2 clustering
    * separates the bundles; within each bundle all vectors are
    * pairwise cosine > 0.99.
    */
  private def fixture = {
    val s = spark
    import s.implicits._
    def v(xs: Double*) = xs.toArray.map(_.toFloat)
    Seq(
      (1L, v(1.0, 0.01, 0, 0)),
      (2L, v(1.0, 0.02, 0, 0)),
      (3L, v(1.0, 0.03, 0, 0)),
      (10L, v(0.01, 1.0, 0, 0)),
      (11L, v(0.02, 1.0, 0, 0)))
      .toDF("vec_id", "embedding")
  }

  test("near-dups collapse to min id per cluster; distinct " +
      "directions survive") {
    val kept = Similarity.semDedup(fixture, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // each bundle keeps its smallest id
    assert(kept === Set(1L, 10L), kept)
  }

  test("kept rows carry the full original schema") {
    val kept = Similarity.semDedup(fixture, "vec_id", "embedding",
      k = 2, iters = 2, threshold = 0.99)
    assert(kept.columns.toSeq === Seq("vec_id", "embedding"))
    assert(kept.count() === 2)
  }

  test("threshold gates the collapse") {
    // at an impossible threshold nothing is a duplicate
    val kept = Similarity.semDedup(fixture, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 1.1)
      .count()
    assert(kept === 5)
  }

  test("pair budget refuses a degenerate clustering") {
    val ex = intercept[IllegalStateException] {
      // k=1: every pair is a candidate -> 10 pairs > budget 3
      Similarity.semDedup(fixture, "vec_id", "embedding", k = 1,
        iters = 1, threshold = 0.99, maxPairRows = 3L).collect()
    }
    assert(ex.getMessage.contains("pair rows"), ex.getMessage)
  }

  test("cross-cluster near-dups are the published miss, not a bug") {
    val s = spark
    import s.implicits._
    def v(xs: Double*) = xs.toArray.map(_.toFloat)
    // two identical vectors plus two far bundles; with k high enough
    // that the identical pair can land apart, force the situation
    // deterministically instead: cluster on k=2 where the bundles
    // dominate the centroids, then verify the algorithm only ever
    // compares within a label by checking against a manual
    // label-scoped recomputation
    val df = Seq(
      (1L, v(1.0, 0.0, 0, 0)), (2L, v(1.0, 0.01, 0, 0)),
      (10L, v(0.0, 1.0, 0, 0)), (11L, v(0.01, 1.0, 0, 0)))
      .toDF("vec_id", "embedding")
    val labels = Similarity.kmeansLabels(df, "vec_id", "embedding",
        k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Similarity.semDedup(df, "vec_id", "embedding", k = 2,
        iters = 2, threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // survivors = per label, the min id of each >=0.99-cosine
    // component INSIDE that label only
    val byLabel = labels.groupBy(_._2).values
      .flatMap { grp =>
        // in this fixture every same-label pair is >= 0.99 cosine,
        // so each label keeps exactly its min id
        Seq(grp.map(_._1).min)
      }.toSet
    assert(kept === byLabel, s"labels=$labels kept=$kept")
  }
}
