package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Index staleness census: a delta drawn from the indexed
  * distribution reports no drift; a delta pushed far off the
  * centroids trips the 2x-mean flag; disjoint cells coalesce
  * cleanly.
  */
class IndexDriftSpec extends SparkSuite {
  private val dims = 8

  private def vec(seed: Long, scale: Float = 1f): Seq[Float] =
    (0 until dims).map { j =>
      val x = (seed * 6364136223846793005L + j * 1442695040888963407L)
      (((x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0)
        * scale).toFloat
    }

  private def corpus = {
    val s = spark
    import s.implicits._
    (1L to 16L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  test("in-distribution delta: no drift anywhere") {
    val s = spark
    import s.implicits._
    // the delta IS a subset of the indexed vectors — d2 identical
    val delta = (3L to 6L).map(i => (100L + i, vec(i)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.indexDriftCensus(corpus, delta, "vec_id",
        "embedding", k = 3, iters = 2)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(!_.getBoolean(4)),
      rows.map(_.toSeq.mkString(",")).mkString("; "))
  }

  test("far-off delta trips the drift flag") {
    val s = spark
    import s.implicits._
    // same directions (same cells under cosine assignment) but 50x
    // magnitude: d2 to the centroid explodes while assignment holds
    val delta = (3L to 6L).map(i => (100L + i, vec(i, 50f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.indexDriftCensus(corpus, delta, "vec_id",
        "embedding", k = 3, iters = 2)
      .collect()
    assert(rows.exists(r => r.getLong(2) > 0 && r.getBoolean(4)),
      rows.map(_.toSeq.mkString(",")).mkString("; "))
  }

  test("cells with no delta coalesce to drift = false") {
    val s = spark
    import s.implicits._
    val delta = Seq((101L, vec(3L))).toDF("vec_id", "embedding")
    val rows = Similarity.indexDriftCensus(corpus, delta, "vec_id",
        "embedding", k = 3, iters = 2)
      .collect()
    val empty = rows.filter(_.getLong(2) === 0L)
    assert(empty.forall(r => !r.getBoolean(4) &&
      r.getLong(3) === 0L))
  }
}
