package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Residual IVFPQ (Jégou TPAMI'11 §IV): PQ codes trained on
  * x − c(x) against the coarse IVF centroid, per-cell codebooks.
  */
class ResidualPqSpec extends SparkSuite {
  private val patterns = Seq(
    Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
    Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
    Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f),
    Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f))

  private def fixture: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 12).map(i => (i.toLong, patterns(i % 4)))
      .toDF("vec_id", "embedding")
  }

  test("rounded centroids: round-half-away-from-zero on the " +
      "quantization grid, negatives included") {
    val s = spark
    import s.implicits._
    // cell 0: components avg to -1.5 quanta (rounds to -2) and
    // +1.5 quanta (rounds to +2); cell 1: exact integers
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 1L))
      .toDF("id", "label")
    val cents = Seq(
      (0L, 0, -3L), (0L, 1, 3L), (0L, 2, -4L),
      (1L, 0, 5L), (1L, 1, 0L), (1L, 2, -5L))
      .toDF("label", "dim", "s")
    val mu = Similarity.ivfRoundedCentroids(labels, cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(mu == Set((0L, 0, -2L), (0L, 1, 2L), (0L, 2, -2L),
      (1L, 0, 5L), (1L, 1, 0L), (1L, 2, -5L)))
  }

  test("residual codes are deterministic under repartitioning") {
    def codes(df: DataFrame): Map[Long, Seq[Long]] = {
      val idx = Similarity.buildIvfIndex(df, "vec_id", "embedding",
        k = 3, iters = 2)
      Similarity.pqCodes(Similarity.pqAssignResidual(df, "vec_id",
          "embedding", dims = 8, m = 2, ksub = 4, ivfLabels =
            idx.labels, ivfCentroids = idx.centroids, iters = 2))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    }
    val a = codes(fixture)
    val b = codes(fixture.repartition(7))
    assert(a == b)
    assert(a.values.forall(_.length == 2))
  }

  test("residual ADC with pure clusters and nprobe=all reproduces " +
      "the exact cosine ranking (exact reconstruction)") {
    val df = fixture
    val idx = Similarity.buildIvfIndex(df, "vec_id", "embedding",
      k = 3, iters = 2)
    // ksub >= every cell size: identical residuals share a cluster,
    // so x̂ = mu + (x − mu) = x EXACTLY (the rounding cancels)
    val assign = Similarity.pqAssignResidual(df, "vec_id",
      "embedding", dims = 8, m = 2, ksub = 12,
      ivfLabels = idx.labels, ivfCentroids = idx.centroids,
      iters = 1)
    val codes = Similarity.pqCodes(assign)
    val books = Similarity.pqCodebooksResidual(df, "vec_id",
      "embedding", dims = 8, m = 2, ivfLabels = idx.labels,
      ivfCentroids = idx.centroids, assign = assign)
    val s = spark
    import s.implicits._
    val qv = Array(1f, 0.5f, 0f, 0f, 1f, 0.5f, 0f, 0f)
    val queries = Seq((999L, qv)).toDF("vec_id", "embedding")
    val got = Similarity.ivfPqTopKResidual(codes, books, idx.labels,
        idx.centroids, queries, "vec_id", "embedding",
        dims = 8, m = 2, k = 12, nprobe = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    def cos(v: Array[Float]): Double = {
      val q = qv.map(x => math.round(x.toDouble * 33554432.0))
      val w = v.map(x => math.round(x.toDouble * 33554432.0))
      val dot = q.zip(w).map { case (a, b) => a * b }.sum.toDouble
      dot / (math.sqrt(q.map(a => a * a).sum.toDouble) *
        math.sqrt(w.map(a => a * a).sum.toDouble))
    }
    val want = (0 until 12)
      .map(i => (i.toLong, cos(patterns(i % 4))))
      .sortBy { case (id, c) => (-c, id) }
      .zipWithIndex.map { case ((id, _), r) => (id, r + 1L) }
    assert(got.toSeq == want)
  }

  test("fewer probes return a candidate-restricted ranking that " +
      "preserves the probe-all order") {
    val df = fixture
    val idx = Similarity.buildIvfIndex(df, "vec_id", "embedding",
      k = 3, iters = 2)
    val assign = Similarity.pqAssignResidual(df, "vec_id",
      "embedding", dims = 8, m = 2, ksub = 4,
      ivfLabels = idx.labels, ivfCentroids = idx.centroids,
      iters = 2)
    val codes = Similarity.pqCodes(assign)
    val books = Similarity.pqCodebooksResidual(df, "vec_id",
      "embedding", dims = 8, m = 2, ivfLabels = idx.labels,
      ivfCentroids = idx.centroids, assign = assign)
    val s = spark
    import s.implicits._
    val queries = Seq(
      (100L, Array(1f, 0.5f, 0f, 0f, 1f, 0.5f, 0f, 0f)),
      (101L, Array(0f, 0f, 1f, 1f, 0f, 0f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    def rows(d: DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val full = rows(Similarity.ivfPqTopKResidual(codes, books,
      idx.labels, idx.centroids, queries, "vec_id", "embedding",
      dims = 8, m = 2, k = 12, nprobe = 3))
    val probed = rows(Similarity.ivfPqTopKResidual(codes, books,
      idx.labels, idx.centroids, queries, "vec_id", "embedding",
      dims = 8, m = 2, k = 12, nprobe = 1))
    val byQ = probed.groupBy(_._1)
    for ((q, rs) <- byQ) {
      assert(rs.map(_._3).sorted == (1L to rs.length).toSeq)
      val fullOrder = full.filter(_._1 == q).sortBy(_._3).map(_._2)
      val subset = rs.sortBy(_._3).map(_._2)
      assert(fullOrder.filter(subset.contains) == subset, s"qid $q")
    }
  }
}
