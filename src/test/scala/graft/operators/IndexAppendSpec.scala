package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Incremental IVF+PQ append: a delta vector that duplicates an
  * indexed vector lands in the SAME coarse cell with the SAME code
  * word (frozen centroids/codebooks are deterministic functions of
  * the input vector), and serving over the unioned tables surfaces
  * the appended twin — without any retraining pass.
  */
class IndexAppendSpec extends SparkSuite {
  private val dims = 8

  // 12 deterministic pseudo-random corpus vectors in [-1, 1]
  private def vec(seed: Long): Seq[Float] =
    (0 until dims).map { j =>
      val x = (seed * 6364136223846793005L + j * 1442695040888963407L)
      ((x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
    }

  private def corpus = {
    val s = spark
    import s.implicits._
    (1L to 12L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  // delta: ids 101/102 duplicate indexed vectors 3 and 7 exactly
  private def delta = {
    val s = spark
    import s.implicits._
    Seq((101L, vec(3L)), (102L, vec(7L)))
      .toDF("vec_id", "embedding")
  }

  test("duplicate delta vectors land in their twins' cell and code") {
    val ivf = Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", k = 3, iters = 2)
    val pq = Similarity.buildPqIndex(corpus, "vec_id", "embedding",
      dims = dims, m = 2, ksub = 3, iters = 2)
    val (dLabels, dCodes) = Similarity.appendToIvfPq(delta,
      "vec_id", "embedding", dims = dims, m = 2, ivf.centroids,
      pq.codebooks)

    // the twins' placements, re-encoded via the SAME frozen tables
    // (training assignments can differ from frozen-encode by one
    // Lloyd step, so re-encode the originals rather than compare
    // against the training labels)
    val twins = corpus.where(col("vec_id").isin(3L, 7L))
    val (tLabels, tCodes) = Similarity.appendToIvfPq(twins,
      "vec_id", "embedding", dims = dims, m = 2, ivf.centroids,
      pq.codebooks)

    val dl = dLabels.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val tl = tLabels.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(dl(101L) === tl(3L))
    assert(dl(102L) === tl(7L))

    def codesOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toList).toMap
    val dc = codesOf(dCodes)
    val tc = codesOf(tCodes)
    assert(dc(101L) === tc(3L))
    assert(dc(102L) === tc(7L))
    assert(dc(101L).length === 2)
  }

  test("serving the unioned index surfaces the appended twin") {
    val ivf = Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", k = 3, iters = 2)
    val pq = Similarity.buildPqIndex(corpus, "vec_id", "embedding",
      dims = dims, m = 2, ksub = 3, iters = 2)
    val (dLabels, dCodes) = Similarity.appendToIvfPq(delta,
      "vec_id", "embedding", dims = dims, m = 2, ivf.centroids,
      pq.codebooks)
    val allCodes = pq.codes.unionByName(dCodes)
    val allLabels = ivf.labels.unionByName(dLabels)
    // query with vector 3 itself: its appended duplicate 101 shares
    // cell and code word, so it must appear in the served top-k
    val served = Similarity.ivfPqTopK(allCodes, pq.codebooks,
        allLabels, ivf.centroids,
        corpus.where(col("vec_id") === 3L), "vec_id", "embedding",
        dims = dims, m = 2, k = 3, nprobe = 3)
      .collect().map(_.getLong(1)).toSet
    assert(served.contains(101L))
  }

  test("subspace count must divide dims") {
    intercept[IllegalArgumentException] {
      Similarity.pqEncodeWith(delta, "vec_id", "embedding",
        dims = dims, m = 3, codebooks = corpus)
    }
  }
}
