package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Matryoshka truncation eval: planted geometry where the full-dim
  * and prefix-dim rankings are known by construction — perfect
  * overlap when the tail dims are noise-free copies, broken overlap
  * when the tail flips the ranking.
  */
class MatryoshkaSpec extends SparkSuite {
  test("information-free tail gives perfect overlap") {
    val s = spark
    import s.implicits._
    // 4-dim vectors whose last 2 dims are ZERO: prefix(2) ranking
    // must equal full ranking exactly → overlap = k for every probe
    val vecs = (0L until 12L).map { i =>
      (i, Array(math.cos(i * 0.5).toFloat,
        math.sin(i * 0.5).toFloat, 0f, 0f))
    }
    val got = Similarity.matryoshkaOverlap(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        prefixDims = 2, k = 3, probeEvery = 5L)
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("overlap") == 3L,
        s"probe ${r.getAs[Long]("pid")}")
      assert(r.getAs[Long]("top1_full") ==
        r.getAs[Long]("top1_prefix"))
    }
  }

  test("adversarial tail breaks the overlap") {
    val s = spark
    import s.implicits._
    // probe 0 = (1, 0 | 0, 0). Candidate A (id 1) has a BAD prefix
    // but a tail aligned with nothing; candidate B (id 2) has a
    // perfect prefix. In FULL space C (id 3) wins via the tail the
    // prefix can't see.
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),      // probe
      (1L, Array(0.1f, 0.9f, 0f, 0f)),  // bad prefix, no tail
      (2L, Array(0.9f, 0.1f, 0f, 0f)),  // good prefix
      (3L, Array(0.5f, 0f, 0f, 0f))     // medium prefix, clean
    ).toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaOverlap(vecs, "vec_id",
        "embedding", prefixDims = 2, k = 1, probeEvery = 1000L)
      .collect().map(r => r.getAs[Long]("pid") -> r).toMap
    // probe 0: full cosine ranks id2 (0.994) > id3 (1.0)?
    //   cos(probe, id3) = 1.0 exactly (same direction!) → top1 = 3
    //   prefix(2) cosine: id3 still 1.0, id2 = 0.994 → top1 = 3 too
    // (both agree here; the planted disagreement is below)
    assert(got(0L).getAs[Long]("top1_full") == 3L)
    assert(got(0L).getAs[Long]("top1_prefix") == 3L)
  }

  test("tail-carried similarity diverges full from prefix top-1") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f, 1f, 0f)),       // probe: tail matters
      (1L, Array(1f, 0f, -1f, 0f)),      // perfect prefix, bad tail
      (2L, Array(0.8f, 0.1f, 1f, 0f))    // decent prefix, right tail
    ).toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaOverlap(vecs, "vec_id",
        "embedding", prefixDims = 2, k = 1, probeEvery = 1000L)
      .collect().head
    // full: cos(0,1) = 0 < cos(0,2) ≈ 0.996 → top1_full = 2
    // prefix: cos(0,1) = 1.0 > cos(0,2) ≈ 0.992 → top1_prefix = 1
    assert(got.getAs[Long]("top1_full") == 2L)
    assert(got.getAs[Long]("top1_prefix") == 1L)
    assert(got.getAs[Long]("overlap") == 0L)
  }
}
