package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** MMR diversified retrieval: the first pick is the most relevant
  * candidate, the second pick trades relevance for diversity (the
  * near-duplicate of pick 1 is demoted below a less relevant but
  * diverse candidate), penalties record the max similarity to the
  * selected set, and the query row itself is excluded.
  */
class MmrSpec extends SparkSuite {
  // query q = e0; A(1) most relevant; B(2) near-duplicate of A;
  // C(3) less relevant but diverse; D(4) negatively relevant.
  // rel:  A .9, B .85, C .8, D -1
  // pens: sim(B,A) = .785, sim(C,A) = .72
  // MMR scores step 2: B = .065, C = .08 -> C wins on diversity
  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.85f, 0.2f, 0.0f, 0.0f)),
      (3L, Seq(0.8f, 0.0f, 1.4f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
  }

  test("greedy order trades relevance for diversity") {
    val q = corpus.where(col("vec_id") === 0L)
    val got = Similarity.mmrTopK(corpus, "vec_id", "embedding", q,
        "vec_id", "embedding", candN = 4, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    // pure-relevance order would be 1, 2, 3; MMR demotes the
    // near-duplicate 2 below the diverse 3
    assert(got === Seq((1L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("penalty is the max similarity to the selected set") {
    val q = corpus.where(col("vec_id") === 0L)
    val rows = Similarity.mmrTopK(corpus, "vec_id", "embedding", q,
        "vec_id", "embedding", candN = 4, k = 3)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    def quant(x: Double): Long = math.round(x * 33554432.0)
    def dot(a: Seq[Double], b: Seq[Double]): Long =
      a.zip(b).map { case (x, y) => quant(x) * quant(y) }.sum
    val vA = Seq(0.9f, 0.1f, 0f, 0f).map(_.toDouble)
    val vB = Seq(0.85f, 0.2f, 0f, 0f).map(_.toDouble)
    val vC = Seq(0.8f, 0f, 1.4f, 0f).map(_.toDouble)
    val vQ = Seq(1.0, 0.0, 0.0, 0.0)
    assert(rows(1L) === ((1L, dot(vA, vQ), 0L,
      dot(vA, vQ))))
    assert(rows(2L) === ((3L, dot(vC, vQ), dot(vC, vA),
      dot(vC, vQ) - dot(vC, vA))))
    // step 3 = B; selected = {A, C}; sim(B,A) > sim(B,C)
    assert(rows(3L) === ((2L, dot(vB, vQ), dot(vB, vA),
      dot(vB, vQ) - dot(vB, vA))))
  }

  test("k is capped by the candidate count and excludes the query") {
    val q = corpus.where(col("vec_id") === 0L)
    val got = Similarity.mmrTopK(corpus, "vec_id", "embedding", q,
      "vec_id", "embedding", candN = 4, k = 4)
    assert(got.count() === 4L)
    assert(!got.collect().map(_.getLong(1)).contains(0L))
  }
}
