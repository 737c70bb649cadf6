package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The Bloom-prescreened decontamination path must produce EXACTLY
  * the broadcast-exact path's output (no false negatives + exact
  * confirm), at any fpp — including an aggressively small filter
  * where almost everything survives the prescreen and the confirm
  * join does all the work.
  */
class ContaminationBloomSpec extends SparkSuite {
  private def fixture: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    def sentence(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bench = (1 to 15).map(i => (i.toLong, sentence(12)))
      .toDF("doc_id", "text")
    val benchRows = bench.collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // corpus: fresh random docs, plus full copies of some bench docs
    // (fully contained) and spliced halves (partial hits)
    val corpus = ((100 to 140).map(i => (i.toLong, sentence(15))) ++
      benchRows.take(4).map { case (i, t) => (1000L + i, t) } ++
      benchRows.slice(4, 8).map { case (i, t) =>
        (2000L + i, t.split(" ").take(8).mkString(" ") + " " +
          sentence(6))
      }).toDF("doc_id", "text")
    (corpus, bench)
  }

  private def collectStats(df: DataFrame): Seq[(Long, Long, Long)] =
    df.orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("contaminationBloom == contamination at fpp 0.01 and a " +
      "degenerate 0.5") {
    val (corpus, bench) = fixture
    val exact = collectStats(Dedup.contamination(corpus,
      col("doc_id"), col("text"), bench, col("doc_id"), col("text"),
      shingleK = 5))
    assert(exact.nonEmpty && exact.exists(_._3 > 0) &&
      exact.exists(t => t._3 == t._2), "fixture must have partial " +
        "and full containment")
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = collectStats(Dedup.contaminationBloom(corpus,
        col("doc_id"), col("text"), bench, col("doc_id"),
        col("text"), shingleK = 5, fpp = fpp))
      assert(bloom == exact, s"fpp=$fpp diverged")
    }
  }

  test("contaminationBloom: empty bench yields an empty result, " +
      "invalid fpp rejected") {
    val (corpus, bench) = fixture
    val empty = Dedup.contaminationBloom(corpus, col("doc_id"),
      col("text"), bench.where(lit(false)), col("doc_id"),
      col("text"))
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "n_shingles", "n_hits"))
    intercept[IllegalArgumentException] {
      Dedup.contaminationBloom(corpus, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"), fpp = 0.0)
    }
  }
}
