package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** PMI collocation gate: hand-computed joint/marginal counts, the
  * exact cross-multiplied independence test, the support floor, and
  * the whole-bit PMI column.
  */
class CollocationsSpec extends SparkSuite {
  test("gate keeps the repeated glued phrase, drops the incidental bigram") {
    val s = spark
    import s.implicits._
    // "new york" appears 3x always glued; filler words appear often
    // but never twice in the same order → their bigrams have support
    // 1 and fail the floor. N (total bigrams) = 3 docs × 5 = 15.
    val docs = Seq(
      "new york a b c",
      "d new york e f",
      "g h new york i"
    ).toDF("text")
    val got = LangModel.collocations(docs, col("text"),
        minCount = 3L, num = 2L, den = 1L)
      .collect().map(r => (r.getAs[String]("bg"),
        r.getAs[Long]("c_bg"), r.getAs[Long]("c_w1"),
        r.getAs[Long]("c_w2"), r.getAs[Long]("pmi_bits")))
    assert(got.length == 1)
    val (bg, cbg, cw1, cw2, bits) = got.head
    assert(bg == "new york")
    assert(cbg == 3L && cw1 == 3L && cw2 == 3L)
    // gate: 3·15 = 45 ≥ 2·(3·3) = 18 → kept;
    // pmi_bits = ⌊log2 3⌋ + ⌊log2 15⌋ − ⌊log2 3⌋ − ⌊log2 3⌋
    //          = 1 + 3 − 1 − 1 = 2
    assert(bits == 2L)
  }

  test("independence-level bigrams fail the ratio even with support") {
    val s = spark
    import s.implicits._
    // two docs of shuffled x/y filler: N = 15 bigrams. The best
    // candidate "x y" has c_bg=3, c_w1(x)=7, c_w2(y)=6 →
    // 3·15 = 45 < 2·7·6 = 84 → dropped despite clearing the
    // support floor; every other bigram fails likewise
    val docs = Seq(
      "x y x z y x q y",   // 7 bigrams
      "y x y y x x y x x"  // 8 bigrams
    ).toDF("text")
    val all = LangModel.collocations(docs, col("text"),
      minCount = 2L, num = 2L, den = 1L).collect()
    assert(all.isEmpty)
  }
}
