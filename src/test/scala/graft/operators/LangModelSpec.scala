package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Bigram-LM cross-entropy in whole bits: hand-computed code lengths
  * on a tiny trusted/candidate split, floor-log2 exactness, and the
  * no-bigram / unseen-everything edges.
  */
class LangModelSpec extends SparkSuite {
  test("floorLog2 is the exact bit length minus one") {
    val s = spark
    import s.implicits._
    val got = Seq(1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, 1L << 40)
      .toDF("n")
      .select(LangModel.floorLog2(col("n")).as("f"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 1L, 2L, 2L, 3L, 9L, 10L, 40L))
  }

  test("hand-computed bits on a tiny trained model") {
    val s = spark
    import s.implicits._
    // train: "a b a b" + "a c" →
    //   bigrams: (a b)x2, (b a)x1, (a c)x1; contexts: a→3, b→1; V=2
    val train = Seq("a b a b", "a c").toDF("text")
    val (bi, uni, vocab) = LangModel.trainBigram(train, col("text"))
    assert(bi.collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap == Map("a b" -> 2L, "b a" -> 1L, "a c" -> 1L))
    assert(uni.collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap == Map("a" -> 3L, "b" -> 1L))
    assert(vocab.collect().head.getLong(0) == 2L)

    // score "a b a z":
    //   (a b): fl2(3+2) - fl2(2+1) = 2 - 1 = 1, seen
    //   (b a): fl2(1+2) - fl2(1+1) = 1 - 1 = 0, seen
    //   (a z): fl2(3+2) - fl2(0+1) = 2 - 0 = 2, unseen
    // → n_bigrams=3, n_unseen=1, bits=3, decibits=floor(30/3)=10
    val scored = LangModel.crossEntropyBits(
      Seq((7L, "a b a z")).toDF("id", "text"),
      Seq(col("id")), col("text"), bi, uni, vocab)
    val r = scored.collect().head
    assert(r.getAs[Long]("id") == 7L)
    assert(r.getAs[Long]("n_bigrams") == 3L)
    assert(r.getAs[Long]("n_unseen") == 1L)
    assert(r.getAs[Long]("bits") == 3L)
    assert(r.getAs[Long]("decibits") == 10L)
  }

  test("single-token and empty docs contribute no rows; fully-unseen doc costs log2(V+context) bits per bigram") {
    val s = spark
    import s.implicits._
    val train = Seq("a b a b", "a c").toDF("text")
    val (bi, uni, vocab) = LangModel.trainBigram(train, col("text"))
    val scored = LangModel.crossEntropyBits(
      Seq((1L, "solo"), (2L, ""), (3L, "x y")).toDF("id", "text"),
      Seq(col("id")), col("text"), bi, uni, vocab)
    val rows = scored.collect().map(r =>
      r.getAs[Long]("id") -> r).toMap
    assert(rows.keySet == Set(3L))
    // (x y): context x unseen → fl2(0+2) - fl2(0+1) = 1 - 0 = 1
    assert(rows(3L).getAs[Long]("bits") == 1L)
    assert(rows(3L).getAs[Long]("n_unseen") == 1L)
    assert(rows(3L).getAs[Long]("decibits") == 10L)
  }
}
