package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** Property layer for the LM operators: the in-plan bigram / hashed
  * feature extraction must match a naive Scala reimplementation of
  * the declared semantics on arbitrary whitespace soup, and the
  * whole-bit score must obey its algebraic bounds.
  */
class LangModelPropertiesSpec extends SparkSuite {
  private def forAll[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val tokenGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(t => if (t.isEmpty) "x" else t.take(5)),
    Gen.oneOf("a", "bb", "δ", "測試", "-", "#1"))
  private val textGen: Gen[String] = for {
    toks <- Gen.listOf(tokenGen)
    seps <- Gen.listOfN(math.max(toks.length - 1, 0),
      Gen.oneOf(" ", "  ", "\t", " \n "))
    pad <- Gen.oneOf("", " ", "\t")
  } yield pad + toks.zipAll(seps :+ "", "", "")
    .map { case (t, s) => t + s }.mkString + pad

  /** The TRUE shared tokenization semantics, reimplemented naively:
    * Spark's `trim` strips SPACES ONLY (not tabs/newlines — unlike
    * java.lang.String.trim) and Spark's `split` keeps trailing
    * empties (limit -1, unlike Java's default) — and DuckDB's
    * `trim` + `regexp_split_to_array` behave identically on both
    * counts (verified: '\ta b\t' → ['', 'a', 'b', ''] in each), so
    * whitespace-edged documents tokenize the same in engine and
    * oracle. This spec exists to pin that three-way agreement.
    */
  private def naiveTokens(text: String): Seq[String] =
    text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .split("\\s+", -1).toSeq

  test("bigramRows matches the naive tokenization on whitespace soup") {
    val s = spark
    import s.implicits._
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    forAll(textGen, 120)(texts += _)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toSeq.toDF("id", "text")
    val got = LangModel.bigramRows(df, col("text"), Seq(col("id")))
      .select("id", "w1", "w2", "bg").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getString(1), r.getString(2),
        r.getString(3))).toSeq.sorted).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val toks = naiveTokens(t)
      val want =
        if (toks.length < 2) Seq.empty
        else toks.sliding(2).map(p =>
          (p(0), p(1), s"${p(0)} ${p(1)}")).toSeq.sorted
      val have = got.getOrElse(i.toLong, Seq.empty)
      assert(have == want, s"doc $i text=${t.take(40)}")
    }
  }

  test("hashedFeatureRows emits unigrams + bigrams, buckets in range") {
    val s = spark
    import s.implicits._
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    forAll(textGen, 80)(texts += _)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toSeq.toDF("id", "text")
    val counts = LangModel.hashedFeatureRows(df, col("text"), 128,
        Seq(col("id")))
      .groupBy("id").agg(count(lit(1)).as("n"),
        min("bucket").as("mn"), max("bucket").as("mx"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val toks = naiveTokens(t)
      val wantN =
        if (toks == Seq("")) 0L // the empty-doc guard drops it
        else toks.length.toLong + math.max(toks.length - 1, 0)
      counts.get(i.toLong) match {
        case None => assert(wantN == 0L, s"doc $i dropped")
        case Some((n, mn, mx)) =>
          assert(n == wantN, s"doc $i: $n != $wantN")
          assert(mn >= 0L && mx < 128L)
      }
    }
  }

  test("crossEntropyBits bounds: 0 <= bits <= n_bigrams * ceil-log2(cmax + V)") {
    val s = spark
    import s.implicits._
    val train = Seq("a b a b a c", "b a c a").toDF("text")
    val (bi, uni, vocab) = LangModel.trainBigram(train, col("text"))
    val v = vocab.collect().head.getLong(0)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    forAll(textGen, 60)(texts += _)
    val scored = LangModel.crossEntropyBits(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toSeq.toDF("id", "text"),
      Seq(col("id")), col("text"), bi, uni, vocab)
    val maxPerBigram = 64 - java.lang.Long
      .numberOfLeadingZeros(6L + v) // fl2(c_uni_max + V) upper bound
    scored.collect().foreach { r =>
      val nb = r.getAs[Long]("n_bigrams")
      val bits = r.getAs[Long]("bits")
      assert(bits >= 0L)
      assert(bits <= nb * maxPerBigram,
        s"bits=$bits nb=$nb cap=$maxPerBigram")
    }
  }
}
