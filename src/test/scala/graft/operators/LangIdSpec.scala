package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Trained char-bigram language ID in lockstep with an independent
  * single-node naive-Bayes reference: same counts, same whole-bit
  * add-one costs, same (bits, label) argmin — on every scored doc.
  */
class LangIdSpec extends SparkSuite {
  private val train: Seq[(String, String)] = Seq(
    "en" -> "the cat sat on the mat with the hat",
    "en" -> "she sells sea shells by the sea shore",
    "en" -> "a bird in the hand is worth two in the bush",
    "de" -> "der hund laeuft schnell durch den wald",
    "de" -> "die schule beginnt frueh am morgen",
    "de" -> "ein schoenes lied erklingt ueber dem tal",
    "fi" -> "kissa istuu ikkunalla ja katselee ulos",
    "fi" -> "jaervi on kaunis kesaellae aamulla",
    "fi" -> "sauna laempiaeae illalla rannalla")

  private val tests: Seq[(String, String)] = Seq(
    "en" -> "the dog sat by the shore with a shell",
    "de" -> "der wald erklingt frueh am morgen",
    "fi" -> "kesaellae kissa istuu rannalla")

  // ---- independent single-node reference --------------------------
  private def fl2(n: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(n)

  private def refModel: (Seq[String], Map[(String, String), Long],
      Map[String, Long], Long) = {
    val grams = train.flatMap { case (l, t) =>
      t.sliding(2).filter(_.length == 2).map(g => (l, g))
    }
    val labels = grams.map(_._1).distinct.sorted
    val counts = grams.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong
    }
    val nPer = labels.map(l =>
      l -> grams.count(_._1 == l).toLong).toMap
    val v = grams.map(_._2).distinct.size.toLong
    (labels, counts, nPer, v)
  }

  private def refScore(text: String): (String, Long) = {
    val (labels, counts, nPer, v) = refModel
    val scored = labels.map { l =>
      val bits = text.sliding(2).filter(_.length == 2).map { g =>
        fl2(nPer(l) + v) - fl2(counts.getOrElse((l, g), 0L) + 1L)
      }.sum
      (bits, l)
    }
    val (b, l) = scored.min
    (l, b)
  }

  test("engine predictions and bit scores equal the reference on " +
      "every scored doc, and the held-out sentences classify right") {
    val s = spark
    import s.implicits._
    val model = LangModel.trainLangId(
      train.toDF("l", "t"), col("l"), col("t"))
    assert(model.labels === Seq("de", "en", "fi"))
    val rows = tests.toDF("true_l", "t")
      .select(col("true_l"), col("t"),
        LangModel.langIdStruct(model, col("t")).as("r"))
      .select(col("true_l"), col("t"),
        col("r.pred").as("pred"), col("r.bits").as("bits"))
      .collect()
    rows.foreach { r =>
      val (refPred, refBits) = refScore(r.getString(1))
      assert(r.getString(2) === refPred, s"pred for: ${r.getString(1)}")
      assert(r.getLong(3) === refBits, s"bits for: ${r.getString(1)}")
      assert(r.getString(2) === r.getString(0),
        s"misclassified: ${r.getString(1)}")
    }
  }

  test("unseen-gram documents still score (default costs), and a " +
      "sub-bigram text reports NULL") {
    val s = spark
    import s.implicits._
    val model = LangModel.trainLangId(
      train.toDF("l", "t"), col("l"), col("t"))
    val rows = Seq("zzzz qqqq xxxx", "a", "")
      .toDF("t")
      .select(LangModel.langIdStruct(model, col("t")).as("r"))
      .select(col("r.pred"), col("r.bits")).collect()
    val (refPred, refBits) = refScore("zzzz qqqq xxxx")
    assert(rows(0).getString(0) === refPred)
    assert(rows(0).getLong(1) === refBits)
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }

  // n-gram reference (generalizes refScore to any order)
  private def refScoreN(text: String, n: Int): (String, Long) = {
    val grams = train.flatMap { case (l, t) =>
      t.sliding(n).filter(_.length == n).map(g => (l, g))
    }
    val labels = grams.map(_._1).distinct.sorted
    val counts = grams.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong
    }
    val nPer = labels.map(l =>
      l -> grams.count(_._1 == l).toLong).toMap
    val v = grams.map(_._2).distinct.size.toLong
    val scored = labels.map { l =>
      val bits = text.sliding(n).filter(_.length == n).map { g =>
        fl2(nPer(l) + v) - fl2(counts.getOrElse((l, g), 0L) + 1L)
      }.sum
      (bits, l)
    }
    val (b, l) = scored.min
    (l, b)
  }

  test("char-TRIGRAM model (n = 3) stays in lockstep with the " +
      "reference and still classifies the held-out sentences") {
    val s = spark
    import s.implicits._
    val model = LangModel.trainLangId(
      train.toDF("l", "t"), col("l"), col("t"), n = 3)
    assert(model.n === 3)
    val rows = tests.toDF("true_l", "t")
      .select(col("true_l"), col("t"),
        LangModel.langIdStruct(model, col("t")).as("r"))
      .select(col("true_l"), col("t"),
        col("r.pred").as("pred"), col("r.bits").as("bits"))
      .collect()
    rows.foreach { r =>
      val (refPred, refBits) = refScoreN(r.getString(1), 3)
      assert(r.getString(2) === refPred, s"pred: ${r.getString(1)}")
      assert(r.getLong(3) === refBits, s"bits: ${r.getString(1)}")
      assert(r.getString(2) === r.getString(0),
        s"misclassified: ${r.getString(1)}")
    }
    // a 2-char text is sub-gram at n = 3 -> NULL
    val nul = Seq("ab").toDF("t")
      .select(LangModel.langIdStruct(model, col("t")).as("r"))
      .select(col("r.pred")).head()
    assert(nul.isNullAt(0))
  }

  test("the plan-size ceiling trips with the knobs named") {
    val s = spark
    import s.implicits._
    val ex = intercept[IllegalArgumentException] {
      LangModel.trainLangId(train.toDF("l", "t"), col("l"),
        col("t"), n = 3, maxPlanCells = 10L)
    }
    assert(ex.getMessage.contains("maxPlanCells"))
    assert(ex.getMessage.contains("hashClassifierScore"))
  }

  test("the census diagonal dominates on the fixture languages") {
    val s = spark
    import s.implicits._
    val model = LangModel.trainLangId(
      train.toDF("l", "t"), col("l"), col("t"))
    val census = LangModel.langIdCensus(
        tests.toDF("l", "t"), col("l"), model, col("t"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(census === Map(("en", "en") -> 1L, ("de", "de") -> 1L,
      ("fi", "fi") -> 1L))
  }
}
