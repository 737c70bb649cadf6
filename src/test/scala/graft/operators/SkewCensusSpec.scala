package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Exact-rational Gini skew census: hand-computed values on uniform
  * and dominated key sets, the advisor verdict, threshold
  * validation, and partition invariance.
  */
class SkewCensusSpec extends SparkSuite {
  private def census(keys: Seq[String], tn: Long = 2L,
                     td: Long = 5L) = {
    val s = spark
    import s.implicits._
    Layout.skewCensus(keys.toDF("k"), col("k"), tn, td).head()
  }

  test("uniform keys: gini_num = 0, no salt advised") {
    val r = census((1 to 4).flatMap(i => Seq.fill(7)(s"k$i")))
    assert(r.getLong(0) == 4L && r.getLong(1) == 28L)
    assert(r.getLong(2) == 0L)                    // num
    assert(r.getLong(3) == 4L * 28L)              // den
    assert(r.getLong(4) == 7L)
    assert(!r.getBoolean(5))
  }

  test("hand-computed dominated key set trips the advisor") {
    // counts sorted: 1, 1, 10 (n=3, Σx=12)
    // num = (2·1−4)·1 + (2·2−4)·1 + (2·3−4)·10 = −2 + 0 + 20 = 18
    // den = 3·12 = 36 → gini = 1/2 > 2/5
    val r = census(Seq.fill(10)("big") ++ Seq("a", "b"))
    assert(r.getLong(0) == 3L && r.getLong(1) == 12L)
    assert(r.getLong(2) == 18L && r.getLong(3) == 36L)
    assert(r.getLong(4) == 10L)
    assert(r.getBoolean(5))
    // a laxer threshold (3/5) clears the same data
    assert(!census(Seq.fill(10)("big") ++ Seq("a", "b"), 3L, 5L)
      .getBoolean(5))
  }

  test("single key: gini 0/den, never advised") {
    val r = census(Seq.fill(9)("only"))
    assert(r.getLong(0) == 1L && r.getLong(2) == 0L)
    assert(!r.getBoolean(5))
  }

  test("threshold validation") {
    val s = spark
    import s.implicits._
    intercept[IllegalArgumentException] {
      Layout.skewCensus(Seq("a").toDF("k"), col("k"), 1L, 0L)
    }
  }

  test("partition invariance") {
    val rnd = new scala.util.Random(3)
    val keys = (1 to 1000).map(_ => s"k${rnd.nextInt(40)}")
    val s = spark
    import s.implicits._
    val a = census(keys).toSeq
    val b = Layout.skewCensus(keys.toDF("k").repartition(11),
      col("k")).head().toSeq
    assert(a == b)
  }
}
