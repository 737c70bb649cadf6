package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Winsorization census: lockstep with a sort-the-list reference on
  * generated data, hand cases (ties across the rank, tiny groups),
  * and the bounds-are-value-copies law.
  */
class WinsorSpec extends SparkSuite {
  private def census(rows: Seq[(String, java.lang.Double)],
                     lo: Int = 1, hi: Int = 99) = {
    val s = spark
    import s.implicits._
    OrderStats.winsorCensus(rows.toDF("g", "x"), col("g"), col("x"),
        lo, hi)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getLong(5), r.getLong(6)))).toMap
  }

  /** Single-node reference: sort, index by the §1.3 rank rule. */
  private def ref(xs: Seq[Double], loP: Int, hiP: Int)
      : (Double, Double, Long, Long) = {
    val s = xs.sorted
    val n = s.length.toLong
    val lo = s(((n * loP) / 100).toInt) // rank rn−1 zero-based
    val hi = s(((n * hiP) / 100).toInt)
    (lo, hi, s.count(_ < lo).toLong, s.count(_ > hi).toLong)
  }

  test("lockstep with the sorted-list reference on generated data") {
    val rnd = new scala.util.Random(19)
    val rows = for {
      g <- Seq("a", "b", "c")
      _ <- 1 to 400
    } yield g -> java.lang.Double.valueOf(
      math.floor(rnd.nextGaussian() * 50) + (if (g == "b") 1000 else 0))
    val got = census(rows)
    Seq("a", "b", "c").foreach { g =>
      val xs = rows.collect { case (`g`, x) => x.doubleValue() }
      val (lo, hi, nl, nh) = ref(xs, 1, 99)
      val (n, nd, gl, gh, cl, ch) = got(g)
      assert(n == 400L && nd == xs.distinct.length.toLong)
      assert(gl == lo && gh == hi, s"group $g bounds")
      assert(cl == nl && ch == nh, s"group $g clip counts")
      // the bounds are actual data values
      assert(xs.contains(gl) && xs.contains(gh))
    }
  }

  test("ties spanning the rank position resolve to the tied value") {
    // 10 rows: 1,2,2,2,2,2,2,2,2,9 with 20/80: lo_rn = 3, hi_rn = 9
    val xs = Seq(1.0, 2, 2, 2, 2, 2, 2, 2, 2, 9)
      .map(java.lang.Double.valueOf)
    val got = census(xs.map("g" -> _), 20, 80)
    val (_, _, lo, hi, cl, ch) = got("g")
    assert(lo == 2.0 && hi == 2.0)
    assert(cl == 1L && ch == 1L) // only 1 below 2, only 9 above
  }

  test("null values are excluded; tiny groups keep bounds in-range") {
    val rows = Seq("g" -> java.lang.Double.valueOf(5.0),
      "g" -> null.asInstanceOf[java.lang.Double],
      "g" -> java.lang.Double.valueOf(7.0))
    val (n, nd, lo, hi, cl, ch) = census(rows)("g")
    assert(n == 2L && nd == 2L)
    assert(lo == 5.0 && hi == 7.0 && cl == 0L && ch == 0L)
  }

  test("percentile bounds validate") {
    val s = spark
    import s.implicits._
    intercept[IllegalArgumentException] {
      OrderStats.winsorCensus(Seq(("g", 1.0)).toDF("g", "x"),
        col("g"), col("x"), 99, 1)
    }
  }
}
