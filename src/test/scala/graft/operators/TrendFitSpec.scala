package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Exact rational OLS trend: hand-computed slopes, the single-day
  * degenerate case, and invariance to row order/partitioning.
  */
class TrendFitSpec extends SparkSuite {
  private def fit(rows: Seq[(String, Long)]) = {
    val s = spark
    import s.implicits._
    Temporal.trendFit(rows.toDF("k", "d"), col("k"), col("d"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))).toMap
  }

  test("hand-computed slopes: up, down, flat, single-day") {
    val rows =
      // A: counts 1,2,3 on days 1,2,3 → slope 6/6 = +1
      Seq.tabulate(3)(i => Seq.fill(i + 1)("A" -> (i + 1).toLong))
        .flatten ++
      // B: counts 3,2,1 on days 1,2,3 → slope −1
      Seq.tabulate(3)(i => Seq.fill(3 - i)("B" -> (i + 1).toLong))
        .flatten ++
      // C: constant 2 per day → num = 0
      Seq.tabulate(3)(i => Seq.fill(2)("C" -> (i + 1).toLong))
        .flatten ++
      // D: one day only → den = 0
      Seq.fill(5)("D" -> 9L)
    val got = fit(rows)
    assert(got("A") == ((3L, 6L, 6L, 6L, "up")))
    assert(got("B") == ((3L, 6L, -6L, 6L, "down")))
    assert(got("C") == ((3L, 6L, 0L, 6L, "flat")))
    assert(got("D") == ((1L, 5L, 0L, 0L, "flat")))
  }

  test("large epoch-day x values stay exact") {
    // days around 20000 (2024-ish); counts 10, 30 → slope 20
    val rows = Seq.fill(10)("K" -> 20000L) ++
      Seq.fill(30)("K" -> 20001L)
    val (n, rowsN, num, den, dir) = fit(rows)("K")
    assert(n == 2L && rowsN == 40L)
    // n·Σxy − Σx·Σy = 2·(20000·10 + 20001·30) − 40001·40
    assert(num == 2L * (20000L * 10 + 20001L * 30) - 40001L * 40)
    assert(den == 2L * (20000L * 20000 + 20001L * 20001) -
      40001L * 40001)
    assert(dir == "up" && num == den * 20)
  }

  test("partition invariance") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(_ =>
      s"k${rnd.nextInt(3)}" -> (19000L + rnd.nextInt(30)))
    val s = spark
    import s.implicits._
    val a = fit(rows)
    val df = rows.toDF("k", "d").repartition(13)
    val b = Temporal.trendFit(df, col("k"), col("d")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(a == b)
  }
}
