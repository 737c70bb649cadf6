package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Burst detection on planted histories: a spike over a flat
  * baseline alarms, the same spike without enough history does not,
  * and flat traffic never alarms.
  */
class BurstSpec extends SparkSuite {
  private def events(key: String, perDay: Seq[(Long, Int)]) =
    perDay.flatMap { case (day, n) =>
      (0 until n).map(_ => (key, day))
    }

  test("spike over a flat baseline alarms exactly once") {
    val s = spark
    import s.implicits._
    // 10/day for 7 days, then 50 on day 8, back to 10
    val rows = events("api",
      (1L to 7L).map(_ -> 10) :+ (8L -> 50) :+ (9L -> 10))
    val got = Temporal.burstDays(rows.toDF("k", "d"),
        col("k"), col("d"), windowDays = 7, num = 2L, den = 1L,
        minHistory = 3)
      .select("day", "burst").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(8L), "the 5x spike must alarm")
    // day 9 is back to baseline: trailing mean now includes the
    // spike, 10 is far below 2x of it
    assert(!got(9L))
    // baseline days never alarm
    (4L to 7L).foreach(d => assert(!got(d), s"day $d"))
  }

  test("insufficient history never alarms") {
    val s = spark
    import s.implicits._
    // spike on day 3 with only 2 days of history (minHistory = 3)
    val rows = events("api", Seq(1L -> 10, 2L -> 10, 3L -> 100))
    val got = Temporal.burstDays(rows.toDF("k", "d"),
        col("k"), col("d"), windowDays = 7, num = 2L, den = 1L,
        minHistory = 3)
      .select("day", "burst").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.values.forall(!_))
  }

  test("keys are independent; flat traffic never alarms") {
    val s = spark
    import s.implicits._
    val rows = events("flat", (1L to 10L).map(_ -> 20)) ++
      events("spiky", (1L to 5L).map(_ -> 5) :+ (6L -> 40))
    val got = Temporal.burstDays(rows.toDF("k", "d"),
        col("k"), col("d"), windowDays = 7, num = 2L, den = 1L,
        minHistory = 3)
      .select("key", "day", "burst").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(2))
      .toMap
    assert(got(("spiky", 6L)))
    assert(got.filterKeys(_._1 == "flat").values.forall(!_))
  }
}
