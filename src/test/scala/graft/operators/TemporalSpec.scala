package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** As-of join and sessionization semantics on controlled fixtures:
  * inclusive equal-ts matches, tolerance boundaries, null keys/
  * timestamps (a null never matches, like the SQL predicate), and the
  * hot-key time-bucket pre-split agreeing with the unbucketed form.
  */
class TemporalSpec extends SparkSuite {
  private def leftDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Some("a"), Some(10L)),  // equal-ts: inclusive match
      (2L, Some("a"), Some(20L)),  // latest earlier state wins
      (3L, Some("a"), Some(5L)),   // nothing at or before -> null
      (4L, Some("b"), Some(10L)),  // right state only later -> null
      (5L, None, Some(10L)),       // null key matches NOTHING
      (6L, Some("c"), Some(10L)),  // right ts null -> never matches
      (7L, Some("a"), None))       // null left ts matches nothing
      .toDF("id", "k", "ts")
  }

  private def rightDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (Some("a"), Some(10L), "s-a10"),
      (Some("a"), Some(15L), "s-a15"),
      (Some("b"), Some(12L), "s-b12"),
      (None, Some(9L), "s-null"),    // null-key state: dropped
      (Some("c"), None, "s-cnull"))  // null-ts state: dropped
      .toDF("k", "ts", "state")
  }

  private def matches(df: DataFrame): Map[Long, Option[String]] =
    df.collect().map(r => r.getLong(0) ->
      Option(r.getAs[String]("state"))).toMap

  test("asOfJoin: latest state at event time, inclusive; nulls " +
      "never match") {
    val out = Temporal.asOfJoin(leftDf, rightDf, Seq("k"), "ts", "ts")
    assert(out.columns.toSeq == Seq("id", "k", "ts", "state"))
    val m = matches(out)
    assert(m == Map(
      1L -> Some("s-a10"), 2L -> Some("s-a15"), 3L -> None,
      4L -> None, 5L -> None, 6L -> None, 7L -> None), m)
  }

  test("asOfJoin tolerance: inclusive boundary, older matches null " +
      "out") {
    val s = spark
    import s.implicits._
    val left = leftDf.unionByName(
      Seq((8L, Some("a"), Some(19L))).toDF("id", "k", "ts"))
    val m = matches(Temporal.asOfJoin(left, rightDf, Seq("k"),
      "ts", "ts", tolerance = Some(4L)))
    // id 8: 19-15 = 4 = tolerance -> kept (inclusive)
    assert(m(8L) == Some("s-a15"), m)
    // id 2: 20-15 = 5 > 4 -> nulled out
    assert(m(2L) == None, m)
    // id 1: exact-ts match, distance 0 -> kept
    assert(m(1L) == Some("s-a10"), m)
  }

  test("asOfJoin is partitioning-independent") {
    val base = matches(Temporal.asOfJoin(leftDf, rightDf, Seq("k"),
      "ts", "ts"))
    val again = matches(Temporal.asOfJoin(leftDf.repartition(7),
      rightDf.repartition(5), Seq("k"), "ts", "ts"))
    assert(again == base)
  }

  test("asOfJoin rejects colliding column names") {
    val s = spark
    import s.implicits._
    val bad = leftDf.withColumn("__ts", col("ts"))
    intercept[IllegalArgumentException] {
      Temporal.asOfJoin(bad, rightDf, Seq("k"), "ts", "ts")
    }
    // right payload colliding with a left column
    val badRight = rightDf.withColumnRenamed("state", "id")
    intercept[IllegalArgumentException] {
      Temporal.asOfJoin(leftDf, badRight, Seq("k"), "ts", "ts")
    }
  }

  test("asOfJoin timeBuckets: bucketed == unbucketed on a hot key") {
    val s = spark
    import s.implicits._
    // one hot key with dense events + sparse states, one normal key,
    // plus null-key and null-ts rows riding along
    val hotLeft = (0L until 200L).map(t => (1000L + t, Some("hot"),
      Some(t)))
    val left = (hotLeft ++ Seq(
      (1L, Some("x"), Some(50L)), (2L, None, Some(3L)),
      (3L, Some("hot"), None))).toDF("id", "k", "ts")
    val right = ((0L until 20L).map(i => (Some("hot"), Some(i * 10L),
      s"st$i")) ++ Seq((Some("x"), Some(49L), "sx"),
      (None, Some(1L), "snull"))).toDF("k", "ts", "state")
    val base = matches(Temporal.asOfJoin(left, right, Seq("k"),
      "ts", "ts"))
    assert(base(1000L) == Some("st0") && base(1199L) == Some("st19"))
    assert(base(1L) == Some("sx") && base(2L) == None &&
      base(3L) == None)
    for (n <- Seq(3, 7, 64)) {
      val bucketed = matches(Temporal.asOfJoin(left, right, Seq("k"),
        "ts", "ts", timeBuckets = n))
      assert(bucketed == base, s"timeBuckets=$n diverged")
    }
    // with tolerance: the boundary-state carry keeps the original
    // right ts inside the payload struct, so tolerance nulling is
    // identical across bucket widths
    val tolBase = matches(Temporal.asOfJoin(left, right, Seq("k"),
      "ts", "ts", tolerance = Some(5L)))
    val tolBucketed = matches(Temporal.asOfJoin(left, right, Seq("k"),
      "ts", "ts", tolerance = Some(5L), timeBuckets = 7))
    assert(tolBucketed == tolBase)
    // narrower integral ts types: the pre-flight bounds read back
    // uniformly as long
    val bucketedInt = matches(Temporal.asOfJoin(
      left.withColumn("ts", col("ts").cast("int")),
      right.withColumn("ts", col("ts").cast("int")),
      Seq("k"), "ts", "ts", timeBuckets = 5))
    assert(bucketedInt == base)
  }

  test("sessionize: gap boundary is exclusive, per-key 0-based index") {
    val s = spark
    import s.implicits._
    val df = Seq(("u", 0L), ("u", 100L), ("u", 200L), ("u", 301L),
      ("v", 50L)).toDF("k", "ts")
    val out = Temporal.sessionize(df, "k", "ts", gap = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getLong(2)).toMap
    // diffs of exactly `gap` stay in-session; strictly greater splits
    assert(out == Map(("u", 0L) -> 0L, ("u", 100L) -> 0L,
      ("u", 200L) -> 0L, ("u", 301L) -> 1L, ("v", 50L) -> 0L), out)
  }

  test("sessionize: TimestampType gaps in microseconds") {
    val s = spark
    import s.implicits._
    val df = Seq(("u", 0L), ("u", 900000L), ("u", 2000001L))
      .toDF("k", "us")
      .select(col("k"), timestamp_micros(col("us")).as("t"))
    val sessions = Temporal.sessionize(df, "k", "t", gap = 1000000L)
      .select(col("session")).collect().map(_.getLong(0)).sorted
    // 0 -> 0.9s (gap 0.9s <= 1s) -> 2.000001s (gap 1.100001s > 1s)
    assert(sessions.sameElements(Array(0L, 0L, 1L)), sessions.toSeq)
  }

  test("sessionize: TIMESTAMP_NTZ gaps in microseconds, equal to " +
      "the long-micros result") {
    val s = spark
    import s.implicits._
    val base = Seq(("u", 0L), ("u", 900000L), ("u", 2000001L),
      ("v", 5L)).toDF("k", "us")
    val longSess = Temporal.sessionize(base, "k", "us",
        gap = 1000000L)
      .select(col("k"), col("us"), col("session")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ntz = base.select(col("k"),
      timestamp_micros(col("us")).cast("timestamp_ntz").as("t"))
    assert(ntz.schema("t").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val ntzSess = Temporal.sessionize(ntz, "k", "t", gap = 1000000L)
      .select(col("k"),
        unix_micros(col("t").cast("timestamp")).as("us"),
        col("session")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ntzSess == longSess)
  }

  test("asOfJoin timeBuckets + tolerance accept TIMESTAMP_NTZ / " +
      "TIMESTAMP and agree with the integral-micros result") {
    val s = spark
    import s.implicits._
    val hotLeft = (0L until 120L).map(t => (1000L + t, Some("hot"),
      Some(t)))
    val left = (hotLeft ++ Seq(
      (1L, Some("x"), Some(50L)), (2L, None, Some(3L)),
      (3L, Some("hot"), None))).toDF("id", "k", "ts")
    val right = ((0L until 12L).map(i => (Some("hot"), Some(i * 10L),
      s"st$i")) ++ Seq((Some("x"), Some(49L), "sx")))
      .toDF("k", "ts", "state")
    def toNtz(df: DataFrame) = df.withColumn("ts",
      timestamp_micros(col("ts")).cast("timestamp_ntz"))
    def toTs(df: DataFrame) = df.withColumn("ts",
      timestamp_micros(col("ts")))
    val base = matches(Temporal.asOfJoin(left, right, Seq("k"),
      "ts", "ts", timeBuckets = 7))
    val ntz = matches(Temporal.asOfJoin(toNtz(left), toNtz(right),
      Seq("k"), "ts", "ts", timeBuckets = 7))
    assert(ntz == base)
    val instant = matches(Temporal.asOfJoin(toTs(left), toTs(right),
      Seq("k"), "ts", "ts", timeBuckets = 5))
    assert(instant == base)
    val tolBase = matches(Temporal.asOfJoin(left, right, Seq("k"),
      "ts", "ts", tolerance = Some(5L)))
    val tolNtz = matches(Temporal.asOfJoin(toNtz(left), toNtz(right),
      Seq("k"), "ts", "ts", tolerance = Some(5L)))
    assert(tolNtz == tolBase)
    // mixed kinds are a unit bug (integral-vs-epoch-micros, or
    // instant-vs-wall-clock epochs): reject, never silently skew
    intercept[IllegalArgumentException] {
      Temporal.asOfJoin(left, toNtz(right), Seq("k"), "ts", "ts",
        timeBuckets = 3)
    }
    intercept[IllegalArgumentException] {
      Temporal.asOfJoin(toTs(left), toNtz(right), Seq("k"), "ts",
        "ts", tolerance = Some(5L))
    }
  }

  test("sessionize rejects a pre-existing session column and " +
      "non-temporal ts types") {
    val s = spark
    import s.implicits._
    val df = Seq(("u", 1L, 0L)).toDF("k", "ts", "session")
    intercept[IllegalArgumentException] {
      Temporal.sessionize(df, "k", "ts", 10L)
    }
    val strTs = Seq(("u", "2024-01-01")).toDF("k", "ts")
    intercept[IllegalArgumentException] {
      Temporal.sessionize(strTs, "k", "ts", 10L)
    }
  }

  // ---- rangeJoin ---------------------------------------------------

  private def rjLeft: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Some("a"), Some(10L)),   // == start: inclusive
      (2L, Some("a"), Some(20L)),   // == end: inclusive
      (3L, Some("a"), Some(15L)),   // inside two overlapping windows
      (4L, Some("a"), Some(21L)),   // just past end
      (5L, Some("b"), Some(15L)),   // right key match only
      (6L, None, Some(15L)),        // null key matches nothing
      (7L, Some("a"), None),        // null ts matches nothing
      (8L, Some("a"), Some(-25L)))  // negative-ts bucket coverage
      .toDF("id", "k", "ts")
  }

  private def rjRight: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (Some("a"), Some(10L), Some(20L), "w1"),
      (Some("a"), Some(14L), Some(16L), "w2"),  // overlaps w1
      (Some("b"), Some(0L), Some(100L), "w3"),
      (Some("a"), Some(30L), Some(25L), "w4"),  // end < start: dropped
      (None, Some(0L), Some(100L), "w5"),       // null key: dropped
      (Some("a"), None, Some(9L), "w6"),        // null bound: dropped
      (Some("a"), Some(-30L), Some(-20L), "w7")) // negative window
      .toDF("k", "ws", "we", "win")
  }

  private def rjPairs(bucketWidth: Long): Set[(Long, String)] =
    Temporal.rangeJoin(rjLeft, rjRight, Seq("k"), "ts", "ws", "we",
        bucketWidth)
      .select(col("id"), col("win")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private val rjExpected = Set(
    1L -> "w1", 2L -> "w1", 3L -> "w1", 3L -> "w2", 5L -> "w3",
    8L -> "w7")

  test("rangeJoin: inclusive containment, nulls and degenerate " +
      "windows never match, negative ts covered") {
    assert(rjPairs(bucketWidth = 7L) == rjExpected)
  }

  test("rangeJoin agrees with the naive theta-join at any bucket " +
      "width") {
    val naive = rjLeft.as("l").join(rjRight.as("r"),
        col("l.k") === col("r.k") && col("l.ts") >= col("r.ws") &&
          col("l.ts") <= col("r.we"))
      .select(col("l.id"), col("r.win")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(naive == rjExpected) // fixture sanity
    for (w <- Seq(1L, 3L, 1000L)) assert(rjPairs(w) == rjExpected,
      s"bucketWidth $w diverges from the theta-join")
  }

  test("rangeJoin guard refuses an under-sized bucketWidth") {
    val e = intercept[IllegalArgumentException] {
      rjPairs(bucketWidth = 7L) // fine
      Temporal.rangeJoin(rjLeft, rjRight, Seq("k"), "ts", "ws", "we",
        bucketWidth = 1L, maxBucketsPerInterval = 10L)
    }
    assert(e.getMessage.contains("bucketWidth"))
  }

  test("rangeJoin == theta-join on seeded random fixtures at " +
      "random bucket widths") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 4) {
      val left = (1 to 60).map { i =>
        (i.toLong, rnd.nextInt(3).toString,
          rnd.nextLong() % 500L) // negatives included
      }.toDF("id", "k", "ts")
      val right = (1 to 25).map { i =>
        val st = rnd.nextLong() % 400L
        (rnd.nextInt(3).toString, st,
          st + rnd.nextInt(120) - 10L, // ~8% degenerate end < start
          s"w$i")
      }.toDF("k", "ws", "we", "win")
      val naive = left.as("l").join(right.as("r"),
          col("l.k") === col("r.k") && col("l.ts") >= col("r.ws") &&
            col("l.ts") <= col("r.we"))
        .select(col("l.id"), col("r.win")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val w = 1L + rnd.nextInt(200)
      val got = Temporal.rangeJoin(left, right, Seq("k"), "ts",
          "ws", "we", bucketWidth = w)
        .select(col("id"), col("win")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == naive, s"round $round width $w")
      assert(naive.nonEmpty, s"round $round fixture degenerate")
    }
  }

  test("rangeJoin accepts TIMESTAMP_NTZ bounds (micros buckets, " +
      "pre-epoch values included) and rejects mixed bound types") {
    def ntz(c: org.apache.spark.sql.Column) =
      timestamp_micros(c).cast("timestamp_ntz")
    val l = rjLeft.withColumn("ts", ntz(col("ts")))
    val r = rjRight.withColumn("ws", ntz(col("ws")))
      .withColumn("we", ntz(col("we")))
    val got = Temporal.rangeJoin(l, r, Seq("k"), "ts", "ws", "we",
        bucketWidth = 7L)
      .select(col("id"), col("win")).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    assert(got == rjExpected)
    // one timestamp side against integral bounds is a unit bug, not
    // a silently-wrong join
    intercept[IllegalArgumentException] {
      Temporal.rangeJoin(l, rjRight, Seq("k"), "ts", "ws", "we", 7L)
    }
    // TIMESTAMP mixed with TIMESTAMP_NTZ skews by the session tz:
    // also rejected
    val rMixed = rjRight
      .withColumn("ws", timestamp_micros(col("ws")))
      .withColumn("we", timestamp_micros(col("we")))
    intercept[IllegalArgumentException] {
      Temporal.rangeJoin(l, rMixed, Seq("k"), "ts", "ws", "we", 7L)
    }
  }

  test("rangeJoin rejects colliding non-key columns") {
    val s = spark
    import s.implicits._
    val bad = Seq((Some("a"), Some(0L), Some(1L), 9L))
      .toDF("k", "ws", "we", "ts") // 'ts' collides with left
    intercept[IllegalArgumentException] {
      Temporal.rangeJoin(rjLeft, bad, Seq("k"), "ts", "ws", "we", 10L)
    }
  }
  test("decayedCounts: exact dyadic half-life weights, horizon cut, " +
      "exact double score") {
    val s = spark
    import s.implicits._
    // day 100 is the max; half-life 2 days, horizon 8 days -> H = 4
    // weights: age 0-1 -> 16, 2-3 -> 8, 4-5 -> 4, 6-7 -> 2,
    // 8(-9) -> 1, age > 9 (hl > 4) -> cut
    val rows = Seq(
      ("a", 100L), ("a", 99L),   // 16 + 16
      ("a", 97L),                // 8
      ("a", 92L),                // 4... age 8 -> hl 4 -> weight 1
      ("a", 80L),                // cut (hl 10)
      ("b", 96L),                // age 4 -> hl 2 -> 4
      ("b", 91L))                // age 9 -> hl 4 -> 1
    val out = Temporal.decayedCounts(rows.toDF("k", "day"),
        col("day"), col("k"), halfLifeDays = 2, horizonDays = 8)
      .collect().map(r => r.getAs[String]("key") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("score_scaled"),
          r.getAs[Double]("score"))).toMap
    assert(out("a") === ((4L, 16L + 16L + 8L + 1L, 41.0 / 16.0)))
    assert(out("b") === ((2L, 4L + 1L, 5.0 / 16.0)))
    // the double is EXACT (dyadic / power of two)
    assert(out("a")._3 * 16.0 === out("a")._2.toDouble)
  }
  test("slidingActiveUsers: exact windowed distinct, no " +
      "double-count, trimmed at max day") {
    val s = spark
    import s.implicits._
    // u1 active on days 10 and 12 (must count ONCE in any window
    // covering both); u2 on day 12 only; u3 on day 1 (outside any
    // window that includes day 10+)
    val rows = Seq(
      (10L, "u1"), (10L, "u1"), (12L, "u1"), (12L, "u2"), (1L, "u3"))
    val out = Temporal.slidingActiveUsers(rows.toDF("day", "u"),
        col("day"), col("u"), windowDays = 3)
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("active_users"), r.getAs[Long]("n_events")))
      .toMap
    // day 12 window = days 10..12: u1 (3 events), u2 (1) -> 2 users
    assert(out(12L) === ((2L, 4L)))
    // day 11 window = 9..11: only u1's day-10 activity
    assert(out(11L) === ((1L, 2L)))
    // day 10 window = 8..10: u1
    assert(out(10L) === ((1L, 2L)))
    // u3 contributes to days 1..3 only
    assert(out(1L) === ((1L, 1L)))
    assert(out(3L) === ((1L, 1L)))
    // nothing past the max data day
    assert(!out.contains(13L) && !out.contains(14L))
  }
}

/** Mixture-rate sampling and the quota-sample shortfall detector. */
class SamplingMixtureSpec extends SparkSuite {
  private def corpus: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 400).map { i =>
      val g = i % 4 match {
        case 0 => Some("g0")
        case 1 => Some("g1")
        case 2 => Some("g2")
        case _ => None // null group takes the default rate
      }
      (i.toLong, g)
    }.toDF("id", "g")
  }

  test("mixtureSample: each group filtered at its own rate, " +
      "default for the rest") {
    val rates = Map("g0" -> ((1L, 2L)), "g1" -> ((1L, 4L)))
    val got = Sampling.mixtureSample(corpus, col("g"), col("id"),
        rates, default = (1L, 8L))
      .collect().map(r => (r.getLong(0),
        Option(r.getAs[String]("g")))).toSet
    // per-group expectation: hashSample at that group's rate,
    // restricted to the group
    val expected = Seq(
      (Some("g0"), 1L, 2L), (Some("g1"), 1L, 4L),
      (Some("g2"), 1L, 8L), (None, 1L, 8L)).flatMap {
      case (g, n, d) =>
        Sampling.hashSample(corpus.where(
            if (g.isEmpty) col("g").isNull else col("g") === g.get),
          col("id"), n, d)
          .collect().map(r => (r.getLong(0),
            Option(r.getAs[String]("g"))))
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < 400)
  }

  test("mixtureSample: nested-sample property — kept at 1/4 implies " +
      "kept at 1/2") {
    def keep(num: Long, den: Long): Set[Long] =
      Sampling.mixtureSample(corpus, col("g"), col("id"),
          Map("g0" -> ((num, den))), default = (num, den))
        .collect().map(_.getLong(0)).toSet
    val q = keep(1L, 4L)
    val h = keep(1L, 2L)
    assert(q.subsetOf(h), s"not nested: ${q -- h}")
    assert(q.nonEmpty && h.size > q.size)
    // partitioning-independent membership
    val again = Sampling.mixtureSample(corpus.repartition(7),
        col("g"), col("id"), Map("g0" -> ((1L, 4L))),
        default = (1L, 4L))
      .collect().map(_.getLong(0)).toSet
    assert(again == q)
  }

  test("mixtureSample validates every rate, including a group " +
      "named like the old sentinel") {
    intercept[IllegalArgumentException] {
      Sampling.mixtureSample(corpus, col("g"), col("id"),
        Map("g0" -> ((3L, 2L))))
    }
    intercept[IllegalArgumentException] {
      Sampling.mixtureSample(corpus, col("g"), col("id"),
        Map.empty, default = (1L, 1L << 31))
    }
    // a group literally named "(default)" no longer shadows its own
    // rate past validation
    intercept[IllegalArgumentException] {
      Sampling.mixtureSample(corpus, col("g"), col("id"),
        Map("(default)" -> ((1L, 1L << 31))))
    }
  }

  test("quotaShortfall: null-keyed and zero-survivor groups are " +
      "detected") {
    val s = spark
    import s.implicits._
    val cnts = Seq((Some("a"), 10L), (None, 10L), (Some("z"), 10L),
      (Some("t"), 3L)).toDF("__g", "__cnt")
    // group a fully filled; null group short; z has ZERO survivors
    // (absent from the survivor side entirely); t is under quota and
    // fully present
    val scnts = Seq((Some("a"), 5L), (None, 2L), (Some("t"), 3L))
      .toDF("__g3", "__scnt")
    val short = Sampling.quotaShortfall(cnts, scnts, quota = 5)
      .select(col("__g")).collect()
      .map(r => Option(r.getString(0))).toSet
    assert(short == Set(None, Some("z")), short)
    // nothing short -> empty
    val full = Seq((Some("a"), 5L), (None, 5L), (Some("z"), 5L),
      (Some("t"), 3L)).toDF("__g3", "__scnt")
    assert(Sampling.quotaShortfall(cnts, full, quota = 5).isEmpty)
  }

}
