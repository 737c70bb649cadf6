package graft.analyzer

import graft.{JobCounts, SparkSuite}
import graft.core._

/** Cross-validation: the distributed analyzer must agree with the
  * reference-faithful in-memory analyzer on identical data (rendered
  * per-column types compared; stats carried by the render strings).
  */
class SparkAnalyzerSpec extends SparkSuite {
  private def columnTypes(t: SType): Map[String, String] = t match {
    case l: SList => l.content match {
      case d: SDict => d.content.map(f =>
        f.key.asInstanceOf[SField].value.toString -> f.value.render)
        .toMap
      case other => Map("" -> other.render)
    }
    case other => Map("" -> other.render)
  }

  test("distributed and in-memory analyzers agree on mixed columns") {
    val s = spark
    import s.implicits._
    val n = 200
    val df = (0 until n).map { i =>
      (i.toLong,                       // unique ints
       "%03o".format(i % 64),          // octal strings, fixed length
       f"2021-03-${i % 28 + 1}%02d 06:00:00", // datetime strings
       i % 2 == 0,                     // bools
       (i % 7).toString,               // decimal digit strings
       s"cat${i % 5}")                 // fixed-length pattern strings
    }.toDF("id", "oct", "when", "flag", "digit", "cat")

    val sparkTypes = columnTypes(
      new SparkAnalyzer().analyzeTable(df))

    val rows: Vector[Any] = df.collect().toVector.map { r =>
      Map[Any, Any]("id" -> r.getLong(0), "oct" -> r.getString(1),
        "when" -> r.getString(2), "flag" -> r.getBoolean(3),
        "digit" -> r.getString(4), "cat" -> r.getString(5))
    }
    val treeTypes = columnTypes(new TreeAnalyzer().analyze(rows))

    sparkTypes.foreach { case (name, rendered) =>
      assert(treeTypes(name) == rendered,
        s"column $name: tree=${treeTypes(name)} spark=$rendered")
    }
  }

  test("over-cap summary path agrees with exact path on numerics") {
    val s = spark
    import s.implicits._
    val df = (0 until 1000).map(i =>
      (i.toLong, i * 1.5)).toDF("a", "b")
    val exact = columnTypes(new SparkAnalyzer(
      exactDistinctCap = 100000).analyzeTable(df))
    val summary = columnTypes(new SparkAnalyzer(
      exactDistinctCap = 2).analyzeTable(df))
    assert(exact == summary, s"\nexact=$exact\nsummary=$summary")
  }

  test("array column analyzed via explode level") {
    val s = spark
    import s.implicits._
    val df = (0 until 50).map(i =>
      (i.toLong, Seq(i.toLong, i + 1L, i + 2L))).toDF("id", "xs")
    val types = columnTypes(new SparkAnalyzer().analyzeTable(df))
    assert(types("xs").startsWith("[int range=0.."), types("xs"))
  }

  test("JSON string column recursion") {
    val s = spark
    import s.implicits._
    val df = (0 until 50).map(i =>
      (i.toLong, s"""{"a": $i, "b": "x$i"}""")).toDF("id", "js")
    val types = columnTypes(new SparkAnalyzer().analyzeTable(df))
    assert(types("js").startsWith("str of {"), types("js"))
    assert(types("js").endsWith("pattern=json"), types("js"))
    // and with the flag off it stays a plain string type
    val off = columnTypes(new SparkAnalyzer(
      parseJsonStrings = false).analyzeTable(df))
    assert(!off("js").contains("json"))
  }

  test("over-cap columns keep a bounded top-K sample sketch") {
    val s = spark
    import s.implicits._
    // 150 distinct values, each appearing twice (non-unique so the
    // sample display rule applies)
    val df = (0 until 300).map(i => (s"k${i % 150}", (i % 150).toLong))
      .toDF("strs", "nums")
    val tree = new SparkAnalyzer(exactDistinctCap = 2, sampleTopK = 4)
      .analyzeTable(df)
    val rendered = graft.core.Render.configured(tree,
      graft.core.RenderOptions(showSamples = true, showRange = 1))
    // both columns carry samples past the cap...
    assert(rendered.contains("samples="), rendered)
    // ...and they are bounded: at most 4 entries per column
    val sampleGroups = rendered.split("samples=").drop(1)
    assert(sampleGroups.nonEmpty)
    sampleGroups.foreach { g =>
      val entries = g.takeWhile(c => c != ',' && c != '\n' && c != '}')
        .count(_ == '×')
      assert(entries <= 4, s"unbounded sample: $g")
    }
    // with the sketch disabled the sample is absent, like round 1
    val off = new SparkAnalyzer(exactDistinctCap = 2, sampleTopK = 0)
      .analyzeTable(df)
    assert(!graft.core.Render.configured(off,
      graft.core.RenderOptions(showSamples = true)).contains("samples="))
  }

  test("an over-cap epoch column's stats never come from its top-K " +
      "sample") {
    // 20 distinct epoch seconds, two rows each: over a cap of 4
    val df = spark.range(40)
      .selectExpr("1600000000 + (id % 20) * 60 AS t")
    def epochStats(topK: Int): Stats =
      new SparkAnalyzer(exactDistinctCap = 4, sampleTopK = topK)
        .analyzeTable(df) match {
        case l: SList => l.content match {
          case d: SDict => d.content.head.value match {
            case SNumRepr(SDateTime(s), _, _, _) => s
            case other => fail(s"not an epoch: ${other.render}")
          }
          case other => fail(s"not a record: ${other.render}")
        }
        case other => fail(s"not a table: ${other.render}")
      }
    val (top2, top0) = (epochStats(2), epochStats(0))
    assert(top0.card == 40)
    assert(top2.card == top0.card)
    assert(Seq(top2.q1, top2.q2, top2.q3, top2.max) ==
      Seq(top0.q1, top0.q2, top0.q3, top0.max))
    assert(top2.max == java.time.Instant.ofEpochSecond(1600001140L))
    assert(top2.sample.isEmpty)
  }

  test("counter byte budget demotes oversized columns to summary") {
    val s = spark
    import s.implicits._
    // a zero budget forces every column onto the summary path even
    // though the distinct cap would admit them (the driver-OOM guard
    // for wide low-cardinality columns); results must not change
    val df = (0 until 1000).map(i =>
      (i.toLong, i * 1.5, s"v${i % 40}")).toDF("a", "b", "c")
    val exact = columnTypes(new SparkAnalyzer(
      exactDistinctCap = 100000).analyzeTable(df))
    val budgeted = columnTypes(new SparkAnalyzer(
      exactDistinctCap = 100000,
      counterByteBudget = 0L).analyzeTable(df))
    assert(exact("a") == budgeted("a"), budgeted)
    assert(exact("b") == budgeted("b"), budgeted)
    // the string column's demotion keeps the same inferred type
    assert(budgeted("c").startsWith("str"), budgeted)
  }

  test("approx-percentile sketch path agrees with exact quartiles") {
    val s = spark
    import s.implicits._
    // force BOTH the over-cap summary path AND the GK-sketch quartile
    // degradation (the true 100 TB path); at this size the
    // 1/10000-accuracy sketch returns the exact order statistics, so
    // the rendered types must be identical
    val df = (0 until 1000).map(i => (i.toLong, i * 1.5)).toDF("a", "b")
    val exact = columnTypes(new SparkAnalyzer(
      exactDistinctCap = 2).analyzeTable(df))
    val sketch = columnTypes(new SparkAnalyzer(
      exactDistinctCap = 2, exactPctCap = 10).analyzeTable(df))
    assert(exact == sketch, s"\nexact=$exact\nsketch=$sketch")
  }

  test("over-cap summary path launches O(1) jobs per level") {
    val s = spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    // every column over-cap (cap=4, 101 distinct values each); job
    // count must not grow with column count: one wide witness pass +
    // one batched length-counter pass + one wide summary pass + (when
    // the sample sketch is on) one batched top-K pass
    def jobsFor(numCols: Int, topK: Int): Int = {
      val base = (0 until 300).toDF("i")
      val cols = base.col("i").cast("long").as("id") +:
        (0 until numCols).map(k => concat(lit(s"v${k}_"),
          (base.col("i") % 101).cast("string")).as(s"s$k"))
      val df = base.select(cols: _*)
      JobCounts.inGroup(s, s"graft-jobcount-$numCols-$topK") {
        new SparkAnalyzer(exactDistinctCap = 4, sampleTopK = topK)
          .analyzeTable(df)
      }
    }
    val j6 = jobsFor(6, topK = 0)
    val j18 = jobsFor(18, topK = 0)
    assert(j6 > 0)
    assert(j18 == j6, s"jobs grew with column count: $j6 -> $j18")
    // the display-sample sketch used to cost one TakeOrdered job per
    // over-cap column; it is now one batched job per level
    val j6s = jobsFor(6, topK = 4)
    val j18s = jobsFor(18, topK = 4)
    assert(j18s == j6s,
      s"sample jobs grew with column count: $j6s -> $j18s")
  }

  test("sibling arrays/maps batch: jobs(k) == jobs(1) per level") {
    val s = spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    // k sibling scalar arrays + their lengths previously cost k
    // explode levels of 2-6 jobs each; the pass-5 batches pin the
    // level's job count constant in k
    def jobsFor(numArrays: Int): Int = {
      val base = (0 until 200).toDF("i")
      val cols = base.col("i").cast("long").as("id") +:
        (0 until numArrays).map(k => array(
          concat(lit(s"a${k}_"), (base.col("i") % 7).cast("string")),
          concat(lit(s"b${k}_"), (base.col("i") % 5).cast("string"))
        ).as(s"xs$k"))
      val df = base.select(cols: _*)
      JobCounts.inGroup(s, s"graft-nested-jobcount-$numArrays") {
        new SparkAnalyzer().analyzeTable(df)
      }
    }
    val j1 = jobsFor(1)
    val j6 = jobsFor(6)
    assert(j1 > 0)
    assert(j6 == j1, s"jobs grew with sibling array count: $j1 -> $j6")
  }

  test("distributed and in-memory analyzers agree on sibling " +
      "arrays and maps") {
    val s = spark
    import s.implicits._
    val n = 60
    // variable lengths: same-length rows would read as TUPLES in the
    // in-memory analyzer (per-position types), a different shape
    def ints(i: Int) = (0 to i % 3).map(j => (i + j).toLong)
    def strs(i: Int) = (0 to (i + 1) % 2).map(j => s"cat${(i + j) % 5}")
    val df = (0 until n).map { i =>
      (i.toLong, ints(i), strs(i),
       Map(s"k${i % 3}" -> (i % 10).toLong))   // map str -> int
    }.toDF("id", "xs", "ys", "m")
    val sparkTypes = columnTypes(new SparkAnalyzer().analyzeTable(df))
    val rows: Vector[Any] = (0 until n).toVector.map { i =>
      Map[Any, Any]("id" -> i.toLong,
        "xs" -> ints(i).toVector, "ys" -> strs(i).toVector)
    }
    val treeTypes = columnTypes(new TreeAnalyzer().analyze(rows))
    // arrays must agree exactly with the in-memory reference path
    Seq("id", "xs", "ys").foreach { name =>
      assert(treeTypes(name) == sparkTypes(name),
        s"column $name: tree=${treeTypes(name)} " +
          s"spark=${sparkTypes(name)}")
    }
    // the MapType column keeps the schema-driven key→value form (the
    // in-memory analyzer sees dynamic dicts and splits per key — a
    // different input shape, not comparable here)
    assert(sparkTypes("m").contains("str pattern=k"), sparkTypes("m"))
    assert(sparkTypes("m").contains("int range=0..9"), sparkTypes("m"))
  }

  test("null-heavy column discounts nulls like the reference") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i =>
      (i.toLong, if (i < 95) Some(i.toLong) else None)).toDF("id", "v")
    val types = columnTypes(new SparkAnalyzer().analyzeTable(df))
    assert(types("v").startsWith("int range=0..94"), types("v"))
  }
}
