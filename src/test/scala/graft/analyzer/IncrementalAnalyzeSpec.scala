package graft.analyzer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core._
import graft.SparkSuite

/** Incremental analysis: `analyzeIncremental(analyzeTable(a), b)`
  * against `analyzeTable(a union b)` — the delta-ingest contract.
  * On the exact-counter path the equality is total (the merge monoid
  * recomputes quartiles from merged counters); on the over-cap
  * summary path the reference's own merge convention applies (exact
  * card/min/max, big-side quartiles) and the fixtures pin the cases
  * where that convention is still whole-corpus-exact.
  */
class IncrementalAnalyzeSpec extends SparkSuite {
  /** Mixed-type fixture: int, float, bool, plain strings, a nullable
    * column, and a JSON-string column (exercises the recursive
    * parse), all well under the distinct cap.
    */
  private def fixture: DataFrame = {
    val s = spark
    import s.implicits._
    (0L until 40L).map { i =>
      (i,
        i.toDouble / 4.0,
        i % 2 == 0,
        Seq("alpha", "beta", "gamma", "delta")((i % 4).toInt),
        if (i % 5 == 0) null else s"note for row",
        s"""{"a": ${i % 3}, "b": "tag"}""")
    }.toDF("id", "score", "flag", "name", "note", "payload")
  }

  private def halves(df: DataFrame): (DataFrame, DataFrame) =
    (df.where(col("id") % 2 === 0), df.where(col("id") % 2 =!= 0))

  /** First structurally differing node, with its path — pinpoints
    * counter/flag drift that renders hide.
    */
  private def diffTypes(a: SType, b: SType,
                        path: String = ""): Option[String] =
    (a, b) match {
      case (x, y) if x == y => None
      case (x: SList, y: SList) =>
        diffTypes(x.content, y.content, s"$path[]")
          .orElse(Some(s"$path list wrapper: " +
            s"${x.lengths} vs ${y.lengths}"))
      case (x: SDict, y: SDict) =>
        val bm = y.content.map(f =>
          f.key.asInstanceOf[SField].value -> f).toMap
        x.content.iterator.flatMap { f =>
          val k = f.key.asInstanceOf[SField].value
          bm.get(k) match {
            case None => Some(s"$path.$k only on left")
            case Some(g) =>
              if (f.key != g.key)
                Some(s"$path.$k key differs: ${f.key} vs ${g.key}")
              else diffTypes(f.value, g.value, s"$path.$k")
          }
        }.toSeq.headOption
          .orElse(Some(s"$path dict differs outside fields: " +
            s"${x.lengths} vs ${y.lengths}"))
      case (x: SStr, y: SStr) =>
        Some(s"$path SStr values=${x.values == y.values} " +
          s"lengths=${x.lengths == y.lengths} " +
          s"pattern=${x.pattern == y.pattern} -- " +
          s"values: ${x.values} VS ${y.values} -- " +
          s"lengths: ${x.lengths} VS ${y.lengths} -- " +
          s"pattern: ${x.pattern} VS ${y.pattern}")
      case (x, y) =>
        Some(s"$path ${x.getClass.getSimpleName}: $x vs $y -- " +
          s"details: $a -- $b")
    }

  test("exact path: incremental merge equals the whole-corpus " +
      "analysis, counters and quartiles included") {
    val analyzer = new SparkAnalyzer()
    val df = fixture
    val (h1, h2) = halves(df)
    val whole = analyzer.analyzeTable(df)
    val inc = analyzer.analyzeIncremental(analyzer.analyzeTable(h1), h2)
    assert(diffTypes(inc, whole).isEmpty,
      diffTypes(inc, whole).getOrElse(""))
    assert(inc == whole)
    assert(inc.render == whole.render)
  }

  test("folding three deltas equals one whole-corpus analysis") {
    val analyzer = new SparkAnalyzer()
    val df = fixture
    val parts = Seq(0, 1, 2).map(r => df.where(col("id") % 3 === r))
    val folded = parts.tail.foldLeft(analyzer.analyzeTable(parts.head))(
      analyzer.analyzeIncremental)
    assert(folded == analyzer.analyzeTable(df))
  }

  test("over-cap summary columns: card/min/max exact, renders equal, " +
      "quartiles by the reference's big-side convention") {
    val analyzer = new SparkAnalyzer(exactDistinctCap = 4)
    val s = spark
    import s.implicits._
    // 8 distinct ints per half (> cap 4), identical distribution in
    // each half — the one summary-merge case that stays
    // whole-corpus-exact (proportional counters interpolate to the
    // same positional quartiles)
    val df = (0L until 32L).map(i => (i, (i % 8) + 1))
      .toDF("id", "v")
    val (h1, h2) = halves(df)
    def statsOf(t: SType): Stats = t match {
      case l: SList => l.content match {
        case d: SDict => d.content
          .find(_.key.asInstanceOf[SField].value == "v").get
          .value.asInstanceOf[SScalar].values
        case other => fail(s"unexpected $other")
      }
      case other => fail(s"unexpected $other")
    }
    val whole = analyzer.analyzeTable(df)
    val inc = analyzer.analyzeIncremental(analyzer.analyzeTable(h1), h2)
    val (ws, is) = (statsOf(whole), statsOf(inc))
    assert(is.card == ws.card)
    assert(is.min == ws.min && is.max == ws.max)
    assert(is.sameSummary(ws),
      s"summary drift: inc=$is whole=$ws")
    assert(inc.render == whole.render)
  }

  test("a delta contradicting the prior's field type throws the " +
      "algebra's IllegalArgumentException") {
    val analyzer = new SparkAnalyzer()
    val s = spark
    import s.implicits._
    val prior = analyzer.analyzeTable(
      (0L until 10L).map(i => (i, i * 2)).toDF("id", "x"))
    val delta = (0L until 10L).map(i => (i + 10L, s"free text $i"))
      .toDF("id", "x")
    intercept[IllegalArgumentException] {
      analyzer.analyzeIncremental(prior, delta)
    }
  }
}
