package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** Composite Gopher/C4 quality filter: each rule trips on a document
  * engineered to fail exactly that rule (all others passing), the
  * verdict is the conjunction, and the whole struct evaluates in one
  * projection.
  */
class QualityFlagsSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  /** A clean passing document: >= 50 varied words of sane length,
    * stopwords present, no repetition/symbols/bullets/policy text.
    */
  private val good: String = {
    val vocab = Seq("the", "quick", "brown", "foxes", "jumped",
      "over", "many", "lazy", "dogs", "and", "ran", "far", "into",
      "that", "deep", "green", "forest", "with", "great", "speed")
    (0 until 60).map(i => vocab(i % vocab.size) + (i / vocab.size))
      .mkString(" ")
      // strip the digit suffixes idea: keep words alphabetic instead
      .replaceAll("[0-9]", "")
  }

  private def flags(text: String): Row = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("text")
      .select(TextFunctions.qualityFlags(col("text")).as("qf"))
      .select(col("qf.*"))
      .collect()(0)
  }

  private val fieldNames = Seq("wc_ok", "mwl_ok", "sym_ok",
    "bullet_ok", "ell_ok", "alpha_ok", "stop_ok", "rep_ok",
    "curly_ok", "policy_ok", "keep")

  private def asMap(r: Row): Map[String, Boolean] =
    fieldNames.zipWithIndex
      .map { case (n, i) => n -> r.getBoolean(i) }.toMap

  test("the clean document passes every rule") {
    val m = asMap(flags(good))
    assert(m.values.forall(identity), m)
  }

  private def failsExactly(text: String, rule: String): Unit = {
    val m = asMap(flags(text))
    assert(!m(rule), s"$rule should fail: $m")
    assert(!m("keep"), s"keep should fail when $rule fails")
    (m - rule - "keep").foreach { case (k, v) =>
      assert(v, s"$k should still pass when only $rule fails: $m")
    }
  }

  test("wc_ok trips on short documents") {
    failsExactly(good.split(" ").take(20).mkString(" ")
      // keep two stopwords in the survivor prefix
      , "wc_ok")
  }

  test("mwl_ok trips on degenerate word lengths") {
    // 60 one-char words (mean word length 1 < 3); stopwords 'the'
    // and 'and' keep stop_ok alive but drag the mean under 3 only
    // if the rest are single chars
    val text = (Seq("the", "and") ++ Seq.fill(58)("a")).mkString(" ")
    val m = asMap(flags(text))
    assert(!m("mwl_ok") && !m("keep"), m)
  }

  test("sym_ok trips on hash/ellipsis spam") {
    failsExactly(good + " " + Seq.fill(7)("#tag#").mkString(" "),
      "sym_ok")
  }

  test("bullet_ok trips when >90% of lines are bullets") {
    val bullets = (0 until 30).map(i => s"- item$i").mkString("\n")
    val m = asMap(flags(good + "\n" + bullets))
    assert(!m("bullet_ok") && !m("keep"), m)
  }

  test("ell_ok trips when >30% of lines trail off...") {
    val lines = good +: (0 until 3).map(i => s"and so on$i...")
    val m = asMap(flags(lines.mkString("\n")))
    assert(!m("ell_ok") && !m("keep"), m)
  }

  test("alpha_ok trips on numeric-soup documents") {
    val m = asMap(flags(good + " " +
      (0 until 40).map(i => s"$i$i$i").mkString(" ")))
    assert(!m("alpha_ok") && !m("keep"), m)
  }

  test("stop_ok trips when fewer than two Gopher stopwords appear") {
    val text = (0 until 60).map(i => s"word$i xyz").mkString(" ")
    val m = asMap(flags(text))
    assert(!m("stop_ok") && !m("keep"), m)
  }

  test("rep_ok trips on heavy n-gram repetition") {
    failsExactly(good + " " + Seq.fill(40)("buy now").mkString(" "),
      "rep_ok")
  }

  test("curly_ok trips on code pages") {
    failsExactly(good + " function() { return }"
      .replace("return", "ret"), "curly_ok")
  }

  test("policy_ok trips on C4 boilerplate phrases") {
    failsExactly(good + " please read our Privacy Policy today",
      "policy_ok")
  }

  test("the struct is a single projection over one scan") {
    val s = spark
    import s.implicits._
    val plan = Seq(good).toDF("text")
      .select(TextFunctions.qualityFlags(col("text")).as("qf"))
      .queryExecution.optimizedPlan
    val scans = plan.collectLeaves().size
    assert(scans === 1, plan)
    // no join/aggregate/window crept into what must be a pure map
    import org.apache.spark.sql.catalyst.plans.logical._
    assert(plan.collect {
      case j: Join => j
      case a: Aggregate => a
      case w: Window => w
    }.isEmpty, plan)
  }
}
