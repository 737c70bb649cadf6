package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Integer-exact IPF mixture-weight solving (q120). Pins: a table
  * whose row marginals already hit the uniform target is a fixed
  * point (weights unchanged, bit-exact); a one-column skew solves
  * exactly in one round; a genuinely two-margin skew converges to
  * within 1% of the uniform row target while column marginals stay
  * pinned at their observed values; and the whole solve is
  * deterministic across runs.
  */
class MixingSpec extends SparkSuite {
  private val Scale = 1000000L

  private def corpus(rows: (String, String, Int)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.flatMap { case (lang, src, n) =>
      (1 to n).map(i => (s"$lang-$src-$i", lang, src))
    }.toDF("doc_id", "lang", "source")
  }

  private def weights(df: DataFrame, rounds: Int = 3) =
    Mixing.rakeMixtureWeights(df, col("lang"), col("source"),
        rounds, Scale)
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getDecimal(3).longValueExact()))
      .toSet

  test("a balanced table is a fixed point — weights stay n*scale " +
      "bit-exactly") {
    val df = corpus(("en", "web", 2), ("en", "book", 2),
      ("de", "web", 2), ("de", "book", 2))
    assert(weights(df) == Set(("en", "web", 2 * Scale),
      ("en", "book", 2 * Scale), ("de", "web", 2 * Scale),
      ("de", "book", 2 * Scale)))
  }

  test("pure row skew over one column solves exactly in one round") {
    val df = corpus(("en", "web", 3), ("de", "web", 1))
    // uniform target = 4*scale/2 = 2*scale per lang; single column
    // means the column step cannot disturb it
    assert(weights(df, rounds = 1) ==
      Set(("en", "web", 2 * Scale), ("de", "web", 2 * Scale)))
  }

  test("two-margin skew converges to the uniform row target with " +
      "observed column marginals held") {
    val df = corpus(("en", "web", 4), ("en", "book", 2),
      ("de", "web", 1), ("de", "book", 1))
    val census = Mixing.rakeRowCensus(df, col("lang"),
        col("source"), rounds = 3, scale = Scale)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toList
    assert(census.map(_._1).toSet == Set("en", "de"))
    census.foreach { case (_, _, target, achieved) =>
      assert(math.abs(achieved - target) <= target / 100,
        s"row marginal $achieved should be within 1% of $target")
    }
    assert(census.collect { case ("en", n, _, _) => n }.head == 6L)
    // column marginals stay at their observed scaled counts (floor
    // loss bounded by the cell count per column)
    val w = Mixing.rakeMixtureWeights(df, col("lang"),
      col("source"), rounds = 3, scale = Scale)
    val colSums = w.groupBy(col("col_key"))
      .agg(sum(col("w")).as("s")).collect()
      .map(r => (r.getString(0), r.getDecimal(1).longValueExact()))
      .toMap
    assert(math.abs(colSums("web") - 5 * Scale) <= 4)
    assert(math.abs(colSums("book") - 3 * Scale) <= 4)
  }

  test("rebalancedSample: up-weighted cells keep every document, " +
      "kept rows are a subset, and membership is deterministic") {
    val df = corpus(("en", "web", 8), ("de", "web", 2))
    def kept() = Mixing.rebalancedSample(df, col("lang"),
        col("source"), col("doc_id"))
      .select(col("doc_id")).collect().map(_.getString(0)).toSet
    val k = kept()
    val all = df.select(col("doc_id")).collect()
      .map(_.getString(0)).toSet
    assert(k.subsetOf(all))
    // "de" is under-represented (2 of 10, target 5): its solved
    // weight exceeds n*scale, so sampling keeps all its docs
    assert(all.filter(_.startsWith("de")).subsetOf(k))
    // "en" is over-represented: some of its docs must drop
    assert(k.count(_.startsWith("en")) < 8)
    assert(kept() == k)
  }

  test("the solve is deterministic across runs") {
    val df = corpus(("en", "web", 5), ("en", "book", 1),
      ("fr", "web", 2), ("fr", "book", 3), ("de", "web", 1))
    assert(weights(df) == weights(df))
  }
}
