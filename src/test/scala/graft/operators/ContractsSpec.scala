package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Contract checks: one-pass rule census with null-fails semantics,
  * FK anti-join counting, and the quarantine split's clean/violating
  * partition with per-row reasons.
  */
class ContractsSpec extends SparkSuite {
  private def rows = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Some(10), "ok"),
      (2L, Some(-5), "ok"),    // violates positive
      (3L, None, "ok"),        // null → violates positive (null-fails)
      (4L, Some(7), "bad"),    // violates domain
      (5L, Some(99), "ok")     // violates positive (range cap)
    ).toDF("id", "x", "tag")
  }

  private val rules = Seq(
    "x_pos_le_50" -> (col("x") > 0 && col("x") <= 50),
    "tag_domain" -> (col("tag") === "ok"))

  test("one-pass rule census with null-fails semantics") {
    val got = Contracts.ruleCensus(rows, rules).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got("x_pos_le_50") == ((3L, 5L))) // ids 2, 3, 5
    assert(got("tag_domain") == ((1L, 5L)))  // id 4
  }

  test("fk violations count only non-null unmatched child keys") {
    val s = spark
    import s.implicits._
    val child = Seq(Some(1L), Some(2L), Some(9L), None, Some(9L))
      .toDF("k")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val n = Contracts.fkViolationCount(child, col("k"), parent,
      col("pk")).collect().head.getLong(0)
    assert(n == 2L) // the two 9s; the null is skipped
  }

  test("quarantine splits rows and names every failed rule") {
    val (clean, bad) = Contracts.quarantine(rows, rules)
    assert(clean.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L))
    val reasons = bad.select("id", "reasons").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[String](1).toSet).toMap
    assert(reasons(2L) == Set("x_pos_le_50"))
    assert(reasons(3L) == Set("x_pos_le_50"))
    assert(reasons(4L) == Set("tag_domain"))
    assert(reasons(5L) == Set("x_pos_le_50"))
    // clean + bad partition the input
    assert(clean.count() + bad.count() == rows.count())
  }
}
