package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Snapshot diff: every status class on a fixture that exercises all
  * four, plus the census totals invariant (old ∪ new keys are fully
  * accounted for).
  */
class DeltaSpec extends SparkSuite {
  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val s = spark
    import s.implicits._
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha"), (2L, "beta EDITED"), (4L, "delta"))
      .toDF("doc_id", "text")
    val out = Delta.snapshotDiff(v1, v2, "doc_id", md5(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("null fingerprints on present rows do not masquerade as " +
      "added/removed") {
    val s = spark
    import s.implicits._
    val v1 = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = Delta.snapshotDiff(v1, v2, "doc_id", md5(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // key 1: null fp on BOTH sides → unchanged (null-safe equality);
    // key 2: value → null → changed; neither is added/removed
    assert(out === Map(1L -> "unchanged", 2L -> "changed"))
  }

  test("census sums to |old ∪ new| keys") {
    val s = spark
    import s.implicits._
    val v1 = (1L to 50L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val v2 = (11L to 60L).map(i =>
      (i, if (i % 3 == 0) s"doc$i!" else s"doc$i"))
      .toDF("doc_id", "text")
    val census = Delta.snapshotDiffCensus(v1, v2, "doc_id",
        md5(col("text")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census.values.sum === 60L)
    assert(census("added") === 10L)
    assert(census("removed") === 10L)
    // 11..60 keys shared: i % 3 == 0 → changed (17 of 40)
    assert(census("changed") === (11L to 50L).count(_ % 3 == 0))
    assert(census("changed") + census("unchanged") === 40L)
  }
}
