package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** MERGE semantics: latest change wins per key, deletes beat earlier
  * upserts, inserts land, deletes of absent keys are no-ops,
  * untouched rows pass through unchanged.
  */
class ApplyChangelogSpec extends SparkSuite {
  test("merge semantics across all op combinations") {
    val s = spark
    import s.implicits._
    val snapshot = Seq(
      (1L, "keep_me"), (2L, "update_me"), (3L, "delete_me"),
      (4L, "update_then_delete")).toDF("k", "v")
    val changes = Seq(
      // two stacked upserts: ts=2 must win
      (2L, "v1", 1L, 10L, "upsert"),
      (2L, "v2", 2L, 11L, "upsert"),
      (3L, "x", 1L, 12L, "delete"),
      // upsert then delete: the delete wins
      (4L, "resurrect", 1L, 13L, "upsert"),
      (4L, "x", 2L, 14L, "delete"),
      // insert under a fresh key
      (5L, "new_row", 1L, 15L, "upsert"),
      // delete of an absent key: no-op
      (99L, "x", 1L, 16L, "delete"))
      .toDF("k", "v", "ts", "cid", "op")
    val out = Delta.applyChangelog(snapshot, changes, "k", "ts",
        "cid", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "keep_me", 2L -> "v2",
      5L -> "new_row"))
  }

  test("tiebreak decides equal timestamps") {
    val s = spark
    import s.implicits._
    val snapshot = Seq((1L, "old")).toDF("k", "v")
    val changes = Seq(
      (1L, "first", 5L, 100L, "upsert"),
      (1L, "second", 5L, 200L, "upsert")) // higher tiebreak wins
      .toDF("k", "v", "ts", "cid", "op")
    val out = Delta.applyChangelog(snapshot, changes, "k", "ts",
        "cid", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "second"))
  }

  test("invalid op values fail fast instead of materializing " +
      "phantom rows") {
    val s = spark
    import s.implicits._
    val snapshot = Seq((1L, "a")).toDF("k", "v")
    // latest change for an absent key carries a typo'd op: without
    // validation it would slip past the delete filter and emit a
    // (2L, null) phantom row
    val changes = Seq((2L, "x", 1L, 1L, "upssert"))
      .toDF("k", "v", "ts", "cid", "op")
    val ex = intercept[Exception] {
      Delta.applyChangelog(snapshot, changes, "k", "ts", "cid", "op")
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("invalid op")), ex.toString)
  }

  test("missing payload columns in changes are rejected") {
    val s = spark
    import s.implicits._
    val snapshot = Seq((1L, "a", "b")).toDF("k", "v", "w")
    val changes = Seq((1L, "a2", 1L, 1L, "upsert"))
      .toDF("k", "v", "ts", "cid", "op") // no "w"
    intercept[IllegalArgumentException] {
      Delta.applyChangelog(snapshot, changes, "k", "ts", "cid", "op")
    }
  }
}
