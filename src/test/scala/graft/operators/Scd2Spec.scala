package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** SCD2 history semantics: upserts open intervals, the next change
  * of the key closes them (deletes close without opening), the last
  * open interval is current, unknown ops fail fast.
  */
class Scd2Spec extends SparkSuite {
  test("interval derivation across upserts, deletes, and reinserts") {
    val s = spark
    import s.implicits._
    val changes = Seq(
      // key 1: v1 at 10, v2 at 20, deleted at 30, reinserted at 40
      (1L, "v1", 10L, 0L, "upsert"),
      (1L, "v2", 20L, 0L, "upsert"),
      (1L, "x", 30L, 0L, "delete"),
      (1L, "v3", 40L, 0L, "upsert"),
      // key 2: one upsert, still current
      (2L, "w1", 15L, 0L, "upsert"),
      // key 3: delete only — no interval at all
      (3L, "x", 5L, 0L, "delete")
    ).toDF("k", "v", "ts", "tb", "op")
    val got = Delta.scd2History(changes, "k", "ts", "tb", "op")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getBoolean(4))).toSet
    assert(got == Set(
      (1L, "v1", 10L, 20L, false),
      (1L, "v2", 20L, 30L, false),   // the delete CLOSES v2
      (1L, "v3", 40L, -1L, true),    // reinsert is current
      (2L, "w1", 15L, -1L, true)))
  }

  test("unknown op fails fast instead of corrupting history") {
    val s = spark
    import s.implicits._
    val bad = Seq((1L, "v", 1L, 0L, "merge"))
      .toDF("k", "v", "ts", "tb", "op")
    val e = intercept[Exception] {
      Delta.scd2History(bad, "k", "ts", "tb", "op").collect()
    }
    assert(e.getMessage.contains("invalid") ||
      e.getCause != null && e.getCause.getMessage.contains("invalid"))
  }
}
