package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** CDC latest-record compaction: the max(struct) aggregate must pick
  * exactly the row_number-window winner (including tied timestamps),
  * keep the input schema, and plan as ONE aggregation with a partial
  * phase — no window, no per-key sort.
  */
class CompactLatestSpec extends SparkSuite {
  private def changelog = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // deliberate ts ties within keys: ts has only 20 distinct values
    (1 to 400).map { i =>
      (rnd.nextInt(30).toLong, rnd.nextInt(20).toLong, i.toLong,
        s"v$i")
    }.toDF("key", "ts", "change_id", "payload").repartition(6)
  }

  test("agrees with the row_number formulation, ties included") {
    val df = changelog
    val got = Temporal.compactLatest(df, "key", "ts", "change_id")
      .orderBy("key")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val w = Window.partitionBy("key")
      .orderBy(col("ts").desc, col("change_id").desc)
    val want = df.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
      .orderBy("key")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(got.toSeq === want.toSeq)
  }

  test("partitioning-invariant and schema-preserving") {
    val df = changelog
    // names and types survive; nullability widens (aggregate output)
    assert(Temporal.compactLatest(df, "key", "ts", "change_id")
      .schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    val a = Temporal.compactLatest(df.repartition(1), "key", "ts",
      "change_id").orderBy("key").collect().toSeq
    val b = Temporal.compactLatest(df.repartition(11), "key", "ts",
      "change_id").orderBy("key").collect().toSeq
    assert(a === b)
  }

  test("plans as one partial-merge aggregate, no Window exec") {
    val plan = Temporal.compactLatest(changelog, "key", "ts",
        "change_id")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"), s"unexpected window exec:\n$plan")
    // partial + final aggregate pair over one exchange
    assert("Aggregate".r.findAllIn(plan).size >= 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      plan)
  }
}
