package graft.operators

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** Salted skew join: exactly the plain inner join's multiset of rows
  * (hot keys, missing keys, duplicate dim keys), with the salt spread
  * actually splitting a hot key across reducers.
  */
class SkewJoinSpec extends SparkSuite {
  override protected def session = LocalSession(4)
    .config("spark.sql.shuffle.partitions", "8")
    // force the shuffle-join path the operator exists for
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")

  test("result equals the plain inner join, including dim dups " +
      "and unmatched keys") {
    val s = spark
    import s.implicits._
    // 90% of fact rows hit key 1 (the hot key); key 99 has no dim row;
    // dim key 2 appears twice (fan-out preserved)
    val fact = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 50).map(i => (2L, 1000L + i)) ++
      (1 to 50).map(i => (99L, 2000L + i)))
      .toDF("k", "fact_id").repartition(6)
    val dim = Seq((1L, "hot"), (2L, "dup_a"), (2L, "dup_b"),
      (3L, "unused")).toDF("k", "tag")
    val salted = Layout.skewJoin(fact, dim, "k", salt = 4,
        saltFrom = col("fact_id"))
      .select("k", "fact_id", "tag")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2))).sorted
    val plain = fact.join(dim, Seq("k"))
      .select("k", "fact_id", "tag")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2))).sorted
    assert(salted.toSeq === plain.toSeq)
    assert(salted.length === 900 + 100)
  }

  test("the hot key's rows spread across all salt buckets") {
    val s = spark
    import s.implicits._
    val fact = (1 to 800).map(i => (1L, i.toLong))
      .toDF("k", "fact_id")
    val buckets = fact
      .withColumn("salt", pmod(hash(col("fact_id")), lit(4)))
      .groupBy("salt").count().collect()
      .map(r => r.getAs[Int]("salt") -> r.getLong(1)).toMap
    assert(buckets.keySet === Set(0, 1, 2, 3))
    // no bucket holds more than half the hot key's rows
    assert(buckets.values.max <= 400,
      s"salt skew not spread: $buckets")
  }

  test("salt column does not leak into the output schema") {
    val s = spark
    import s.implicits._
    val fact = Seq((1L, 10L)).toDF("k", "fact_id")
    val dim = Seq((1L, "x")).toDF("k", "tag")
    val cols = Layout.skewJoin(fact, dim, "k", salt = 3,
      saltFrom = col("fact_id")).columns.toSeq
    assert(cols === Seq("k", "fact_id", "tag"))
  }
}
