package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Markov transition census: hand fixtures (entity isolation, order
  * law, first-event exclusion) and partition invariance.
  */
class TransitionSpec extends SparkSuite {
  private def census(rows: Seq[(Long, String, Long, Long)]) = {
    val s = spark
    import s.implicits._
    Temporal.transitionCensus(rows.toDF("u", "e", "ts", "id"),
        col("u"), col("e"), Seq(col("ts"), col("id")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
  }

  test("transitions stay within an entity; first events drop") {
    val rows = Seq(
      (1L, "a", 1L, 1L), (1L, "b", 2L, 2L), (1L, "c", 3L, 3L),
      (2L, "x", 1L, 4L), (2L, "y", 2L, 5L))
    assert(census(rows) == Map(("a", "b") -> 1L, ("b", "c") -> 1L,
      ("x", "y") -> 1L))
  }

  test("ties break on the declared tie-break column") {
    // same ts: order decided by id — b(id=1) precedes a(id=2)
    val rows = Seq((1L, "b", 5L, 1L), (1L, "a", 5L, 2L))
    assert(census(rows) == Map(("b", "a") -> 1L))
  }

  test("repeat transitions accumulate") {
    val rows = (1 to 4).flatMap(i => Seq(
      (i.toLong, "a", 1L, i * 10L), (i.toLong, "b", 2L, i * 10L + 1)))
    assert(census(rows) == Map(("a", "b") -> 4L))
  }

  test("partition invariance") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 800).map(i => ((i % 13).toLong,
      s"e${rnd.nextInt(4)}", rnd.nextInt(50).toLong, i.toLong))
    val s = spark
    import s.implicits._
    val a = census(rows)
    val b = Temporal.transitionCensus(
        rows.toDF("u", "e", "ts", "id").repartition(17),
        col("u"), col("e"), Seq(col("ts"), col("id")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(a == b)
    assert(a.values.sum == 800L - 13L) // one first-event per entity
  }
}
