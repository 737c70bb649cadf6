package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Reciprocal-rank fusion: agreement across lists outranks a single
  * first place, absent ranks contribute exactly zero, and ties break
  * id-asc.
  */
class RrfSpec extends SparkSuite {
  test("consensus beats a single first place; absences are zero") {
    val s = spark
    import s.implicits._
    // doc 10: rank 1 in A only. doc 20: rank 2 in both lists.
    // 1/61 = 0.0164 < 1/62 + 1/62 = 0.0323 -> 20 fuses above 10.
    val a = Seq((10L, 1L), (20L, 2L)).toDF("id", "rank")
    val b = Seq((20L, 2L), (30L, 1L)).toDF("id", "rank")
    val rows = Retrieval.rrfFuse(a, b, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // 10 and 30 tie at exactly 1/61 -> id-asc puts 10 first
    assert(rows.map(_._1).toSeq === Seq(20L, 10L, 30L))
    val m = rows.map(r => r._1 -> r).toMap
    assert(m(20L) === ((20L, 2L, 2L, 1.0 / 62 + 1.0 / 62)))
    assert(m(10L) === ((10L, 1L, 0L, 1.0 / 61)))
    assert(m(30L) === ((30L, 0L, 1L, 1.0 / 61)))
  }

  test("equal rrf ties break id-asc and k truncates") {
    val s = spark
    import s.implicits._
    val a = Seq((5L, 1L), (9L, 2L)).toDF("id", "rank")
    val b = Seq((7L, 1L), (8L, 2L)).toDF("id", "rank")
    val got = Retrieval.rrfFuse(a, b, k = 3).collect()
      .map(_.getLong(0)).toSeq
    // rrf(5) == rrf(7) == 1/61; rrf(8) == rrf(9) == 1/62
    assert(got === Seq(5L, 7L, 8L))
  }
}
