package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Distributed prefix-sum offsets: the two-pass scan equals the
  * single-node exclusive cumsum for every row, and the answer is
  * invariant to the partition count (boundaries cancel out).
  */
class GlobalOffsetsSpec extends SparkSuite {
  // irregular lengths, ids deliberately out of insertion order
  private val rows: Seq[(Long, Long)] =
    Seq(7L -> 13L, 1L -> 5L, 12L -> 1L, 3L -> 40L, 9L -> 0L,
      2L -> 7L, 30L -> 9L, 21L -> 2L, 15L -> 11L, 4L -> 3L)

  private def reference: Map[Long, (Long, Long)] = {
    var acc = 0L
    rows.sortBy(_._1).map { case (id, len) =>
      val o = acc; acc += len; id -> (len, o)
    }.toMap
  }

  private def run(parts: Int): Map[Long, (Long, Long)] = {
    val s = spark
    import s.implicits._
    Sampling.globalOffsets(rows.toDF("doc_id", "n"), col("doc_id"),
        col("n"), partitions = parts)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
  }

  test("offsets equal the single-node exclusive cumsum") {
    assert(run(3) === reference)
  }

  test("partition count does not change the answer") {
    val a = run(1)
    val b = run(2)
    val c = run(7)
    assert(a === b)
    assert(b === c)
    assert(a === reference)
  }

  test("total layout length is the sum of lengths") {
    val got = run(4)
    val maxEnd = got.values.map { case (len, o) => o + len }.max
    assert(maxEnd === rows.map(_._2).sum)
  }
}
