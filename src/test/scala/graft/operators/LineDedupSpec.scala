package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Line-level exact dedup: lines shared by >= minDocs documents are
  * removed wherever they occur, everything else (including blank and
  * all-whitespace lines) survives in original order, and the census
  * columns account exactly.
  */
class LineDedupSpec extends SparkSuite {
  private val banner = "(c) example corp - all rights reserved"

  private def fixture = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, s"alpha prose one\n$banner\nbeta prose"),
      (2L, s"$banner\ngamma text\n\ndelta text"),
      (3L, s"unique only\n$banner"),
      (4L, "nothing shared here\n  \nstill nothing"),
      (5L, banner))
      .toDF("doc_id", "text")
  }

  private def cleaned = Dedup.removeFrequentLines(fixture,
    col("doc_id"), col("text"), minDocs = 2)

  test("frequent line removed everywhere; order and blanks kept") {
    val rows = cleaned.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(rows === Seq(
      (1L, 3L, 1L, m("alpha prose one\nbeta prose"), 26L),
      (2L, 4L, 1L, m("gamma text\n\ndelta text"), 22L),
      (3L, 2L, 1L, m("unique only"), 11L),
      // the all-whitespace middle line is NOT removable even though
      // "  " could repeat across docs
      (4L, 3L, 0L, m("nothing shared here\n  \nstill nothing"), 36L),
      // a document that was pure boilerplate empties out
      (5L, 1L, 1L, m(""), 0L)))
  }

  test("minDocs raises the bar") {
    // banner appears in 4 docs; with minDocs = 5 nothing is frequent
    val none = Dedup.removeFrequentLines(fixture, col("doc_id"),
      col("text"), minDocs = 5)
    assert(none.agg(sum(col("n_removed"))).collect()(0).getLong(0) === 0L)
  }

  test("minDocs below 2 is refused") {
    intercept[IllegalArgumentException] {
      Dedup.removeFrequentLines(fixture, col("doc_id"), col("text"),
        minDocs = 1)
    }
  }
}
