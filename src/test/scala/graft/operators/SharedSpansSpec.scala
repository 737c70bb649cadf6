package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Shared-span forensics: the extracted spans land exactly on the
  * planted verbatim overlaps (maximal, correct start offsets in BOTH
  * documents), and the deterministic pair picker returns the
  * smallest repeated pair.
  */
class SharedSpansSpec extends SparkSuite {
  private val quoteA = (1 to 10).map(i => s"a$i").mkString(" ")
  private val quoteB = (1 to 9).map(i => s"b$i").mkString(" ")

  // doc 1: quoteA at tokens 2..11 and quoteB at 15..23
  // doc 2: quoteA at tokens 0..9  and quoteB at 13..21
  // doc 9: clean
  private def fixture = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, s"u1 u2 $quoteA v1 v2 v3 $quoteB tail1"),
      (2L, s"$quoteA w1 w2 w3 $quoteB x1 x2"),
      (9L, (1 to 30).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("pair picker finds the smallest repeated pair") {
    val p = Dedup.topRepeatedPair(fixture, col("doc_id"),
      col("text"), k = 8).collect()
    assert(p.length === 1)
    assert((p(0).getLong(0), p(0).getLong(1)) === ((1L, 2L)))
  }

  test("spans are maximal and offsets are right in both docs") {
    val spans = Dedup.sharedSpans(fixture, col("doc_id"),
        col("text"),
        Dedup.topRepeatedPair(fixture, col("doc_id"), col("text"),
          k = 8), k = 8)
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // quoteA: 10 tokens at (2, 0); quoteB: 9 tokens at (15, 13)
    assert(spans === Seq((2L, 0L, 10L), (15L, 13L, 9L)))
  }

  test("no repeated pair -> empty evidence") {
    val s = spark
    import s.implicits._
    val clean = Seq(
      (1L, (1 to 20).map(i => s"p$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pair = Dedup.topRepeatedPair(clean, col("doc_id"),
      col("text"), k = 8)
    // aggregate over zero pair rows yields a single all-null row;
    // the span join then matches nothing
    val spans = Dedup.sharedSpans(clean, col("doc_id"),
      col("text"), pair, k = 8)
    assert(spans.count() === 0L)
  }
}
