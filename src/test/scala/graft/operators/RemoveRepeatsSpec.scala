package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Repeated-substring removal: exactly the shared k-gram span is
  * removed from every document carrying it, untouched documents pass
  * through (whitespace-normalized), fully-duplicated documents empty
  * out, and the runs themselves are maximal.
  */
class RemoveRepeatsSpec extends SparkSuite {
  // a 10-token boilerplate phrase planted in docs 1 and 2 (k = 8 →
  // three k-gram start positions chain into one maximal run of 10
  // tokens); doc 3 is clean; docs 4 and 5 are full duplicates
  private val boiler = (1 to 10).map(i => s"b$i").mkString(" ")

  private def fixture = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, s"u1 u2 u3 $boiler v1 v2 v3"),
      (2L, s"w1 w2 $boiler x1 x2 x3 x4"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"),
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),
      (5L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"))
      .toDF("doc_id", "text")
  }

  test("runs are maximal and land on the planted span") {
    val runs = Dedup.repeatedRuns(fixture, col("doc_id"),
        col("text"), k = 8, minDocs = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(x => (x._1, x._2))
    // doc1: boiler at tokens 3..12 → one run (start 3, len 10)
    // doc2: boiler at tokens 2..11 → one run (start 2, len 10)
    // docs 4/5: whole 9-token text repeated → run (0, 9)
    assert(runs.toSeq === Seq((1L, 3, 10), (2L, 2, 10),
      (4L, 0, 9), (5L, 0, 9)))
  }

  test("removal drops exactly the covered tokens") {
    val clean = Dedup.removeRepeatedRuns(fixture, col("doc_id"),
        col("text"), k = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean(1L) === "u1 u2 u3 v1 v2 v3")
    assert(clean(2L) === "w1 w2 x1 x2 x3 x4")
    assert(clean(3L) === "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11")
    assert(clean(4L) === "")
    assert(clean(5L) === "")
    assert(clean.size === 5) // total: every input id present
  }

  test("no repeats → identity (normalized)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d e f g h i"),
      (2L, "j k l m n o p q r")).toDF("doc_id", "text")
    val clean = Dedup.removeRepeatedRuns(docs, col("doc_id"),
        col("text"), k = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean === Map(1L -> "a b c d e f g h i",
      2L -> "j k l m n o p q r"))
  }

  test("overlapping run covers do not double-drop or crash") {
    val s = spark
    import s.implicits._
    // doc 6 shares boiler tokens 1-10 with doc 1 AND a shifted copy
    // whose cover overlaps; removal must still be exactly the union
    val docs = Seq(
      (1L, boiler),
      (2L, s"$boiler tail1 tail2"),
      (3L, s"head1 $boiler")).toDF("doc_id", "text")
    val clean = Dedup.removeRepeatedRuns(docs, col("doc_id"),
        col("text"), k = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean(1L) === "")
    assert(clean(2L) === "tail1 tail2")
    assert(clean(3L) === "head1")
  }
}
