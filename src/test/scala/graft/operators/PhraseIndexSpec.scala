package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Index-accelerated phrase search (q124) must return IDENTICAL
  * rows to the scan-based strategy (q119) — including overlapping
  * occurrences, repeated-term phrases, and phrase-at-the-boundary
  * cases — because the two are alternative physical plans for one
  * logical operator.
  */
class PhraseIndexSpec extends SparkSuite {
  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def both(df: DataFrame, phrase: Seq[String]) = {
    def norm(d: DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    (norm(Retrieval.phraseSearch(df, "doc_id", "text", phrase)),
      norm(Retrieval.phraseSearchIndexed(df, "doc_id", "text",
        phrase)))
  }

  test("scan and posting-join strategies agree, including " +
      "overlapping occurrences") {
    val df = docs(
      1L -> "a b a b a b",          // overlapping "a b a"
      2L -> "x a b a y",
      3L -> "no match here",
      4L -> "a b a")                 // phrase at both boundaries
    val (scan, indexed) = both(df, Seq("a", "b", "a"))
    assert(scan == indexed)
    assert(scan.map(_._1) == Set(1L, 2L, 4L))
    // doc 1: positions 0 and 2 both match (overlap)
    assert(scan.contains((1L, 2L, 0L)))
  }

  test("repeated-term phrases agree") {
    val df = docs(1L -> "go go go stop", 2L -> "go stop go")
    val (scan, indexed) = both(df, Seq("go", "go"))
    assert(scan == indexed)
    assert(scan == Set((1L, 2L, 0L)))
  }

  test("a phrase absent from the corpus returns empty from both") {
    val df = docs(1L -> "nothing to see", 2L -> "move along")
    val (scan, indexed) = both(df, Seq("absent", "phrase"))
    assert(scan.isEmpty && indexed.isEmpty)
  }
}
