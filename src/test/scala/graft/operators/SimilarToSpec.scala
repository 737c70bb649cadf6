package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Single-document similarity probe (q118): "find near-dups of THIS
  * doc" served as a singleton delta through [[Dedup.lshPairsAgainst]]
  * — the band machinery must behave identically whether the new side
  * is a crawl batch or one row. Pins: a probe with a near-duplicate
  * in the corpus surfaces it; an unrelated probe surfaces nothing; a
  * probe never pairs with itself when the corpus side excludes it;
  * and the singleton path returns exactly the candidates the
  * symmetric batch path would have produced for that document.
  */
class SimilarToSpec extends SparkSuite {
  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog " +
    "and then runs far away into the deep green forest tonight"
  private val near = base.replace("tonight", "tomorrow")
  private val other = "completely different content about spark " +
    "distributed data processing engines and their shuffle behavior"
  private val third = "a third unrelated passage mentioning neither " +
    "foxes nor engines just some plain filler words for testing"

  private def corpus =
    docs(1L -> base, 2L -> other, 3L -> third, 4L -> near)

  private def probeCandidates(all: DataFrame, probeId: Long) =
    Dedup.lshPairsAgainst(
        all.where(col("doc_id") =!= probeId), col("doc_id"),
        col("text"),
        all.where(col("doc_id") === probeId), col("doc_id"),
        col("text"))
      .select(col("old_id")).collect().map(_.getLong(0)).toSet

  test("a probe with a near-duplicate in the corpus surfaces it, " +
      "and never itself") {
    val got = probeCandidates(corpus, 4L)
    assert(got.contains(1L), "near-dup of the probe must be a candidate")
    assert(!got.contains(4L), "probe must not pair with itself")
    assert(!got.contains(2L) && !got.contains(3L),
      "unrelated docs must not band-collide with the probe")
  }

  test("an unrelated probe surfaces no candidates") {
    assert(probeCandidates(corpus, 2L).isEmpty)
  }

  test("the singleton probe returns exactly the batch path's " +
      "candidates for that document") {
    // symmetric check: run the full new-vs-old screen with doc 4 on
    // the new side along with a decoy; doc 4's rows must match the
    // singleton result
    val batch = Dedup.lshPairsAgainst(
        corpus.where(col("doc_id") =!= 4L), col("doc_id"),
        col("text"),
        docs(4L -> near, 99L -> "decoy words only here nothing else"),
        col("doc_id"), col("text"))
      .where(col("new_id") === 4L)
      .select(col("old_id")).collect().map(_.getLong(0)).toSet
    assert(batch == probeCandidates(corpus, 4L))
  }
}
