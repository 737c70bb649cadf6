package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Incremental (delta) deduplication: a new batch against an
  * existing corpus. Pins the cluster verdicts (any corpus member
  * drops the whole batch side of the cluster; batch-only clusters
  * keep the smallest id), the exact-fingerprint pass including
  * sub-shingle short documents, and the empty-corpus equivalence to
  * plain deduplicate.
  */
class DedupAgainstSpec extends SparkSuite {
  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private val textX = "the quick brown fox jumps over the lazy dog " +
    "and then runs far away into the deep green forest tonight"
  private val textY = "completely different content about spark " +
    "distributed data processing engines and their shuffle behavior"
  private val textZ = "a third unrelated passage mentioning neither " +
    "foxes nor engines just some plain filler words for testing"

  // near-dup of X: one trailing token changed -> very high Jaccard
  private val textXnear = textX.replace("tonight", "tomorrow")
  private val textZnear = textZ.replace("testing", "probing")

  private def corpus = docs(1L -> textX, 2L -> textY, 3L -> "tiny doc")

  test("exact duplicates of the corpus are dropped, including " +
      "sub-shingle short docs") {
    val batch = docs(10L -> textX, 11L -> "tiny doc", 12L -> textZ)
    val kept = Dedup.deduplicateAgainst(corpus, col("doc_id"),
        col("text"), batch, col("doc_id"), col("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // textX exact vs corpus; "tiny doc" (2 tokens, no shingles)
    // caught by the fingerprint pass; textZ unique -> kept
    assert(kept == Set(12L))
  }

  test("near-duplicates of the corpus are dropped; batch-only " +
      "near-dup clusters keep the smallest id") {
    val batch = docs(
      10L -> textXnear,  // near-dup of corpus doc 1 -> dropped
      11L -> textZ,      // near-dups 11/12: batch-only cluster
      12L -> textZnear,  //   -> keep 11, drop 12
      13L -> textY.replace("behavior", "behaviour")) // near corpus 2
    val kept = Dedup.deduplicateAgainst(corpus, col("doc_id"),
        col("text"), batch, col("doc_id"), col("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L))
  }

  test("exact duplicates within the batch keep the smallest id") {
    val batch = docs(20L -> textZ, 21L -> textZ, 22L -> "x y",
      23L -> "x y")
    val kept = Dedup.deduplicateAgainst(corpus, col("doc_id"),
        col("text"), batch, col("doc_id"), col("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(20L, 22L))
  }

  test("a batch with no duplicates passes through untouched") {
    val batch = docs(30L -> textZ)
    val kept = Dedup.deduplicateAgainst(corpus, col("doc_id"),
        col("text"), batch, col("doc_id"), col("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(30L))
  }

  test("empty corpus: deduplicateAgainst == deduplicate (plus the " +
      "exact pass) on a near-dup batch") {
    val empty = docs()
    val batch = docs(40L -> textX, 41L -> textXnear, 42L -> textY,
      43L -> textZ)
    val incr = Dedup.deduplicateAgainst(empty, col("doc_id"),
        col("text"), batch, col("doc_id"), col("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val plain = Dedup.deduplicate(batch, col("doc_id"), col("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(incr == plain)
    assert(incr == Set(40L, 42L, 43L))
  }

  test("lshPairsAgainst emits only new-vs-old pairs and finds " +
      "straddling duplicates") {
    val pairs = Dedup.lshPairsAgainst(corpus, col("doc_id"),
        col("text"),
        docs(50L -> textX, 51L -> textZ), col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((50L, 1L)))  // identical doc collides
    assert(pairs.forall { case (n, o) => n >= 50L && o < 50L })
  }
}
