package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.operators.Dedup
import graft.{LocalSession, SparkSuite}

/** Continuous delta dedup: a replayed micro-batch stream through
  * [[StreamingStructure.deltaDedupToCorpus]] must leave exactly the
  * corpus the batch operator builds when the same batches are folded
  * through [[Dedup.deduplicateAgainst]] one by one.
  */
class StreamingDeltaDedupSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  private def tmp(prefix: String): String = tempDir(prefix).toString

  // ~24-token documents: each "v2" changes ONE token, so the shingle
  // Jaccard is ~0.8 and the b=16/r=4 banding catches the pair with
  // near-certainty (deterministically, at these exact md5 hashes —
  // the equality assertions against the batch fold hold regardless)
  private val base1 =
    "the quick brown fox jumps over the lazy dog while the " +
    "patient hound watches from a shaded porch near the old barn " +
    "gate today"
  private val base1v2 =
    "the quick brown fox jumps over the lazy cat while the " +
    "patient hound watches from a shaded porch near the old barn " +
    "gate today"
  private val base2 =
    "completely different subject matter discussing spark " +
    "structured streaming state stores checkpoints watermarks " +
    "output modes and the exactly once sink contract in depth"
  private val base2v2 =
    "completely different subject matter discussing spark " +
    "structured streaming state machines checkpoints watermarks " +
    "output modes and the exactly once sink contract in depth"
  private val base3 =
    "a third unrelated document entirely about winnowing " +
    "fingerprints rolling hashes window minima and the moss " +
    "shared substring guarantee for verbatim overlap detection"

  private def corpusIds(path: String): Set[Long] =
    StreamingStructure.readDedupCorpus(spark, path)
      .select(col("id")).collect().map(_.getLong(0)).toSet

  /** Drive `batches` through the streaming pipeline; returns the
    * final corpus id set.
    */
  private def runStream(batches: Seq[Seq[(Long, String)]],
                        corpusPath: String): Set[Long] = {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val query = StreamingStructure.deltaDedupToCorpus(
      input.toDF().toDF("doc_id", "body"), "doc_id", "body",
      corpusPath, tmp("ddd_ckpt"))
    try {
      batches.foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
    } finally query.stop()
    corpusIds(corpusPath)
  }

  /** The batch-side fold: deduplicateAgainst per batch, survivors
    * appended, starting from an empty corpus.
    */
  private def foldBatches(batches: Seq[Seq[(Long, String)]])
      : Set[Long] = {
    val s = spark
    import s.implicits._
    var corpus = Seq.empty[(Long, String)].toDF("id", "text")
    batches.foreach { b =>
      val kept = Dedup.deduplicateAgainst(corpus, col("id"),
        col("text"), b.toDF("doc_id", "body"), col("doc_id"),
        col("body"))
      corpus = corpus.unionByName(
        kept.select(col("doc_id").as("id"), col("body").as("text")))
        .localCheckpoint(true)
    }
    corpus.select(col("id")).collect().map(_.getLong(0)).toSet
  }

  test("single batch: the streamed corpus equals one-shot " +
      "deduplicateAgainst on an empty corpus") {
    val batch = Seq(1L -> base1, 2L -> base1v2, 3L -> base2)
    val got = runStream(Seq(batch), tmp("ddd_corpus"))
    assert(got == foldBatches(Seq(batch)))
    // near-dup pair collapsed to its smallest id, distinct doc kept
    assert(got == Set(1L, 3L))
  }

  test("replayed multi-batch stream equals the per-batch " +
      "deduplicateAgainst fold, later batches screened against " +
      "everything admitted earlier") {
    val batches = Seq(
      Seq(1L -> base1, 2L -> base2),
      // 3 exact-dups 1, 4 near-dups 2 (dropped against corpus),
      // 5 is new
      Seq(3L -> base1, 4L -> base2v2, 5L -> base3),
      // 6 near-dups 1 (corpus), 7 exact-dups 5 (corpus),
      // 8/9 near-dup EACH OTHER only (batch-internal cluster keeps 8)
      Seq(6L -> base1v2, 7L -> base3,
        8L -> ("a brand new fourth topic covering broadcast " +
          "joins adaptive execution skew salting partition " +
          "pruning and columnar parquet scan efficiency notes"),
        9L -> ("a brand new fourth topic covering broadcast " +
          "joins adaptive execution skew salting partition " +
          "pruning and columnar parquet read efficiency notes")))
    val streamed = runStream(batches, tmp("ddd_corpus"))
    val folded = foldBatches(batches)
    assert(streamed == folded)
    assert(streamed == Set(1L, 2L, 5L, 8L))
  }

  test("re-appending a replayed batch is a no-op (at-least-once " +
      "replay converges)") {
    val corpusPath = tmp("ddd_corpus")
    val batch = Seq(1L -> base1, 2L -> base2)
    runStream(Seq(batch), corpusPath)
    val after1 = corpusIds(corpusPath)
    // simulate foreachBatch replay: the same batch screened against
    // the corpus its own survivors built
    val s = spark
    import s.implicits._
    val kept = Dedup.deduplicateAgainst(
      StreamingStructure.readDedupCorpus(spark, corpusPath),
      col("id"), col("text"), batch.toDF("doc_id", "body"),
      col("doc_id"), col("body"))
    assert(kept.isEmpty)
    assert(corpusIds(corpusPath) == after1)
  }
}
