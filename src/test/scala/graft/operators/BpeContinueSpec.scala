package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Incremental BPE: continuing a k-merge tokenizer by m more merges
  * learns exactly the rules a fresh (k+m)-merge training would have
  * — vocabularies can grow without retraining from scratch.
  */
class BpeContinueSpec extends SparkSuite {
  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(
      "low lower lowest low low",
      "new newer newest new newer",
      "wide wider widest wide",
      "low newer low wide lowest")
      .toDF("text")
  }

  private def asTuples(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("merge_rank")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  test("trainContinue(train(k), m) == train(k + m)") {
    val full = asTuples(Bpe.train(corpus, col("text"),
      numMerges = 6))
    val first = asTuples(Bpe.train(corpus, col("text"),
      numMerges = 4))
    val cont = asTuples(Bpe.trainContinue(corpus, col("text"),
      first.map(t => (t._2, t._3)), moreMerges = 2))
    assert(first === full.take(4))
    assert(cont === full.drop(4))
    // continuation ranks pick up where training left off
    assert(cont.map(_._1) === Seq(5, 6))
  }

  test("continuation stops early when nothing is left to merge") {
    val s = spark
    import s.implicits._
    val tiny = Seq("ab ab").toDF("text")
    val all = asTuples(Bpe.train(tiny, col("text"), numMerges = 1))
    // "ab" collapses to one symbol after 1 merge; nothing remains
    val cont = asTuples(Bpe.trainContinue(tiny, col("text"),
      all.map(t => (t._2, t._3)), moreMerges = 3))
    assert(cont.isEmpty)
  }
}
