package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Dedup
import graft.{LocalSession, SparkSuite}

/** Streaming decremental clustering: micro-batched takedown ids
  * retracting against the persisted ClusterState leave exactly the
  * labels a batch retraction of the whole removal set produces,
  * independent of how the removals split across batches
  * (replay-split == batch), matching the full re-cluster of the
  * surviving pairs; the share budget surfaces as a loud batch
  * failure naming the rebuild path.
  */
class StreamingRetractSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  private def tmp(prefix: String): String = tempDir(prefix).toString

  // three chains + one triangle: removals can split chains and
  // strand singletons
  private def basePairs: Seq[(Long, Long)] = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (10L, 11L), (11L, 12L),
    (20L, 21L), (21L, 22L), (20L, 22L),
    (30L, 31L))

  private def labelsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Persist the ClusterState artifact, run the removal batches
    * through the stream, return the serving labels.
    */
  private def streamed(removalBatches: Seq[Seq[Long]],
                       maxShareNum: Long = 1L,
                       maxShareDen: Long = 1L): Set[(Long, Long)] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      s.sqlContext
    val labelsPath = tmp("retract_labels_")
    val pairsPath = tmp("retract_pairs_")
    val removalsPath = tmp("retract_removals_")
    val servingPath = tmp("retract_serving_")
    val state = Dedup.clusterState(basePairs.toDF("id1", "id2"))
    state.labels.write.mode("overwrite").parquet(labelsPath)
    state.pairs.write.mode("overwrite").parquet(pairsPath)
    val input = MemoryStream[Long]
    val q = StreamingStructure.retractFoldStream(
      input.toDF().toDF("id"), labelsPath, pairsPath, removalsPath,
      servingPath, tmp("retract_ckpt_"), maxShareNum, maxShareDen)
    try {
      removalBatches.foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
      if (q.exception.isDefined) throw q.exception.get
    } finally q.stop()
    labelsOf(spark.read.parquet(s"$servingPath/labels"))
  }

  /** The ground truth: full CC over the surviving pairs plus
    * stranded singletons, removed ids gone.
    */
  private def rebuilt(removed: Set[Long]): Set[(Long, Long)] = {
    val s = spark
    import s.implicits._
    val surviving = basePairs.filter(p =>
      !removed(p._1) && !removed(p._2))
    val cc = labelsOf(
      Dedup.connectedComponents(surviving.toDF("id1", "id2")))
    val clustered = cc.map(_._1)
    val allIds = basePairs.flatMap(p => Seq(p._1, p._2)).toSet
    val singles = (allIds -- removed -- clustered).map(i => (i, i))
    cc ++ singles
  }

  test("streamed retraction == batch retraction == full re-cluster " +
      "of surviving pairs, split-independent") {
    // removing 3 splits chain 1-5; removing 11 strands 10 and 12;
    // removing 21 keeps the triangle connected through 20-22
    val r1 = Seq(3L, 11L)
    val r2 = Seq(21L)
    val expected = rebuilt((r1 ++ r2).toSet)
    assert(streamed(Seq(r1, r2)) === expected)
    assert(streamed(Seq(r1 ++ r2)) === expected)
  }

  test("a removal that strands every partner leaves singleton " +
      "self-labels through the stream") {
    val expected = rebuilt(Set(31L))
    val got = streamed(Seq(Seq(31L)))
    assert(got === expected)
    assert(got.contains((30L, 30L)))
  }

  test("the share budget surfaces as a loud batch failure naming " +
      "the rebuild path") {
    val ex = intercept[Exception] {
      // budget 0/1: ANY affected pair refuses
      streamed(Seq(Seq(3L)), maxShareNum = 0L, maxShareDen = 1L)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("rebuild with " +
      "clusterState")))
  }
}
