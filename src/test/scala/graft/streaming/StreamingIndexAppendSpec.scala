package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Similarity
import graft.{LocalSession, SparkSuite}

/** Continuous ANN index ingestion: streaming a vector batch through
  * [[StreamingStructure.indexAppendStream]] leaves exactly the delta
  * tables the batch [[Similarity.appendToIvfPq]] produces for the
  * same vectors against the same frozen index.
  */
class StreamingIndexAppendSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  private def tmp(prefix: String): String = tempDir(prefix).toString

  private val dims = 8

  private def vec(seed: Long): Seq[Float] =
    (0 until dims).map { j =>
      val x = (seed * 6364136223846793005L + j * 1442695040888963407L)
      ((x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
    }

  test("streamed delta tables equal the batch append") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      s.sqlContext
    val corpus = (1L to 12L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val ivf = Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", k = 3, iters = 2)
    val pq = Similarity.buildPqIndex(corpus, "vec_id", "embedding",
      dims = dims, m = 2, ksub = 3, iters = 2)
    // freeze the index tables so every micro-batch encodes against
    // identical frames (the production shape: the index is parquet,
    // not a live lineage)
    val cents = ivf.centroids.localCheckpoint(true)
    val books = pq.codebooks.localCheckpoint(true)

    val deltas = (101L to 110L).map(i => (i, vec(i * 7)))
    val input = MemoryStream[(Long, Seq[Float])]
    val idx = tmp("gr_idx")
    val query = StreamingStructure.indexAppendStream(
      input.toDF().toDF("vec_id", "embedding"), "vec_id",
      "embedding", dims, 2, cents, books, idx, tmp("gr_ck"))
    try {
      input.addData(deltas.slice(0, 4))
      query.processAllAvailable()
      input.addData(deltas.slice(4, 10))
      query.processAllAvailable()
    } finally query.stop()

    val (bLabels, bCodes) = Similarity.appendToIvfPq(
      deltas.toDF("vec_id", "embedding"), "vec_id", "embedding",
      dims, 2, cents, books)
    val wantLabels = bLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantCodes = bCodes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap

    val gotLabels = s.read.parquet(s"$idx/delta_labels").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotCodes = s.read.parquet(s"$idx/delta_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap

    assert(gotLabels === wantLabels)
    assert(gotCodes === wantCodes)
    assert(gotCodes.size === 10)
  }
}
