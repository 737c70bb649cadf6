package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Johnson-Lindenstrauss ±1 projection (q121). Pins: the md5-parity
  * sign convention against independently computed fixtures; exact
  * linearity on the quantization grid (scaling a grid-exact vector
  * scales its projection exactly); nearest-neighbour preservation
  * for well-separated clusters; the short-vector null contract; and
  * determinism across runs.
  */
class JlSpec extends SparkSuite {
  private def vecs(rows: (Long, Seq[Float])*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("sign convention matches independently computed md5 parity " +
      "fixtures") {
    // computed outside the JVM: md5('jl_<i>_<j>') first-byte high
    // nibble, even -> +1
    assert(Similarity.jlSign(0, 0) == -1)
    assert(Similarity.jlSign(7, 0) == 1)
    assert(Similarity.jlSign(5, 3) == -1)
    assert(Similarity.jlSign(63, 15) == 1)
  }

  test("projection is exactly linear on the quantization grid") {
    val base = (0 until 8).map(i => (i + 1).toFloat / 1024f)
    val doubled = base.map(_ * 2f)
    val got = Similarity.jlProject(
        vecs(1L -> base, 2L -> doubled), "vec_id", "embedding",
        inDim = 8, outDims = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(2L) == got(1L).map(_ * 2L))
  }

  test("well-separated clusters keep their nearest neighbour in " +
      "the projected space") {
    def axis(d: Int, mag: Float, jitter: Float) =
      (0 until 16).map(i => if (i == d) mag else jitter)
    val df = vecs(
      0L -> axis(0, 1f, 0.01f),
      1L -> axis(0, 1f, 0.02f),   // same cluster as the probe
      2L -> axis(7, 1f, 0.01f),
      3L -> axis(11, 1f, 0.01f))
    val top = Similarity.jlTopK(df, "vec_id", "embedding",
        inDim = 16, outDims = 8, queryId = 0L, k = 3)
      .collect().map(_.getLong(0)).toList
    assert(top.head == 1L,
      s"cluster-mate must rank first in projected space: $top")
  }

  test("vectors shorter than inDim project to null, not a silent " +
      "zero-pad") {
    val got = Similarity.jlProject(
        vecs(1L -> (0 until 4).map(_.toFloat)), "vec_id",
        "embedding", inDim = 8, outDims = 2)
      .collect()(0)
    assert(got.isNullAt(1) || got.getSeq[Any](1).forall(_ == null))
  }

  test("the projection is deterministic across runs") {
    val df = vecs(1L -> (0 until 32).map(i => (i * 37 % 11) / 7f))
    def run() = Similarity.jlProject(df, "vec_id", "embedding",
      inDim = 32, outDims = 16).collect()(0).getSeq[Long](1)
    assert(run() == run())
  }
}
