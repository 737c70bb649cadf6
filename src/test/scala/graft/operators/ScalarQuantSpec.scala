package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Int8 scalar quantization: codes match a direct Scala reference
  * (round-half-up on the per-dimension affine map in the 2^25
  * integer grid), stay in [0, 255], satisfy the integer error gate,
  * and constant dimensions encode to 0 without dividing by zero.
  */
class ScalarQuantSpec extends SparkSuite {
  private val dims = 6

  private def fixture = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    (0L until 40L).map { id =>
      val v = Array.tabulate(dims) { d =>
        if (d == 4) 0.25f // constant dimension (span = 0)
        else (rnd.nextGaussian() * (d + 1)).toFloat
      }
      (id, v)
    }.toDF("id", "vec")
  }

  /** Reference quantizer in plain Scala over the collected vectors. */
  private def reference(rows: Seq[(Long, Array[Float])])
      : Map[(Long, Long), Long] = {
    def q(x: Float): Long = math.round(x.toDouble * 33554432.0)
    val byDim = (0 until dims).map { d =>
      val xs = rows.map(r => q(r._2(d)))
      d.toLong -> ((xs.min, xs.max))
    }.toMap
    rows.flatMap { case (id, v) =>
      (0 until dims).map { d =>
        val (mn, mx) = byDim(d.toLong)
        val s = mx - mn
        val code = if (s == 0L) 0L
        else ((q(v(d)) - mn) * 510L + s) / (2L * s)
        (id, d.toLong) -> code
      }
    }.toMap
  }

  test("codes equal the Scala reference and sit in [0, 255]") {
    val df = fixture
    val stats = Similarity.sqStats(df, "vec")
    val got = Similarity.sqCodes(df, "id", "vec", stats)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getLong(2))).toMap
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    assert(got === reference(rows))
    assert(got.values.forall(c => c >= 0L && c <= 255L))
  }

  test("error gate holds on every component, span-0 included") {
    val df = fixture
    val stats = Similarity.sqStats(df, "vec")
    val bad = Similarity.sqCodes(df, "id", "vec", stats)
      .where(!col("bound_ok")).count()
    assert(bad === 0L)
  }

  test("dequantized values stay within half a step of the input") {
    val df = fixture
    val statsDf = Similarity.sqStats(df, "vec")
    val stats = statsDf.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val xs = df.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    Similarity.sqCodes(df, "id", "vec", statsDf).collect()
      .foreach { r =>
        val (id, dim, code) = (r.getLong(0), r.getLong(1),
          r.getLong(2))
        val (mn, mx) = stats(dim)
        val span = (mx - mn).toDouble / 33554432.0
        if (span > 0) {
          val deq = mn.toDouble / 33554432.0 + code * span / 255.0
          val x = xs(id)(dim.toInt).toDouble
          // half a quantization step plus the 2^-25 grid epsilon
          assert(math.abs(x - deq) <= span / 510.0 + 1e-7,
            s"id=$id dim=$dim x=$x deq=$deq span=$span")
        }
      }
  }

  test("stats are one row per dimension with min <= max") {
    val stats = Similarity.sqStats(fixture, "vec").collect()
    assert(stats.length === dims)
    stats.foreach(r => assert(r.getLong(1) <= r.getLong(2)))
  }
}
