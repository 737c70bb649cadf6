package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Hilbert index: the canonical 4x4 table, bijectivity over the full
  * grid, THE curve law (consecutive indices are grid-adjacent — what
  * Z-order lacks at seam jumps), partition locality under
  * hilbertLayout, and masked-input enforcement.
  */
class HilbertSpec extends SparkSuite {
  private def hv(pts: Seq[(Long, Long)], bits: Int): Seq[Long] = {
    val s = spark
    import s.implicits._
    pts.toDF("a", "b")
      .select(Layout.hilbertValue2(col("a"), col("b"), bits).as("h"))
      .collect().map(_.getLong(0)).toSeq
  }

  test("canonical 4x4 walk") {
    // the order-2 Hilbert curve: U shapes stitched with rotations
    val want = Map(
      (0L, 0L) -> 0L, (1L, 0L) -> 1L, (1L, 1L) -> 2L, (0L, 1L) -> 3L,
      (0L, 2L) -> 4L, (0L, 3L) -> 5L, (1L, 3L) -> 6L, (1L, 2L) -> 7L,
      (2L, 2L) -> 8L, (2L, 3L) -> 9L, (3L, 3L) -> 10L,
      (3L, 2L) -> 11L, (3L, 1L) -> 12L, (2L, 1L) -> 13L,
      (2L, 0L) -> 14L, (3L, 0L) -> 15L)
    val pts = want.keys.toSeq
    val got = pts.zip(hv(pts, bits = 2)).toMap
    want.foreach { case (p, d) => assert(got(p) === d, p) }
  }

  test("bijective over the full grid; consecutive indices are " +
      "grid-adjacent (the locality law Z-order lacks)") {
    val bits = 4
    val nSide = 1 << bits
    val pts = for {
      x <- 0L until nSide; y <- 0L until nSide
    } yield (x, y)
    val ds = pts.zip(hv(pts, bits))
    assert(ds.map(_._2).distinct.size === nSide * nSide)
    assert(ds.map(_._2).min === 0L)
    assert(ds.map(_._2).max === (nSide * nSide - 1).toLong)
    val byD = ds.map { case (p, d) => d -> p }.toMap
    (1L until (nSide * nSide).toLong).foreach { d =>
      val (x1, y1) = byD(d - 1)
      val (x2, y2) = byD(d)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"step $d jumps from ($x1,$y1) to ($x2,$y2)")
    }
    // Z-order, by contrast, DOES jump at seams on the same grid
    val s = spark
    import s.implicits._
    val zs = pts.toDF("a", "b")
      .select(col("a"), col("b"),
        Layout.zValue2(col("a"), col("b"), bits).as("z"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
      .toMap
    val zJumps = (1L until (nSide * nSide).toLong).count { z =>
      val (x1, y1) = zs(z - 1); val (x2, y2) = zs(z)
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1L
    }
    assert(zJumps > 0, "fixture too small to show Morton seams")
  }

  test("hilbertLayout: partitions cover disjoint index ranges") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(21)
    val df = (1 to 4000)
      .map(_ => (rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .toDF("a", "b")
    val parted = Layout.hilbertLayout(df, col("a"), col("b"),
      bits = 8, numPartitions = 6)
    val ranges = parted
      .select(Layout.hilbertValue2(col("a"), col("b"), 8).as("h"),
        spark_partition_id().as("p"))
      .groupBy("p").agg(min("h").as("mn"), max("h").as("mx"))
      .orderBy("mn").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    ranges.sliding(2).foreach {
      case Array((_, amax), (bmin, _)) => assert(amax <= bmin)
      case _ =>
    }
  }

  test("out-of-range points are rejected, not silently truncated") {
    val ex = intercept[Exception] {
      hv(Seq((256L, 0L)), bits = 8)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("outside")), ex.toString)
  }
}
