package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Equi-depth binning via GK-sketch boundaries: buckets are ordered
  * by value, populations stay within tolerance of n/b on a
  * continuous distribution, assignment is total (every row lands in
  * exactly one bucket), and the census gate reads true.
  */
class EquiDepthSpec extends SparkSuite {
  private def fixture = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(47)
    (1 to 10000).map(i => (i.toLong, rnd.nextDouble() * 1000.0))
      .toDF("id", "x").repartition(6)
  }

  test("every row lands in exactly one bucket in [0, b)") {
    val binned = Sketches.equiDepthBins(fixture, col("x"), b = 8)
    assert(binned.count() === 10000L)
    val buckets = binned.groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets.keySet.forall(k => k >= 0 && k < 8))
    assert(buckets.values.sum === 10000L)
  }

  test("buckets are value-ordered: max of bucket i <= min of i+1") {
    val binned = Sketches.equiDepthBins(fixture, col("x"), b = 8)
    val ranges = binned.groupBy("bucket")
      .agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    ranges.sliding(2).foreach {
      case Array((_, _, mxa), (_, mnb, _)) => assert(mxa <= mnb)
      case _ =>
    }
  }

  test("populations within 5% of n/b on continuous data; census " +
      "gate reads true") {
    val df = fixture
    val counts = Sketches.equiDepthBins(df, col("x"), b = 8)
      .groupBy("bucket").count().collect().map(_.getLong(1))
    val ideal = 10000.0 / 8
    counts.foreach(c =>
      assert(math.abs(c - ideal) <= ideal * 0.05, counts.toSeq))
    val census = Sketches.equiDepthCensus(df, col("x"), b = 8)
      .collect()(0)
    assert(census.getLong(0) === 10000L)
    assert(census.getInt(1) === 8)
    assert(census.getBoolean(2))
  }

  test("census is well-defined on empty and all-null input") {
    val s = spark
    import s.implicits._
    for (df <- Seq(
        Seq.empty[Option[Double]].toDF("x"),
        Seq[Option[Double]](None, None).toDF("x"))) {
      val census = Sketches.equiDepthCensus(df, col("x"), b = 4)
        .collect()(0)
      // clean zero/true verdicts, not nulls that poison downstream
      // boolean gates
      assert(!census.isNullAt(0) && census.getLong(0) === 0L)
      assert(census.getInt(1) === 0)
      assert(!census.isNullAt(2) && census.getBoolean(2))
    }
  }
}
