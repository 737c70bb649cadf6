package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Importance sampling: deterministic, nested in the weight (raising
  * a weight only adds rows), keep rate tracks the weight, and
  * weight >= den keeps everything.
  */
class WeightedSampleSpec extends SparkSuite {
  private def ids(n: Int) = {
    val s = spark
    import s.implicits._
    (1L to n.toLong).toDF("id")
  }

  test("weight >= den keeps every row; weight 0 keeps none") {
    val df = ids(500)
    assert(Sampling.weightedSample(df, col("id"), lit(100L), 100L)
      .count() === 500L)
    assert(Sampling.weightedSample(df, col("id"), lit(1000L), 100L)
      .count() === 500L) // capped at den
    assert(Sampling.weightedSample(df, col("id"), lit(0L), 100L)
      .count() === 0L)
  }

  test("keep rate tracks the weight within sampling noise") {
    val df = ids(20000)
    val kept = Sampling.weightedSample(df, col("id"), lit(25L), 100L)
      .count()
    assert(math.abs(kept - 5000L) < 500L, s"kept=$kept want~5000")
  }

  test("nested: every row kept at weight w survives at weight w+k") {
    val df = ids(5000)
    val low = Sampling.weightedSample(df, col("id"), lit(10L), 100L)
      .collect().map(_.getLong(0)).toSet
    val high = Sampling.weightedSample(df, col("id"), lit(40L), 100L)
      .collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(high))
  }

  test("deterministic across partitionings") {
    val a = Sampling.weightedSample(ids(3000).repartition(1),
      col("id"), lit(33L), 100L).collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedSample(ids(3000).repartition(7),
      col("id"), lit(33L), 100L).collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("null weight means weight 0: the row is dropped") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some(100L)), (2L, Option.empty[Long]))
      .toDF("id", "w")
    val kept = Sampling.weightedSample(df, col("id"), col("w"), 100L)
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L))
  }

  test("per-row weights: heavier rows kept more often") {
    val s = spark
    import s.implicits._
    // rows 1..10000 with weight id % 101 (0..100)
    val df = (1L to 10000L).map(i => (i, i % 101L))
      .toDF("id", "w")
    val kept = Sampling.weightedSample(df, col("id"), col("w"), 100L)
    val rateHeavy = kept.where(col("w") >= 80L).count().toDouble /
      df.where(col("w") >= 80L).count()
    val rateLight = kept.where(col("w") < 20L && col("w") > 0L)
      .count().toDouble /
      df.where(col("w") < 20L && col("w") > 0L).count()
    assert(rateHeavy > 0.75, s"heavy rate $rateHeavy")
    assert(rateLight < 0.30, s"light rate $rateLight")
  }
}
