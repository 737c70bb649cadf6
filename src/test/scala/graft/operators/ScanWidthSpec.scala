package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the two scan-shape internals this optimization round added:
  *
  *  - [[ScanStats.widen]] repartitions a NARROW frame to the
  *    session's shuffle width, passes a wide-enough frame through
  *    untouched, and never changes row contents;
  *  - the driver-evaluated fold bucket ids (catalyst
  *    `pmod(xxhash64(v), buckets)` eval'd on the driver) equal the
  *    cluster-side aggregate over the same values — the pruned fold
  *    scan reads exactly the partition directories the artifact
  *    writer produced.
  */
class ScanWidthSpec extends SparkSuite {
  test("widen brings a narrow frame to session width, same rows") {
    val narrow = spark.range(0, 1000).coalesce(1)
      .selectExpr("id", "concat('d', id) as s")
    val w = ScanStats.widen(narrow)
    assert(w.rdd.getNumPartitions === 4)
    assert(w.select(sum(col("id")).cast("long")).head().getLong(0)
      === narrow.select(sum(col("id")).cast("long")).head()
        .getLong(0))
    assert(w.count() === 1000L)
  }

  test("widen leaves a frame at/above width untouched") {
    val wide = spark.range(0, 1000).toDF("id").repartition(8)
    assert(ScanStats.widen(wide) eq wide)
  }

  test("driver-evaluated bucket ids == the writer's partition " +
      "column over the same values") {
    val s = spark
    import s.implicits._
    val nodes = (0 until 500).map(i => s"l$i")
    val buckets = 16
    // what the artifact writer computes (ensureShipmentCycle's sb)
    val clusterIds = nodes.toDF("src")
      .select(pmod(xxhash64(col("src")), lit(buckets.toLong))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    // what the driver fold computes without a job — the private
    // helper's exact expression, restated here
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    val driverIds = nodes.map { v =>
      Pmod(XxHash64(Seq(Literal.create(v,
          org.apache.spark.sql.types.StringType)), 42L),
        Literal(buckets.toLong)).eval(null)
        .asInstanceOf[Long].toInt
    }.toSet
    assert(driverIds === clusterIds)
  }
}
