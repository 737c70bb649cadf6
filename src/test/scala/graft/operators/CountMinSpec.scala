package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Count-Min sketch: never undercounts, overcount bounded by the
  * sketch-width law, absent items estimate 0 on empty buckets,
  * estimates are partitioning-invariant, and tables merge by plain
  * addition (shards/days combine exactly).
  */
class CountMinSpec extends SparkSuite {
  private val W = 64
  private val D = 4

  private def items(seed: Int, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val r = rnd.nextInt(100)
      if (r < 30) "hot" else s"t${rnd.nextInt(300)}"
    }
  }

  private def estimates(data: Seq[(String, String)], probes: Seq[String],
                        parts: Int): Map[(String, String), Long] = {
    val s = spark
    import s.implicits._
    val df = data.toDF("g", "item").repartition(parts)
    val cm = Sketches.countMinTable(df, col("g"), col("item"), W, D)
    Sketches.countMinEstimate(cm, probes, W, D)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
  }

  test("never undercounts; overcount within the width law; " +
      "partitioning-invariant") {
    val data = items(3, 3000).map(("g1", _))
    val n = data.size.toLong
    val truth = data.groupBy(_._2)
      .map { case (k, v) => k -> v.size.toLong }
    val probes = Seq("hot", "t001", "t042", "absent_term")
    val base = estimates(data, probes, 1)
    for (parts <- Seq(1, 5)) {
      val est = estimates(data, probes, parts)
      assert(est === base, s"parts=$parts must be invariant")
      probes.foreach { p =>
        val t = truth.getOrElse(p, 0L)
        val e = est(("g1", p))
        assert(e >= t, s"$p undercounted: $e < $t")
        // standard CM bound with generous constant: err <= 4n/w
        assert(e - t <= 4 * n / W, s"$p overcount ${e - t}")
      }
    }
  }

  test("an absent item whose buckets are empty estimates 0") {
    val s = spark
    import s.implicits._
    val df = Seq(("g1", "only")).toDF("g", "item")
    val cm = Sketches.countMinTable(df, col("g"), col("item"), W, D)
    val est = Sketches.countMinEstimate(cm,
        Seq("definitely_absent_term_xyz"), W, D)
      .collect()(0).getLong(2)
    // 1 occupied bucket per row out of 64: the probe's buckets are
    // empty unless all D hashes collide, which this fixture doesn't
    assert(est === 0L)
  }

  test("tables merge by addition: sum of shard tables == table of " +
      "the union") {
    val s = spark
    import s.implicits._
    val day1 = items(5, 800).map(("g1", _))
    val day2 = items(6, 1200).map(("g1", _))
    def table(d: Seq[(String, String)]) =
      Sketches.countMinTable(d.toDF("g", "item"), col("g"),
        col("item"), W, D)
    val merged = table(day1).unionByName(table(day2))
      .groupBy(col("group"), col("row"), col("bucket"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
    val whole = table(day1 ++ day2)
    val a = merged.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val b = whole.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(a === b)
  }
}
