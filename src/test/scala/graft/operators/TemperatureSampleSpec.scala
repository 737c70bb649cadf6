package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Temperature-smoothed sampling: membership matches the single-node
  * hash-threshold reimplementation exactly, big groups flatten
  * toward sqrt while small groups survive ~whole, and the sampler is
  * reproducible.
  */
class TemperatureSampleSpec extends SparkSuite {
  // head group of 400, mid 100, tail 9
  private def fixture = {
    val s = spark
    import s.implicits._
    ((1L to 400L).map(i => ("head", i)) ++
      (1001L to 1100L).map(i => ("mid", i)) ++
      (2001L to 2009L).map(i => ("tail", i)))
      .toDF("g", "id")
  }

  private def refHash(id: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(id.toString.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16)
  }

  private def isqrt(n: Long): Long = {
    val r = math.sqrt(n.toDouble).toLong
    if (r * r > n) r - 1
    else if ((r + 1) * (r + 1) <= n) r + 1
    else r
  }

  test("membership equals the single-node reference") {
    val sizes = Map("head" -> 400L, "mid" -> 100L, "tail" -> 9L)
    val want = fixture.collect().map(r =>
        (r.getString(0), r.getLong(1)))
      .filter { case (g, id) =>
        val n = sizes(g)
        BigInt(refHash(id)) * n * 1 <
          BigInt(4294967296L) * 3 * isqrt(n)
      }.toSet
    val got = Sampling.temperatureSample(fixture, col("g"),
        col("id"), num = 3L, den = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("head flattens toward sqrt; tail survives in bulk") {
    val kept = Sampling.temperatureSample(fixture, col("g"),
        col("id"), num = 3L, den = 1L)
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // head: p = 3*20/400 = .15 -> ~60 of 400; tail: p = 3*3/9 = 1
    assert(kept("tail") === 9L)
    assert(kept("head") < 120L,
      s"head kept ${kept("head")} of 400 — not flattened")
    // smoothing inverts the raw ordering pressure: head keeps a far
    // smaller fraction than mid
    assert(kept("head").toDouble / 400 <
      kept("mid").toDouble / 100 + 0.2)
  }
}
