package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** Property layer for blocked linkage: on random record sets, the
  * operator's pairs equal a naive brute-force model of the declared
  * semantics (same block + under cap + edit distance cut), and the
  * census totals always reconcile.
  */
class EntityResolutionPropertiesSpec extends SparkSuite {
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private val recGen: Gen[(String, String)] = for {
    blk <- Gen.oneOf("b0", "b1", "b2")
    nm <- Gen.listOfN(4, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
  } yield (blk, nm)

  test("operator pairs equal the brute-force model on random records") {
    val s = spark
    import s.implicits._
    (0 until 8).foreach { seed =>
      val recs = Gen.listOfN(24, recGen)
        .apply(Gen.Parameters.default, Seed(seed.toLong)).get
        .zipWithIndex.map { case ((blk, nm), i) =>
          (i.toLong, nm, blk) }
      val maxBlock = 10L
      val maxDist = 1
      val df = recs.toDF("id", "nm", "blk")
      val got = EntityResolution.blockedEditPairs(df, col("id"),
          col("nm"), col("blk"), maxDist, maxBlock)
        .select("id1", "id2", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sizes = recs.groupBy(_._3).view.mapValues(_.size).toMap
      val want = (for {
        a <- recs; b <- recs
        if a._3 == b._3 && a._1 < b._1 &&
          sizes(a._3) <= maxBlock &&
          lev(a._2, b._2) <= maxDist
      } yield (a._1, b._1, lev(a._2, b._2).toLong)).toSet
      assert(got == want, s"seed $seed")
      // census totals reconcile with the record set
      val census = EntityResolution.blockCensus(df, col("blk"),
        maxBlock).collect().head
      assert(census.getAs[Long]("n_records") == recs.length.toLong)
      assert(census.getAs[Long]("n_blocks") ==
        recs.map(_._3).distinct.length.toLong)
    }
  }
}
