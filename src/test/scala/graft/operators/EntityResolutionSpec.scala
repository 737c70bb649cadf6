package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Blocked fuzzy linkage: pairs only within blocks, the edit-distance
  * cut, id1 < id2 canonical order, and the over-cap block exclusion.
  */
class EntityResolutionSpec extends SparkSuite {
  private def recs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "alpha", "b1"), (2L, "alphb", "b1"), // dist 1, same block
      (3L, "alpha", "b2"),                      // dist 0 to #1, OTHER block
      (4L, "gamma", "b1"),                      // dist > 1 to both
      (5L, "delta", "b3"), (6L, "delta", "b3"), // dist 0 pair
      (7L, "omega", "b4"), (8L, "omegb", "b4"),
      (9L, "omegc", "b4")                       // b4: 3 records
    ).toDF("id", "nm", "blk")
  }

  test("pairs form only inside a block and respect the distance cut") {
    val got = EntityResolution.blockedEditPairs(recs, col("id"),
        col("nm"), col("blk"), maxDist = 1, maxBlock = 100L)
      .select("id1", "id2", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // cross-block (1,3) absent despite dist 0; (1,4) absent (dist 4);
    // b4's three names are pairwise dist 1
    assert(got == Set((1L, 2L, 1L), (5L, 6L, 0L),
      (7L, 8L, 1L), (7L, 9L, 1L), (8L, 9L, 1L)))
  }

  test("over-cap blocks are excluded before pairing") {
    val got = EntityResolution.blockedEditPairs(recs, col("id"),
        col("nm"), col("blk"), maxDist = 1, maxBlock = 2L)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // b1 (ids 1,2,4) and b4 (ids 7,8,9) are both 3-record blocks,
    // over the cap of 2; only b3's pair survives
    assert(got == Set((5L, 6L)))
  }

  test("block census prices the quadratic cost") {
    val r = EntityResolution.blockCensus(recs, col("blk"), 2L)
      .collect().head
    assert(r.getAs[Long]("n_blocks") == 4L)
    assert(r.getAs[Long]("n_records") == 9L)
    // block sizes: b1=3, b2=1, b3=2, b4=3 → two over the cap of 2;
    // surviving candidate volume = C(1,2)=0 + C(2,2)=1
    assert(r.getAs[Long]("n_over_cap") == 2L)
    assert(r.getAs[Long]("candidate_pairs") == 1L)
  }
}
