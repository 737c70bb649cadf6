package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** Decremental clustering: retractFromComponents == the full
  * re-cluster of the surviving pairs plus stranded singletons, the
  * pair store stays label-consistent, the share budget refuses
  * cluster-wide retractions, and retract composes with the addition
  * fold.
  */
class RetractSpec extends SparkSuite {
  private def toPairs(ps: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    ps.toDF("id1", "id2")
  }

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The definitional result: CC over pairs not touching a removed
    * id, plus self-labels for previously-clustered survivors with
    * no surviving pair.
    */
  private def reference(pairs: Seq[(Long, Long)],
                        removed: Set[Long]): Map[Long, Long] = {
    val kept = pairs.filter(p =>
      !removed.contains(p._1) && !removed.contains(p._2))
    val cc = labelMap(Dedup.connectedComponents(toPairs(kept)))
    val prevNodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      .diff(removed)
    cc ++ prevNodes.diff(cc.keySet).map(id => id -> id)
  }

  test("retract == full re-cluster + stranded singletons on " +
      "random fixtures") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(71)
    for (trial <- 1 to 4) {
      val n = 25 + trial * 10
      val pairs = Seq.fill(n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val removed = rnd.shuffle(ids).take(1 + trial).toSet
      val state = Dedup.clusterState(toPairs(pairs))
      val after = Dedup.retractFromComponents(state,
        removed.toSeq.toDF("id"), maxShareNum = 1L,
        maxShareDen = 1L)
      assert(labelMap(after.labels) === reference(pairs, removed),
        s"trial $trial removed $removed")
    }
  }

  test("a mid-chain retraction SPLITS the component; the pair " +
      "store re-tags with the new labels") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4-5 plus an untouched pair 10-11: removing 3
    // splits {1..5} into {1,2} and {4,5}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L))
    val state = Dedup.clusterState(toPairs(pairs))
    assert(labelMap(state.labels) === Map(1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L))
    val after = Dedup.retractFromComponents(state,
      Seq(3L).toDF("id"), maxShareNum = 1L, maxShareDen = 1L)
    assert(labelMap(after.labels) === Map(1L -> 1L, 2L -> 1L,
      4L -> 4L, 5L -> 4L, 10L -> 10L, 11L -> 10L))
    // pair-store consistency: every surviving pair carries id1's
    // NEW label, and no pair touches the removed id
    val stored = after.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stored === Set((1L, 2L, 1L), (4L, 5L, 4L),
      (10L, 11L, 10L)))
  }

  test("retracting a doc whose every pair dies strands its " +
      "partners as singletons") {
    val s = spark
    import s.implicits._
    val state = Dedup.clusterState(toPairs(Seq((1L, 2L), (1L, 3L))))
    val after = Dedup.retractFromComponents(state, Seq(1L).toDF("id"),
      maxShareNum = 1L, maxShareDen = 1L)
    assert(labelMap(after.labels) === Map(2L -> 2L, 3L -> 3L))
    assert(after.pairs.count() === 0L)
  }

  test("the share budget refuses a retraction touching too much " +
      "of the store, naming the rebuild path") {
    val s = spark
    import s.implicits._
    val state = Dedup.clusterState(toPairs(
      Seq((1L, 2L), (2L, 3L), (10L, 11L))))
    val ex = intercept[IllegalArgumentException] {
      // component {1,2,3} holds 2 of 3 stored pairs > 1/2 budget
      Dedup.retractFromComponents(state, Seq(2L).toDF("id"))
    }
    assert(ex.getMessage.contains("clusterState"))
    // raising the budget lets the same retraction through
    val after = Dedup.retractFromComponents(state, Seq(2L).toDF("id"),
      maxShareNum = 1L, maxShareDen = 1L)
    assert(labelMap(after.labels) === Map(1L -> 1L, 3L -> 3L,
      10L -> 10L, 11L -> 10L))
  }

  test("retract composes with the addition fold: fold(retract) == " +
      "full CC over surviving + new pairs") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val state = Dedup.clusterState(toPairs(pairs))
    val after = Dedup.retractFromComponents(state, Seq(2L).toDF("id"),
      maxShareNum = 1L, maxShareDen = 1L)
    // new pairs re-bridge 1 to the {3,4} remnant and grow 10-11
    val newPairs = Seq((1L, 4L), (11L, 12L))
    val folded = labelMap(
      Dedup.foldComponents(after.labels, toPairs(newPairs)))
    val survived = pairs.filter(p => p._1 != 2L && p._2 != 2L)
    val full = labelMap(
      Dedup.connectedComponents(toPairs(survived ++ newPairs)))
    // fold also carries the stranded singleton 1 (via its star edge)
    assert(folded === full)
  }
}
