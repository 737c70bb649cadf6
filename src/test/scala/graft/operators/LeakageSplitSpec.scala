package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Leakage-free split: a test document that near-duplicates a train
  * document moves to train; clean test documents stay; every row is
  * assigned exactly one split; the operation is deterministic under
  * repartitioning.
  */
class LeakageSplitSpec extends SparkSuite {
  /** doc_ids bucketed by the same hash the operator uses. */
  private def residues(ids: Seq[Long], of: Int): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    ids.toDF("id")
      .select(col("id"), pmod(Sampling.hash32(col("id")),
        lit(of.toLong)).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("cross-split near-dups move to train; clean test docs stay") {
    val s = spark
    import s.implicits._
    val r = residues(1L to 60L, 5)
    val testIds = (1L to 60L).filter(r(_) == 0L)
    val trainIds = (1L to 60L).filter(r(_) != 0L)
    assert(testIds.size >= 2 && trainIds.nonEmpty)
    val leakyTest = testIds.head
    val cleanTest = testIds.tail
    val sharedText = (1 to 40).map(i => s"shared token $i word")
      .mkString(" ")
    val docs =
      ((leakyTest, sharedText) +:
        cleanTest.map(id => (id,
          (1 to 30).map(i => s"unique${id}_$i").mkString(" "))) :+
        (trainIds.head, sharedText)) ++
        trainIds.tail.map(id => (id,
          (1 to 30).map(i => s"train${id}_$i").mkString(" ")))
    for (parts <- Seq(1, 4)) {
      val out = Sampling.leakageFreeSplit(
          docs.toDF("doc_id", "text").repartition(parts),
          col("doc_id"), col("text"))
        .collect().map(row => row.getAs[Long]("doc_id") ->
          row.getAs[String]("split")).toMap
      assert(out.size === docs.size, "every row exactly once")
      assert(out(leakyTest) === "train",
        s"parts=$parts leaky test doc must move")
      cleanTest.foreach(id => assert(out(id) === "test",
        s"parts=$parts clean test doc $id must stay"))
      trainIds.foreach(id => assert(out(id) === "train"))
    }
  }

  test("testBucket bounds are validated") {
    val s = spark
    import s.implicits._
    intercept[IllegalArgumentException] {
      Sampling.leakageFreeSplit(Seq((1L, "x")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), of = 5, testBucket = 5)
    }
  }
}
