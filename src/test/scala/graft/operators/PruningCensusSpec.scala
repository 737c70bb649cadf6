package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Footer-pruning census: a range-sorted layout lets a narrow range
  * predicate skip most files; a random layout forces a full read of
  * the SAME data; row accounting is exact against the known totals.
  */
class PruningCensusSpec extends SparkSuite {
  private val dir = tempDir("graft_prune").toString

  test("sorted layout prunes a narrow range; shuffled layout cannot") {
    val s = spark
    import s.implicits._
    // key 0..9999; a "shuffled" clustering by hash destroys locality
    val data = (0L until 10000L).toDF("k")
      .withColumn("payload", col("k") * 7)

    val sortedPath = s"$dir/sorted"
    data.repartitionByRange(10, col("k"))
      .sortWithinPartitions("k")
      .write.mode("overwrite").parquet(sortedPath)

    val shuffledPath = s"$dir/shuffled"
    data.repartition(10, expr("hash(k)"))
      .write.mode("overwrite").parquet(shuffledPath)

    // a 2% range: [5000, 5199]
    val sorted = Layout.pruningCensus(s, sortedPath, "k", 5000L, 5199L)
    val shuffled = Layout.pruningCensus(s, shuffledPath, "k",
      5000L, 5199L)

    assert(sorted.rowsTotal == 10000L)
    assert(shuffled.rowsTotal == 10000L)
    // the sorted layout reads a strict minority of files; the hashed
    // layout must read every file (each spans ~the full key range)
    assert(sorted.filesNeeded * 3 <= sorted.filesTotal,
      s"sorted: ${sorted.filesNeeded}/${sorted.filesTotal}")
    assert(shuffled.filesNeeded == shuffled.filesTotal,
      s"shuffled: ${shuffled.filesNeeded}/${shuffled.filesTotal}")
    // needed rows always cover the true matches
    assert(sorted.rowsNeeded >= 200L)
    assert(sorted.rowsNeeded < shuffled.rowsNeeded)
  }

  test("z-order layout prunes BOTH dimensions; single-sort prunes only its own") {
    val s = spark
    import s.implicits._
    // 100x100 grid: (a, b) independent — the multidimensional case
    // z-ordering exists for
    val grid = (0L until 10000L).toDF("i")
      .select((col("i") / 100).cast("long").as("a"),
        (col("i") % 100).cast("long").as("b"))

    val byAPath = s"$dir/by_a"
    grid.repartitionByRange(16, col("a"))
      .sortWithinPartitions("a")
      .write.mode("overwrite").parquet(byAPath)

    val zPath = s"$dir/zorder"
    Layout.zOrderLayout(grid, col("a"), col("b"), bits = 7,
        numPartitions = 16)
      .write.mode("overwrite").parquet(zPath)

    // 10% range on each dimension
    val aByA = Layout.pruningCensus(s, byAPath, "a", 40L, 49L)
    val bByA = Layout.pruningCensus(s, byAPath, "b", 40L, 49L)
    val aByZ = Layout.pruningCensus(s, zPath, "a", 40L, 49L)
    val bByZ = Layout.pruningCensus(s, zPath, "b", 40L, 49L)

    // sort-by-a: the a-range prunes hard, the b-range reads ALL
    assert(aByA.filesNeeded * 3 <= aByA.filesTotal)
    assert(bByA.filesNeeded == bByA.filesTotal)
    // z-order: BOTH dimensions prune (strictly fewer rows than the
    // full table on each axis — the envelope the layout exists for)
    assert(aByZ.rowsNeeded < aByZ.rowsTotal,
      s"z a-range: ${aByZ.rowsNeeded}/${aByZ.rowsTotal}")
    assert(bByZ.rowsNeeded < bByZ.rowsTotal,
      s"z b-range: ${bByZ.rowsNeeded}/${bByZ.rowsTotal}")
    // and the b-range in particular beats the sorted-by-a layout,
    // which cannot skip anything for it
    assert(bByZ.rowsNeeded < bByA.rowsNeeded)
  }

  test("full-range predicate needs everything; empty range needs nothing (sorted)") {
    val s = spark
    val sortedPath = s"$dir/sorted"
    val all = Layout.pruningCensus(s, sortedPath, "k",
      Long.MinValue, Long.MaxValue)
    assert(all.filesNeeded == all.filesTotal)
    assert(all.rowsNeeded == all.rowsTotal)
    val none = Layout.pruningCensus(s, sortedPath, "k",
      1000000L, 2000000L)
    assert(none.rowGroupsNeeded == 0 && none.rowsNeeded == 0L)
  }
}
