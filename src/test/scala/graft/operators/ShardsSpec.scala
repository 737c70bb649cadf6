package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Hash-range shard assignment and the reproducible shard writer. */
class ShardsSpec extends SparkSuite {
  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    (0L until 500L).map(i => (i, s"doc-$i")).toDF("id", "body")
  }

  test("shard ids cover [0, S), are deterministic under " +
      "repartitioning, and refine 2S -> S by halving") {
    val a = docs.select(col("id"),
        Sampling.shardAssign(col("id"), 8).as("s8"),
        Sampling.shardAssign(col("id"), 16).as("s16"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.map(_._2).forall(s => s >= 0 && s < 8))
    // range refinement: the 16-shard id floor-halves to the 8-shard id
    assert(a.forall { case (_, s8, s16) => s16 / 2 == s8 })
    val b = docs.repartition(7).select(col("id"),
        Sampling.shardAssign(col("id"), 8).as("s8"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b == a.map(t => (t._1, t._2)).toSet)
    // every shard non-empty at 500 rows over 8 ranges
    assert(a.map(_._2).distinct.length == 8)
  }

  test("null keys get a null shard, not shard 0") {
    val s = spark
    import s.implicits._
    val withNull = Seq(Some(1L), None).toDF("id")
      .select(Sampling.shardAssign(col("id"), 8).as("sh"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(withNull.count(_.isEmpty) == 1)
  }

  test("writeShards: one sorted file per shard, membership matches " +
      "shardAssign, two runs byte-identical") {
    val dir = tempDir("graft-shards").toFile
    val path = new java.io.File(dir, "out").getAbsolutePath
    Sampling.writeShards(docs, col("id"), 8, path)
    // one data file per shard directory
    val shardDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length == 8, shardDirs.map(_.getName).toSeq)
    for (sd <- shardDirs) {
      val parts = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${sd.getName}: ${parts.length} files")
    }
    // membership and in-shard (hash, key) order
    val back = spark.read.parquet(path)
    val expected = docs.select(col("id"),
        Sampling.shardAssign(col("id"), 8).as("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = back.select(col("id"), col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    val hashOrder = back.where(col("shard") === 3)
      .select(Sampling.hash32(col("id")))
      .collect().map(_.getLong(0)).toSeq
    assert(hashOrder == hashOrder.sorted, "shard not hash-sorted")
    // determinism: a second export produces identical bytes per shard
    val path2 = new java.io.File(dir, "out2").getAbsolutePath
    Sampling.writeShards(docs.repartition(5), col("id"), 8, path2)
    def fileBytes(p: String, shard: Int): Array[Byte] = {
      val f = new java.io.File(s"$p/shard=$shard").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.readAllBytes(f.toPath)
    }
    for (sh <- 0 until 8)
      assert(java.util.Arrays.equals(fileBytes(path, sh),
        fileBytes(path2, sh)), s"shard $sh bytes differ")
  }
}
