package graft.operators

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** Small-file compaction: the file-count/byte envelope matches the
  * report, query results are unchanged, a sort contract survives
  * compaction (disjoint per-file ranges), and a compacted bucketed
  * table still joins with zero exchanges at one file per bucket.
  */
class CompactionSpec extends SparkSuite {
  private val base = tempDir("graft_compact")

  override protected def session = LocalSession(4)
    .config("spark.sql.warehouse.dir", s"$base/warehouse")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  test("compactFiles hits the derived file count and keeps results") {
    val s = spark
    import s.implicits._
    val dir = s"$base/frag"
    val df = (0 until 20000)
      .map(i => (i.toLong, s"payload_$i", i % 97))
      .toDF("id", "payload", "grp")
    // 64 fragments — the streaming-sink shape
    df.repartition(64).write.parquet(dir)
    assert(parquetFiles(dir).size === 64)
    val before = s.read.parquet(dir).collect().map(_.toSeq).toSet

    val target = 64L * 1024
    val rep = Layout.compactFiles(s, dir, target)
    assert(rep.filesBefore === 64)
    val wantFiles =
      ((rep.bytesBefore + target - 1) / target).toInt
    assert(rep.filesAfter === wantFiles, rep)
    assert(rep.filesAfter < rep.filesBefore, rep)
    assert(parquetFiles(dir).size === rep.filesAfter)
    assert(parquetFiles(dir).map(_.length()).sum === rep.bytesAfter)
    // unchanged query results
    val after = s.read.parquet(dir).collect().map(_.toSeq).toSet
    assert(after === before)
    assert(s.read.parquet(dir).groupBy("grp").count().count() === 97)
    // no staging residue
    assert(!new java.io.File(dir + ".__compact_tmp").exists())
  }

  test("compactFiles with sortBy preserves disjoint per-file ranges") {
    val s = spark
    import s.implicits._
    val dir = s"$base/sorted"
    val df = (0 until 20000).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v")
    df.repartitionByRange(32, col("k")).sortWithinPartitions("k")
      .write.parquet(dir)
    val rep = Layout.compactFiles(s, dir, 128L * 1024,
      sortBy = Seq("k"))
    assert(rep.filesAfter < 32)
    // each surviving file covers a k-range disjoint from the others
    // and is sorted internally — the contract parquet min/max
    // pruning needs
    val ranges = parquetFiles(dir).map { f =>
      val rows = s.read.parquet(f.getAbsolutePath)
        .select("k").collect().map(_.getLong(0))
      assert(rows.sameElements(rows.sorted), f.getName)
      (rows.min, rows.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, amax), (bmin, _)) => assert(amax < bmin, ranges)
      case _ =>
    }
    assert(s.read.parquet(dir).count() === 20000)
  }

  test("compactBucketed keeps the zero-exchange join at one file " +
      "per bucket") {
    val s = spark
    import s.implicits._
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.treeString
        .split("== Initial Plan ==")(0)
        .split("Exchange ", -1).length - 1
    }
    val facts = (0 until 5000)
      .map(i => (i.toLong % 400, s"evt$i")).toDF("key", "payload")
    val dims = (0L until 400L).map(k => (k, s"dim$k"))
      .toDF("key", "attr")
    // 4 upstream partitions x 8 buckets -> fragmented bucket files
    Layout.writeBucketed(facts.repartition(4), "c_facts",
      s"$base/c_facts", "key", 8)
    Layout.writeBucketed(dims, "c_dims", s"$base/c_dims", "key", 8)
    val fragFiles = parquetFiles(s"$base/c_facts").size
    assert(fragFiles > 8, s"fixture not fragmented: $fragFiles")

    Layout.compactBucketed(s, "c_facts", "c_facts2",
      s"$base/c_facts2")
    // exchange hash aligns with the bucket hash -> one file/bucket
    assert(parquetFiles(s"$base/c_facts2").size === 8)
    val joined = s.table("c_facts2").join(s.table("c_dims"), "key")
    assert(exchanges(joined) === 0,
      joined.queryExecution.executedPlan.treeString)
    // results identical to the fragmented original
    assert(joined.collect().map(_.toSeq).toSet ===
      s.table("c_facts").join(s.table("c_dims"), "key")
        .collect().map(_.toSeq).toSet)
  }

  test("compactBucketed refuses non-bucketed tables") {
    val s = spark
    import s.implicits._
    Seq((1L, "x")).toDF("key", "v").write
      .option("path", s"$base/plain_t").saveAsTable("plain_t")
    intercept[IllegalArgumentException] {
      Layout.compactBucketed(s, "plain_t", "plain_t2",
        s"$base/plain_t2")
    }
  }
}
