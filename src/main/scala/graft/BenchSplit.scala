package graft

import org.apache.spark.sql.SparkSession

/** The session Bench and QueryProbe measure on, so their numbers
  * stay comparable: [[LocalSession]] plus two split settings sized for
  * the local sf tables.
  */
object BenchSplit {
  def session(sfDir: String, cpus: Int): SparkSession.Builder =
    LocalSession(cpus)
      // the sf tables are single sub-MB parquet files; without a
      // smaller split size every map-side stage (shingling, hashing,
      // signatures) runs on ONE core of the 32. See `size`.
      .config("spark.sql.files.maxPartitionBytes",
        size(sfDir, cpus).toString)
      // AQE's coalescer floors post-shuffle partitions at 1 MB by
      // default; on CPU-heavy small shuffles (shingle/md5/signature
      // aggregations over the sub-MB sf tables) that collapses a
      // 32-core box to 4-5 reduce tasks. A 64 KB floor keeps such
      // stages at session width; at production scale shuffle
      // partitions are far above either floor, so the knob is
      // local-regime-only by construction.
      .config("spark.sql.adaptive.coalescePartitions" +
        ".minPartitionSize", "65536")

  /** Scale-adaptive parquet split size:
    * `clamp(listedBytes / (3 · cpus), 64 KB, 128 MB)` — roughly three
    * scan-task waves per core on the local single-file sf tables, and
    * exactly Spark's 128 MB default once the input is big enough that
    * split sizing stops being the parallelism bottleneck (a real
    * cluster gets its splits from many files). Replaces the previous
    * 64 KB CONSTANT, which fanned a 17 MB corpus into hundreds of
    * micro-tasks whose scheduling overhead made the 32-core run lose
    * to the 8-core run under co-tenant load (round-14 scaling runs,
    * q47 ratio 0.15).
    */
  def size(sfDir: String, cpus: Int): Long = {
    import scala.jdk.CollectionConverters._
    val bytes =
      try {
        val stream = java.nio.file.Files
          .list(java.nio.file.Paths.get(sfDir))
        try stream.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
        finally stream.close()
      } catch { case _: Throwable => 0L }
    math.max(65536L, math.min(128L << 20, bytes / (3L * cpus.max(1))))
  }
}
