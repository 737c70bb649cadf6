package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-soak data generator: replicate an sf directory N times with
  * deterministic key shifts, so the scale machinery (pair-volume
  * guards, hot-bucket caps, broadcast budgets, counter demotion) can
  * be exercised at a size where it matters — without touching the
  * read-only driver testdata.
  *
  * Replica semantics: ids shift by `i · 10^8`; document text gains a
  * per-replica suffix token (replica 0 is byte-identical to the
  * input), so each source document becomes a ~10-member NEAR-dup
  * cluster — the realistic mirror/recrawl shape that drives the LSH
  * paths, not an exact-duplicate degenerate case. Events shift both
  * event and user ids (10× users, same per-user density).
  *
  * `events.ts` passes through with its source dtype: timestamp[us]
  * (the current driver data) round-trips exactly. (The historical
  * TIMESTAMP(NANOS) shape read as long under nanosAsLong and wrote
  * back as plain INT64 nanos — the engine's dtype-adaptive builders
  * accept that too, but a DuckDB oracle then needs an epoch_ns view;
  * the current µs data needs no fixup step at all.)
  *
  * Run: sbt "runMain graft.tools.GenScale <inDir> <outDir> <n>"
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, nStr) = args
    val n = nStr.toInt
    require(n >= 1, s"need n >= 1: $n")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.LocalSession(cpus)
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shift = 100000000L

    def replicate(name: String, parts: Int)(
        f: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$inDir/$name.parquet")
      (0 until n).map(i => f(src, i))
        .reduce(_ unionByName _)
        .repartition(parts)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/$name.parquet")
      println(s"[genscale] $name x$n -> $outDir/$name.parquet")
    }

    replicate("documents", 8)((df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * shift))
        .withColumn("text",
          if (i == 0) col("text")
          else concat(col("text"), lit(s" rep$i"))))
    replicate("embeddings", 8)((df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * shift)))
    replicate("events", 8)((df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * shift))
        .withColumn("user_id", col("user_id") + lit(i * shift)))
    replicate("orders", 8)((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * shift)))
    replicate("lineitem", 16)((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * shift)))
    // dimension tables copy through ONCE, keys intact (10x the fact
    // rows per dimension row — the realistic scale-up shape; n
    // verbatim replicas would duplicate every key and multiply any
    // fact-dim join n-fold per hop, a 1000x blowup on a 3-dim star)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { name =>
        spark.read.parquet(s"$inDir/$name.parquet")
          .repartition(4)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/$name.parquet")
        println(s"[genscale] $name x1 -> $outDir/$name.parquet")
      }
    spark.stop()
  }
}
