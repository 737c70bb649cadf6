package graft.tools

import org.apache.spark.sql.functions.col

/** Partition-count invariance sweep: every registered query runs
  * twice — once at 32 shuffle partitions, once at 5 — and the result
  * multisets must be byte-identical. A distributed engine's classic
  * failure class (float summation order, unstable tie-breaks,
  * first-wins races, spark_partition_id leakage) shows up here as a
  * diff long before it shows up as a flaky driver gate: a correct
  * answer must be a pure function of the DATA, never of the
  * parallelism it was computed with.
  *
  * Run: sbt "runMain graft.tools.DeterminismCheck [sfDir]"
  */
object DeterminismCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val parts = Seq("32", "5")
    var failed = 0
    var total = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach {
      case (name, fn) =>
        total += 1
        try {
          val runs = parts.map { p =>
            spark.conf.set("spark.sql.shuffle.partitions", p)
            val df = fn(spark, sfDir)
            val cols = df.columns.sorted
            df.select(cols.map(col): _*)
              .collect().map(_.toString).sorted.toSeq
          }
          if (runs(0) == runs(1))
            println(s"DETERMINISM OK   $name (${runs(0).size} rows)")
          else {
            failed += 1
            val diff = runs(0).zipAll(runs(1), "<absent>", "<absent>")
              .find { case (a, b) => a != b }
            println(s"DETERMINISM FAIL $name first-diff=$diff")
          }
        } catch {
          case e: Throwable =>
            failed += 1
            println(s"DETERMINISM ERR  $name: " +
              s"${Option(e.getMessage).getOrElse(e.toString).take(160)}")
        }
    }
    println(s"DETERMINISM_TOTAL=$total DETERMINISM_FAILED=$failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
