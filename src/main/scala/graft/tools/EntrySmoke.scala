package graft.tools

/** Local stand-in for the driver's t1 smoke, widened into a full
  * registration sweep: the flagship entry must return rows, and EVERY
  * `SparkEntry.queries` builder must execute (action + row count)
  * against the live testdata — no oracle, just "does not throw".
  *
  * This is the gate that catches driver-side testdata regenerations:
  * in round 7 the events table changed dtype after the last local
  * sweep and four temporal queries silently threw at the driver gate
  * (they were dropped from CORRECTNESS, not flagged). Any builder
  * that throws here fails the run loudly with a nonzero exit.
  *
  * Run: sbt "runMain graft.tools.EntrySmoke [sfDir]"
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    df.show(50, truncate = false)
    println("ENTRY_ROWS=" + df.count())

    var failed = 0
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
        println(s"SMOKE OK   $name rows=$n")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"SMOKE FAIL $name: " +
            e.toString.linesIterator.next())
      }
    }
    println(s"SMOKE_TOTAL=${names.size} SMOKE_FAILED=$failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
