package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counting the Spark jobs a block of code launches. Spark feeds its
  * status tracker and listeners asynchronously, so every count is read
  * until it stops changing.
  */
object JobCounts {

  /** Reads `count` every 100 ms until two reads agree (at most 50
    * times) and returns the last read.
    */
  def settled(count: => Int): Int = {
    var prev = -1
    var cur = count
    var spins = 0
    while (cur != prev && spins < 50) {
      Thread.sleep(100); prev = cur; cur = count; spins += 1
    }
    cur
  }

  /** Jobs `body` launches, counted by the status tracker under a job
    * group of its own.
    */
  def inGroup(spark: SparkSession, group: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, "job count test")
    try body finally sc.clearJobGroup()
    settled(sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** Jobs `body` launches under a job group of its own, by their
    * `spark.job.description` label ("" when unlabelled).
    */
  def byLabel(spark: SparkSession, group: String)(body: => Any)
      : Map[String, Int] = {
    val sc = spark.sparkContext
    val labels = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group))
          labels.synchronized {
            labels += p.flatMap(x => Option(x.getProperty(
              "spark.job.description"))).getOrElse("")
          }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count test")
      try body finally sc.clearJobGroup()
      settled(labels.synchronized(labels.size))
    } finally sc.removeSparkListener(listener)
    labels.synchronized(labels.groupBy(identity).map { case (l, ls) =>
      l -> ls.size })
  }
}
