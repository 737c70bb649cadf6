package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.Bench.reportFailure

/** Per-query measurement harness for the optimization rounds (guide
  * §1: measure first, label jobs, read the plan). For each named
  * query it
  *   - times a noop-sink run (computes every column, §1.4) and a
  *     `count()` run (the Bench methodology) separately,
  *   - aggregates per-stage task metrics (task time, shuffle
  *     read/write bytes, input bytes, spill) via a SparkListener —
  *     the local[. ] stand-in for the Stages tab,
  *   - writes `.explain("formatted")` to `<outDir>/<name>.txt` so
  *     plan claims in OPTIMIZATION_r*.md are checkable offline.
  *
  * Usage: QueryProbe <sfDir> <outDir> <name-prefix>[,<prefix>...]
  * Reuses the Bench session settings so numbers are comparable.
  */
object QueryProbe {
  final case class StageRow(id: Int, name: String, tasks: Int,
      taskTimeMs: Long, inputBytes: Long, shufReadB: Long,
      shufWriteB: Long, spillB: Long, peakMem: Long)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.BenchSplit.session(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    try graft.queries.PipelineQueries.prebuild(spark, sfDir)
    catch { case e: Throwable => reportFailure("prebuild", e) }
    graft.StateSweep(spark)

    val stages = new ConcurrentLinkedQueue[StageRow]()
    val jobs = new ConcurrentLinkedQueue[(Int, String, Long)]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[
      Integer, (String, Long)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(
            p.getProperty("spark.job.description"))).getOrElse("")
        jobStart.put(j.jobId, (desc, System.nanoTime()))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(j.jobId)).foreach { case (d, t0) =>
          jobs.add((j.jobId, d, (System.nanoTime() - t0) / 1000000L))
        }
      }
      override def onStageCompleted(
          s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        stages.add(StageRow(i.stageId,
          i.name.takeWhile(_ != '\n').take(80), i.numTasks,
          m.executorRunTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.peakExecutionMemory))
      }
    }

    val prefixes = names.split(",").toSeq.filter(_.nonEmpty)
    val qs = graft.SparkEntry.queries.toSeq
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
      .sortBy(_._1)
    val report = new StringBuilder
    qs.foreach { case (name, fn) =>
      // plan capture (cheap, pre-warm)
      try {
        val df = fn(spark, sfDir)
        Files.writeString(Paths.get(outDir, s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => reportFailure(s"$name explain", e) }
      graft.StateSweep(spark)
      // timed noop run with listener
      stages.clear(); jobs.clear(); jobStart.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      catch { case e: Throwable => reportFailure(s"$name noop", e) }
      val noopS = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // let listener-bus events drain before snapshotting
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      graft.StateSweep(spark)
      val t1 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable => reportFailure(s"$name count", e) }
      val countS = (System.nanoTime() - t1) / 1e9
      graft.StateSweep(spark)
      import scala.jdk.CollectionConverters._
      val st = stages.asScala.toSeq.sortBy(-_.taskTimeMs)
      val jb = jobs.asScala.toSeq.sortBy(-_._3)
      report ++= f"== $name  noop=$noopS%.2fs count=$countS%.2fs " +
        f"jobs=${jb.size} stages=${st.size} " +
        f"taskTime=${st.map(_.taskTimeMs).sum / 1000.0}%.1fs " +
        f"shufRead=${st.map(_.shufReadB).sum / 1e6}%.1fMB " +
        f"spill=${st.map(_.spillB).sum / 1e6}%.1fMB\n"
      st.take(12).foreach { r =>
        report ++= f"   stage ${r.id}%4d ${r.taskTimeMs}%7dms " +
          f"tasks=${r.tasks}%3d in=${r.inputBytes / 1e6}%.1fMB " +
          f"sr=${r.shufReadB / 1e6}%.1fMB sw=${r.shufWriteB / 1e6}%.1fMB " +
          f"${r.name}\n"
      }
      if (jb.size > 1 || jb.headOption.exists(_._3 > 2000))
        jb.take(12).foreach { case (id, d, ms) =>
          report ++= f"   job $id%4d ${ms}%7dms $d\n"
        }
      println(report.takeRight(
        report.length - math.max(0, report.lastIndexOf("== ") - 1))
        .mkString)
    }
    Files.writeString(Paths.get(outDir, "_report.txt"),
      report.toString)
    spark.stop()
  }
}
