package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark runtime counters, as the scheduler's listener bus reports
  * them. Every job carries the name of the span that submitted it (a
  * local property, inherited by broadcast and subquery threads).
  */
final class SparkCounters extends SparkListener {
  import SparkCounters.Job
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var result = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0; input = 0; result = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.SpanKey))).getOrElse("")
    jobs(e.jobId) = Job(span, e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      result += m.resultSize
    }
  }
}

object SparkCounters {
  final case class Job(span: String, start: Long, var end: Long)
}

/** Spans around the public calls of one pass and, when tracing, the
  * Spark and JVM counters of the pass. With tracing off a span only
  * runs its body.
  */
final class Trace(sc: Option[SparkContext]) {
  private val counters = new SparkCounters
  private var on = false
  private val spanS = mutable.LinkedHashMap.empty[String, Double]
  private val gauges = mutable.LinkedHashMap.empty[String, Double]
  private var passStartMs = 0L
  /** Every traced span of the run: (pass, name, start ms, end ms). */
  val log = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  private var pass = 0

  def tracing: Boolean = on

  /** Turns tracing on or off for the next pass. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    sc.foreach { c =>
      if (flag) c.addSparkListener(counters) else c.removeSparkListener(counters)
    }
    on = flag
  }

  /** Public calls started so far; each span is one operation. */
  var calls = 0L

  def span[T](name: String)(body: => T): T = {
    calls += 1
    if (!on) body
    else {
      val prev = sc.map(_.getLocalProperty(Trace.SpanKey))
      sc.foreach(_.setLocalProperty(Trace.SpanKey, name))
      val t0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try body
      finally {
        spanS(name) = spanS.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        log += ((pass, name, m0, System.currentTimeMillis()))
        sc.foreach(_.setLocalProperty(Trace.SpanKey, prev.orNull))
      }
    }
  }

  /** Adds `v` to a per-pass quantity (sizes, input megabytes). */
  def add(name: String, v: Double): Unit =
    if (on) gauges(name) = gauges.getOrElse(name, 0.0) + v

  def beginPass(): Unit = {
    pass += 1
    spanS.clear(); gauges.clear()
    if (on) sc.foreach { c => PerfbenchBus.drain(c); counters.reset() }
    passStartMs = System.currentTimeMillis()
  }

  /** The pass's per-layer figures: seconds and jobs per span, the
    * recorded quantities, the Spark counters and the JVM counters.
    */
  def endPass(p: Probe.Pass): Map[String, Double] = {
    val passEndMs = System.currentTimeMillis()
    sc.foreach(PerfbenchBus.drain)
    val out = mutable.LinkedHashMap.empty[String, Double]
    out ++= spanS.map { case (k, v) => s"${k}_s" -> v }
    out ++= gauges
    counters.synchronized {
      counters.jobs.values.groupBy(_.span).foreach { case (span, js) =>
        if (span.nonEmpty) out(s"${span}_jobs") = js.size.toDouble
      }
      val mb = 1048576.0
      out("spark.jobs") = counters.jobs.size.toDouble
      out("spark.stages") = counters.stages.toDouble
      out("spark.tasks") = counters.tasks.toDouble
      out("spark.task_run_s") = counters.runMs / 1e3
      out("spark.task_cpu_s") = counters.cpuNs / 1e9
      out("spark.task_gc_s") = counters.gcMs / 1e3
      out("spark.shuffle_write_mb") = counters.shuffleWrite / mb
      out("spark.shuffle_read_mb") = counters.shuffleRead / mb
      out("spark.spill_mb") = counters.spill / mb
      out("spark.input_mb") = counters.input / mb
      out("spark.result_mb") = counters.result / mb
      val busy = Trace.unionMs(counters.jobs.values.toSeq.map(j =>
        (math.max(j.start, passStartMs), math.min(j.end, passEndMs))))
      out("spark.driver_gap_s") =
        if (sc.isEmpty) 0.0 else math.max(0.0, p.wallS - busy / 1e3)
    }
    out("jvm.gc_s") = p.gcS
    out("jvm.driver_alloc_mb") = p.allocMb
    out.toMap
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
