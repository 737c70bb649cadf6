package perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints one JSON result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --traces <dir> --t0 <epoch ns of the launch>
  * }}}
  *
  * Set-up (session, seeded inputs, warm-up passes for half of
  * `--seconds`, at least one) is timed from the launch instant `--t0`;
  * then whole passes run until `--seconds` have passed (at least
  * [[MinPasses]]). The first pass's output is checked after the timed
  * region against values computed apart from the program, every later
  * pass's output must equal it, and each checker must reject each of
  * its perturbed outputs. With `--trace 1`, passes alternate
  * traced and untraced, traced first (at least one of each); as later
  * passes run a little faster, the reported tracing overhead errs high.
  * The per-layer figures of the traced passes are reported, and the
  * spans and per-pass figures are written to
  * `<traces>/trace-<workload>-<seed>.json`. Inputs live under `<work>`,
  * which is deleted at exit.
  */
object Main {
  /** One timed pass at least: a Spark pass takes 15-30 s on 4 vCPUs and
    * its run already pays 45-75 s of set-up, so more timed passes would
    * not fit the run budget; short passes (the in-memory workload) get a
    * median over as many as start within `--seconds`.
    */
  val MinPasses = 1

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = args.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val t0Ns = arg("t0").toLong
    val work = new File(arg("work"))
    val traces = new File(arg("traces"))
    val wl = Workload.named(name)
    val spark = if (wl.usesSpark) session(work) else null
    val trace = new Trace(Option(spark).map(_.sparkContext))
    val ctx = new Ctx(spark, work, seed, trace)
    try run(wl, ctx, name, seconds, traced, t0Ns, traces)
    finally {
      if (spark != null) spark.stop()
      Gen.deleteTree(work)
    }
    System.out.flush()
    sys.exit(0)
  }

  /** Local Spark below the core count, leaving a core for the driver,
    * GC and JIT threads; capped at 3 so the shape is the same on any
    * machine with at least 4 cores.
    */
  def executors: Int =
    math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))

  private def session(work: File): SparkSession = {
    val n = executors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark").getAbsolutePath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def nowNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def run(wl: Workload, ctx: Ctx, name: String, seconds: Double,
                  traced: Boolean, t0Ns: Long, traces: File): Unit = {
    val t = ctx.trace
    def log(msg: String): Unit = System.err.println(
      f"[perfbench] ${(nowNs() - t0Ns) / 1e9}%.2f s: $msg")
    log("session ready")
    wl.prepare(ctx)
    log("inputs written")
    var attempted = 0L
    var failed = 0L
    val errors = Vector.newBuilder[String]
    var first: AnyRef = null
    var passes = 0
    /** One pass: its operations are attempted whole; a call that throws
      * fails itself and every call of the pass after it.
      */
    def onePass(): (Probe.Pass, Map[String, Double]) = {
      val m = Probe.begin()
      t.beginPass()
      val before = t.calls
      val out =
        try Some(wl.pass(ctx))
        catch {
          case e: Exception =>
            e.printStackTrace()
            None
        }
      val p = Probe.end(m)
      val layers = t.endPass(p)
      log(f"pass: wall ${p.wallS}%.3f s, cpu ${p.cpuS}%.3f s, " +
        f"live heap ${p.liveHeapMb}%.1f MB, ${p.gcs} collections" +
        (if (!t.tracing) "" else
          layers.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.3f" }
            .mkString("\n  ", "\n  ", "")))
      attempted += wl.opsPerPass
      passes += 1
      out match {
        case Some(o) if first == null => first = o
        case Some(o) =>
          if (!wl.sameOutput(first, o))
            errors += s"pass $passes output differs from the first pass's"
        case None => failed += wl.opsPerPass - (t.calls - before - 1)
      }
      (p, layers)
    }
    // Warm-up: untimed passes for half as long as the timed region (at
    // least one). A fresh JVM's first Spark pass takes two to three
    // times a later one while classes load and the JIT compiles, and
    // later passes keep speeding up for several more.
    val warm = System.nanoTime()
    while ({ onePass(); (System.nanoTime() - warm) / 1e9 < seconds / 2 }) ()
    val setupS = (nowNs() - t0Ns) / 1e9
    val plain = Vector.newBuilder[Probe.Pass]
    val tracedPasses = Vector.newBuilder[(Probe.Pass, Map[String, Double])]
    val start = System.nanoTime()
    var n = 0
    while (n < (if (traced) 2 else MinPasses) ||
           (System.nanoTime() - start) / 1e9 < seconds) {
      val traceThis = traced && n % 2 == 0
      t.enable(traceThis)
      val r = onePass()
      if (traceThis) tracedPasses += r else plain += r._1
      if (r._1.gcs == 0)
        log("warning: no collection during the pass, so its live heap is " +
          "only the heap left from before it")
      n += 1
    }
    t.enable(false)

    if (first != null) wl.checkers(ctx, first).foreach { c =>
      errors ++= c.errors
      errors ++= c.missed.map(m => s"checker $m accepted a perturbed output")
    }
    log("outputs checked")
    val errs = errors.result()
    errs.take(50).foreach(e => System.err.println(s"check: $e"))
    val correct = errs.isEmpty && first != null

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val ps = plain.result()
        Seq(
          ("wall_s", median(ps.map(_.wallS)), "s"),
          ("records_per_s", median(ps.map(wl.recordsPerPass / _.wallS)), "1/s"),
          ("cpu_s", median(ps.map(_.cpuS)), "s"),
          ("live_heap_mb", median(ps.map(_.liveHeapMb)), "MB"),
          ("setup_s", setupS, "s"))
      } else {
        val tp = tracedPasses.result()
        val plainWall = median(plain.result().map(_.wallS))
        val tracedWall = median(tp.map(_._1.wallS))
        writeTrace(new File(traces, s"trace-$name-${ctx.seed}.json"), ctx,
          tp.map(_._2))
        PerLayer.all.map { case (k, unit) =>
          val v = k match {
            case "trace.wall_s" => tracedWall
            case "trace.overhead_s" => tracedWall - plainWall
            case _ => median(tp.map(_._2.getOrElse(k, 0.0)))
          }
          (k, v, unit)
        }
      }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  private def writeTrace(f: File, ctx: Ctx,
                         passes: Seq[Map[String, Double]]): Unit = {
    Gen.write(f) { w =>
      w.write("{\"spans\": [")
      w.write(ctx.trace.log.map { case (p, s, a, b) =>
        s"""{"pass": $p, "span": "$s", "start_ms": $a, "end_ms": $b}"""
      }.mkString(",\n"))
      w.write("],\n\"passes\": [")
      w.write(passes.map(m => m.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k": $v""" }.mkString("{", ", ", "}")).mkString(",\n"))
      w.write("]}\n")
    }
  }
}

/** The per-layer metrics a traced run reports, with their units. A
  * layer a workload does not reach reports 0.
  */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "sources.detect_s" -> "s", "sources.load_s" -> "s",
    "sources.spark_read_s" -> "s", "sources.spark_read_jobs" -> "count",
    "sources.input_mb" -> "MB",
    "analyzer.analyze_s" -> "s", "analyzer.analyze_jobs" -> "count",
    "analyzer.incremental_s" -> "s", "analyzer.incremental_jobs" -> "count",
    "analyzer.merge_s" -> "s", "analyzer.tree_size_in" -> "nodes",
    "analyzer.tree_size_out" -> "nodes",
    "core.fold_s" -> "s", "core.render_s" -> "s", "core.xml_s" -> "s",
    "operators.pagerank_s" -> "s", "operators.pagerank_jobs" -> "count",
    "operators.hits_s" -> "s", "operators.hits_jobs" -> "count",
    "operators.dedup_s" -> "s", "operators.dedup_jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.result_mb" -> "MB", "spark.driver_gap_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.driver_alloc_mb" -> "MB",
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s")
}
