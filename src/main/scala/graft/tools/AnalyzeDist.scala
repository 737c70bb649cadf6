package graft.tools

import graft.analyzer.SparkAnalyzer
import graft.core.{SSourcesList, SType, Stats, ValueCounter}

/** Distributed structa CLI: the same detect → analyze → merge → render
  * lifecycle as [[Analyze]], but scans run on Spark executors — the
  * entry point a structa user switches to when a file no longer fits
  * one machine.
  *
  * Format/encoding/dialect detection stays driver-side over the 1 MB
  * head sample ([[graft.sources.Source.detect]]); the full-size parse
  * is `spark.read.json/csv` with the sniffed options; inference is the
  * wide-aggregation analyzer ([[SparkAnalyzer]]); the tiny result
  * trees merge on the driver.
  *
  * Usage: AnalyzeDist [options] <file.{json,csv}> [more files...]
  */
object AnalyzeDist {
  def main(args: Array[String]): Unit = {
    val opts = Cli.parse(args.toSeq)
    if (opts.files.isEmpty) { System.err.println(Cli.usage); sys.exit(2) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.LocalSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // reference UX: a progress bar on big inputs (tqdm on a TTY,
    // ui/cli.py:237-266) — here a SparkListener-driven stderr line
    // labelled by the analyzer's pass descriptions
    val progress =
      if (Cli.progressEnabled(opts)) {
        val l = new ProgressListener(System.err)
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
    try {
      val analyzer = new SparkAnalyzer(opts.config)
      val trees = opts.files.map { path =>
        val df =
          if (path.endsWith(".parquet")) spark.read.parquet(path)
          else graft.sources.Source.sparkRead(spark, path, opts.source)
        analyzer.analyzeTable(df)
      }
      val tree: SType =
        if (trees.length == 1) trees.head
        else {
          // sources merge only when structurally similar; mixed file
          // shapes degrade to ⊤ like the reference's mixed-type list
          // (analyzer.py:594-597)
          // matches() is not transitive, so a pairwise pre-check can
          // still admit a mid-reduce merge failure — fold with a
          // per-step guard and degrade to ⊤ exactly like the
          // reference's mixed-type list (analyzer.py:594-597)
          val merged = trees.reduceLeft { (acc, t) =>
            if (acc.isInstanceOf[graft.core.SValue]) acc
            else if (SType.matches(acc, t))
              try SType.merge(acc, t)
              catch { case _: IllegalArgumentException =>
                graft.core.SValue() }
            else graft.core.SValue()
          }
          SSourcesList(Stats.fromCounter(ValueCounter(Map(
            (trees.length.toLong: Any) -> 1L))), merged)
        }
      val treeAnalyzer = new graft.analyzer.TreeAnalyzer(opts.config)
      val merged = treeAnalyzer.mergeToFixpoint(tree)
      // end the \r progress line before the result goes to stdout
      progress.foreach { l =>
        spark.sparkContext.removeSparkListener(l)
        l.finish()
      }
      // same output-mode surface as the driver-side CLI
      println(opts.outputMode match {
        case "xml" => graft.core.Xml.toStringOf(merged)
        case "ansi" => graft.core.Render.styled(merged, opts.render)
        case _ =>
          if (opts.render == graft.core.RenderOptions.default)
            merged.render
          else graft.core.Render.configured(merged, opts.render)
      })
    } finally spark.stop()
  }
}
