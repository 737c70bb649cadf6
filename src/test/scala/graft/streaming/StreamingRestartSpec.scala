package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite

/** Checkpoint recovery: a windowed-stats stream STOPPED mid-flight
  * and RESTARTED from its checkpoint continues from the recorded
  * offsets and state — the final parquet output equals the
  * uninterrupted run's (no lost windows, no duplicated windows).
  * This is the property a 100 TB ingest actually depends on:
  * executor loss or redeploy must not corrupt the stats table.
  */
class StreamingRestartSpec extends SparkSuite {
  test("stop + restart from checkpoint = the uninterrupted output") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val dir = tempDir("restart")
    val outPath = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString

    val input = MemoryStream[(Timestamp, String, Double)]
    def start() = StreamingStructure.statsParquetSink(
      StreamingStructure.windowedStats(
        input.toDF.toDF("ts", "key", "value"),
        "ts", "key", "value",
        windowLen = "1 minute", watermark = "2 minutes"),
      outPath, ckpt)

    // phase 1: two open windows, then stop mid-flight
    val q1 = start()
    try {
      input.addData(
        (Timestamp.valueOf("2026-01-01 00:00:10"), "a", 1.0),
        (Timestamp.valueOf("2026-01-01 00:00:40"), "a", 3.0),
        (Timestamp.valueOf("2026-01-01 00:01:20"), "b", 10.0))
      q1.processAllAvailable()
    } finally q1.stop()

    // phase 2: restart from the same checkpoint; more data for the
    // second window, then advance the watermark past both
    val q2 = start()
    try {
      input.addData(
        (Timestamp.valueOf("2026-01-01 00:01:40"), "b", 20.0),
        (Timestamp.valueOf("2026-01-01 00:10:00"), "z", 0.0))
      q2.processAllAvailable()
    } finally q2.stop()

    val out = s.read.parquet(outPath)
      .select("key", "n_rows", "min_value", "max_value")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    // window 1: key a with rows from BEFORE the restart; window 2:
    // key b stitched across the restart (one row each side)
    assert(out === Seq("a" -> (2L, 1.0, 3.0),
      "b" -> (2L, 10.0, 20.0)), out)
  }
}
