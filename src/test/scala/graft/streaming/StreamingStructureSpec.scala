package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, max}

import graft.{LocalSession, SparkSuite}

class StreamingStructureSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  test("windowed stats with watermark over a memory stream") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF.toDF("ts", "key", "value")
    val query = StreamingStructure
      .windowedStats(df, "ts", "key", "value",
        windowLen = "1 minute", watermark = "2 minutes")
      .writeStream.format("memory").queryName("win")
      .outputMode("update").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 00:00:10")
      val t1 = Timestamp.valueOf("2026-01-01 00:00:40")
      input.addData((t0, "a", 1.0), (t1, "a", 3.0),
        (t0, "b", 10.0))
      query.processAllAvailable()
      val rows = spark.table("win").collect()
      val a = rows.find(_.getAs[String]("key") == "a").get
      assert(a.getAs[Long]("n_rows") == 2)
      assert(a.getAs[Double]("min_value") == 1.0)
      assert(a.getAs[Double]("max_value") == 3.0)
      val b = rows.find(_.getAs[String]("key") == "b").get
      assert(b.getAs[Long]("n_rows") == 1)
    } finally query.stop()
  }

  test("streaming dedup: first arrival kept, in-watermark copies " +
      "dropped, fingerprint-canonical") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF.toDF("ts", "doc_id", "text")
    val query = StreamingStructure
      .dedupStream(df, "ts", "text", watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 00:00:10")
      val t1 = Timestamp.valueOf("2026-01-01 00:01:00")
      input.addData(
        (t0, 1L, "The quick brown fox"),
        (t1, 2L, "the  quick   BROWN fox"), // same canonical form
        (t1, 3L, "an entirely different document"))
      query.processAllAvailable()
      val ids = spark.table("dedup").collect()
        .map(_.getAs[Long]("doc_id")).sorted
      // doc 2 is a canonical duplicate of doc 1 within the watermark
      assert(ids.sameElements(Array(1L, 3L)), ids.toSeq)
      // the fingerprint working column does not leak into the output
      assert(!spark.table("dedup").columns.contains("__fp"))
    } finally query.stop()
  }

  test("parquet sink: finalized windows land exactly once, " +
      "batch-readable") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val dir = tempDir("statsink")
    val outPath = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF.toDF("ts", "key", "value")
    val query = StreamingStructure.statsParquetSink(
      StreamingStructure.windowedStats(df, "ts", "key", "value",
        windowLen = "1 minute", watermark = "2 minutes"),
      outPath, ckpt)
    try {
      val t0 = Timestamp.valueOf("2026-01-01 00:00:10")
      val t1 = Timestamp.valueOf("2026-01-01 00:00:40")
      input.addData((t0, "a", 1.0), (t1, "a", 3.0), (t0, "b", 10.0))
      query.processAllAvailable()
      // append mode: window [00:00, 00:01) is still open — nothing
      // durable yet. Advance the watermark far past it…
      input.addData((Timestamp.valueOf("2026-01-01 00:10:00"),
        "a", 5.0))
      query.processAllAvailable()
      // …and the finalized window is on disk, exactly once, readable
      // as plain parquet by a downstream batch job
      val out = s.read.parquet(outPath)
        .select("key", "n_rows", "min_value", "max_value").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(out == Map("a" -> (2L, 1.0, 3.0),
        "b" -> (1L, 10.0, 10.0)), out.toSeq)
    } finally query.stop()
  }

  test("windowed quartiles match the batch positional rule on replay") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    // duplicates included: the §1.3 walk over the counter (not a
    // naive rank formula) is what must match batch
    val vals = Seq(5.0, 1.0, 3.0, 3.0, 9.0, 7.0, 1.0, 8.0, 2.0, 6.0)
    val input = MemoryStream[(Timestamp, String, Double)]
    val query = StreamingStructure
      .windowedStats(input.toDF.toDF("ts", "key", "value"),
        "ts", "key", "value",
        windowLen = "1 minute", watermark = "2 minutes")
      .writeStream.format("memory").queryName("winq")
      .outputMode("update").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 00:00:10")
      input.addData(vals.map(v => (t0, "a", v)): _*)
      query.processAllAvailable()
      val row = spark.table("winq").collect()
        .find(_.getAs[String]("key") == "a").get
      val q = row.getAs[org.apache.spark.sql.Row]("quartiles")
      // batch analyzer's exact rule on the same data
      val batch = graft.core.Stats.fromCounter(
        graft.core.ValueCounter(vals.groupBy(identity)
          .map { case (k, v) => (k: Any) -> v.size.toLong }))
      assert(q.getAs[Boolean]("exact"))
      assert(q.getAs[Double]("q1") == batch.q1)
      assert(q.getAs[Double]("q2") == batch.q2)
      assert(q.getAs[Double]("q3") == batch.q3)
    } finally query.stop()
  }

  test("windowed quartiles spill to summary past the distinct cap") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val query = StreamingStructure
      .windowedStats(input.toDF.toDF("ts", "key", "value"),
        "ts", "key", "value",
        windowLen = "1 minute", watermark = "2 minutes",
        quartileCap = 2)
      .writeStream.format("memory").queryName("winspill")
      .outputMode("update").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 00:00:10")
      input.addData((0 until 10).map(i => (t0, "a", i.toDouble)): _*)
      query.processAllAvailable()
      val row = spark.table("winspill").collect()
        .find(_.getAs[String]("key") == "a").get
      val q = row.getAs[org.apache.spark.sql.Row]("quartiles")
      assert(!q.getAs[Boolean]("exact"))
      assert(q.isNullAt(q.fieldIndex("q1")))
      // the unbounded-safe aggregates still summarize the window
      assert(row.getAs[Long]("n_rows") == 10)
      assert(row.getAs[Double]("min_value") == 0.0)
      assert(row.getAs[Double]("max_value") == 9.0)
    } finally query.stop()
  }

  test("running per-key state via mapGroupsWithState") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Option[Double])]
    // lifetime state in the test: MemoryStream + processAllAvailable
    // and processing-time timeout triggers interact non-deterministically
    val query = StreamingStructure
      .runningStats(spark, input.toDS(), idleTimeout = None)
      .writeStream.format("memory").queryName("run")
      .outputMode("update").start()
    try {
      input.addData(("x", Some(5.0)), ("x", Some(1.0)), ("x", None))
      query.processAllAvailable()
      input.addData(("x", Some(9.0)))
      query.processAllAvailable()
      val last = spark.table("run").collect()
        .filter(_.getAs[String]("key") == "x")
        .maxBy(_.getAs[Long]("count"))
      assert(last.getAs[Long]("count") == 4)
      assert(last.getAs[Long]("nulls") == 1)
      assert(last.getAs[Double]("min") == 1.0)
      assert(last.getAs[Double]("max") == 9.0)
      // running quartiles carry the batch rule over the non-null
      // values seen so far: {5, 1, 9} -> q2 = 5
      assert(last.getAs[Boolean]("exact"))
      assert(last.getAs[Double]("q2") ==
        graft.core.Stats.fromValues(
          Seq[Any](5.0, 1.0, 9.0)).q2.asInstanceOf[Double])
    } finally query.stop()
  }

  test("running quartiles spill to summary past the per-key cap") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Option[Double])]
    val query = StreamingStructure
      .runningStats(spark, input.toDS(), idleTimeout = None,
        quartileCap = 3)
      .writeStream.format("memory").queryName("runspill")
      .outputMode("update").start()
    try {
      input.addData((0 until 10).map(i => ("k", Some(i.toDouble))): _*)
      query.processAllAvailable()
      val last = spark.table("runspill").collect()
        .filter(_.getAs[String]("key") == "k")
        .maxBy(_.getAs[Long]("count"))
      assert(last.getAs[Long]("count") == 10)
      assert(!last.getAs[Boolean]("exact"))
      assert(last.isNullAt(last.fieldIndex("q2")))
      // bounded-state summary still exact for min/max
      assert(last.getAs[Double]("min") == 0.0)
      assert(last.getAs[Double]("max") == 9.0)
    } finally query.stop()
  }

  test("streaming near-dup filter matches batch lshDedupClusters " +
      "drop decisions on a replayed fixture") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    // the OperatorsSpec near-dup corpus: two clusters + noise, ids
    // in arrival order (candidates here ARE true near-dups, so the
    // unverified stream filter and the verified batch path agree)
    val base1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val base2 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      1L -> base1, 2L -> (base1 + " x"), 3L -> (base1 + " x y"),
      4L -> base2, 5L -> (base2 + " z"),
      6L -> (1 to 30).map(i => s"noise$i").mkString(" "))
    val batchKept = graft.operators.Dedup.deduplicate(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
        thresholdNum = 1, thresholdDen = 2)
      .collect().map(_.getLong(0)).toSet
    assert(batchKept == Set(1L, 4L, 6L), batchKept)

    val input = MemoryStream[(Long, String)]
    val df = input.toDF.toDF("doc_id", "text")
    // lifetime state in the test (as with runningStats): a
    // processing-time timeout makes the no-data timeout batches spin
    // under MemoryStream + processAllAvailable
    val query = StreamingStructure
      .nearDupStream(spark, df, "doc_id", "text",
        idleTimeout = None)
      .writeStream.format("memory").queryName("neardup")
      .outputMode("update").start()
    try {
      // replay across micro-batches: within-batch collisions (1 vs
      // 2), cross-batch collisions (3 vs 1/2, 5 vs 4), noise doc
      input.addData(docs(0), docs(1), docs(3))
      query.processAllAvailable()
      input.addData(docs(2), docs(4), docs(5))
      query.processAllAvailable()
      val verdicts = spark.table("neardup").collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup"))
        .toMap
      assert(verdicts.size == 6, verdicts)
      val streamKept = verdicts.collect {
        case (id, dup) if !dup => id
      }.toSet
      assert(streamKept == batchKept,
        s"\nstream=$streamKept\nbatch=$batchKept")
    } finally query.stop()
  }

  test("streaming simhash near-dup: close hashes drop across " +
      "batches, far docs survive") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, max}
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog " +
      "and keeps running through the quiet field all day long"
    val far = "completely different words nine eight seven six " +
      "five four three two one zero alpha beta gamma delta"
    // batch expectation from the same fixture: 1-2 are simhash band
    // candidates, 3 is not (SimHashBandsSpec pins this)
    val input = MemoryStream[(Long, String)]
    val df = input.toDF.toDF("doc_id", "text")
    val query = StreamingStructure
      .simHashNearDupBandVerdicts(spark, df, "doc_id", "text",
        idleTimeout = None)
      .groupBy(col("id")).agg(max(col("collided")).as("is_dup"))
      .writeStream.format("memory").queryName("simdup")
      .outputMode("update").start()
    try {
      input.addData(1L -> base)
      query.processAllAvailable()
      input.addData(2L -> (base + " extra"), 3L -> far)
      query.processAllAvailable()
      val verdicts = spark.table("simdup").collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup"))
        .toMap
      assert(verdicts(1L) == false, verdicts)
      assert(verdicts(2L) == true, verdicts)  // shares a band slice
      assert(verdicts(3L) == false, verdicts) // no shared slice
    } finally query.stop()
  }

  test("streaming sessions match batch sessionize on replay") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    def ts(sec: Int) =
      Timestamp.valueOf(s"2026-01-01 00:0${sec / 60}:${
        f"${sec % 60}%02d"}")
    // gaps never land exactly on the 30 s boundary, so both
    // conventions agree (the boundary itself is pinned below)
    val events = Seq(
      ("a", ts(0)), ("a", ts(10)), ("a", ts(100)), // 2 sessions
      ("b", ts(5)))                                // 1 session
    val input = MemoryStream[(String, Timestamp)]
    val query = StreamingStructure
      .sessionStats(input.toDF.toDF("user", "ts"), "ts", "user",
        gap = "30 seconds", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      input.addData(events: _*)
      query.processAllAvailable()
      // advance the watermark far past every session close so all
      // sessions finalize and emit (the flush key's own session
      // stays open and is excluded from the comparison)
      input.addData(("zz", ts(500)))
      query.processAllAvailable()
      val streamed = spark.table("sess").collect()
        .filter(_.getAs[String]("key") != "zz")
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("n_events")))
        .groupBy(_._1)
        .map { case (k, v) => k -> (v.length, v.map(_._2).sum) }
      val batch = graft.operators.Temporal
        .sessionize(events.toDF("user", "ts"), "user", "ts",
          gap = 30000000L) // 30 s in the micros the batch op compares
        .groupBy(col("user"))
        .agg((max(col("session")) + 1L).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .collect()
        .map(r => r.getAs[String]("user") ->
          (r.getAs[Long]("n_sessions").toInt,
            r.getAs[Long]("n_events"))).toMap
      assert(streamed == batch,
        s"stream $streamed vs batch $batch")
      assert(batch == Map("a" -> (2, 3L), "b" -> (1, 1L)))
    } finally query.stop()
  }

  test("rangeJoin composes with a streaming left side (stream-" +
      "static interval enrichment)") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val right = Seq(("a", 10L, 20L, "w1"), ("a", 14L, 16L, "w2"),
      ("b", 0L, 100L, "w3")).toDF("k", "ws", "we", "win")
    val input = MemoryStream[(Long, String, Long)]
    // the bucketed equi-join + residual filter is a plain stream-
    // static join: works unchanged on an unbounded left side (the
    // pre-flight explosion pricing touches only the static right)
    val joined = graft.operators.Temporal.rangeJoin(
      input.toDF.toDF("id", "k", "ts"), right, Seq("k"), "ts",
      "ws", "we", bucketWidth = 7L)
    val query = joined.writeStream.format("memory")
      .queryName("rjstream").outputMode("append").start()
    try {
      input.addData((1L, "a", 15L), (2L, "a", 21L), (3L, "b", 50L))
      query.processAllAvailable()
      val got = spark.table("rjstream")
        .select(col("id"), col("win")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set(1L -> "w1", 1L -> "w2", 3L -> "w3"))
    } finally query.stop()
  }

  test("session boundary: a gap of exactly `gap` merges in stream " +
      "AND batch; one past splits in both") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val t30 = Timestamp.valueOf("2026-01-01 00:00:30")
    val t61 = Timestamp.valueOf("2026-01-01 00:01:01") // 31 s later
    val events = Seq(("c", t0), ("c", t30), ("c", t61))
    val input = MemoryStream[(String, Timestamp)]
    val query = StreamingStructure
      .sessionStats(input.toDF.toDF("user", "ts"), "ts", "user",
        gap = "30 seconds", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessb")
      .outputMode("append").start()
    try {
      input.addData(events: _*)
      query.processAllAvailable()
      input.addData(("zz", Timestamp.valueOf("2026-01-01 00:10:00")))
      query.processAllAvailable()
      // touching windows merge: {t0, t30} one session, t61 a new one
      val cs = spark.table("sessb").collect()
        .filter(_.getAs[String]("key") == "c")
        .map(_.getAs[Long]("n_events")).sorted.toSeq
      assert(cs == Seq(1L, 2L), cs)
      // batch lag convention (diff > gap) partitions identically
      val nb = graft.operators.Temporal
        .sessionize(events.toDF("user", "ts"), "user", "ts",
          gap = 30000000L)
        .groupBy(col("session")).count().collect()
        .map(_.getAs[Long]("count")).sorted.toSeq
      assert(nb == Seq(1L, 2L), nb)
    } finally query.stop()
  }
}
