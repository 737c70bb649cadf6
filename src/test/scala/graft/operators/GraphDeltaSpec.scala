package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** The round-11 graph additions: pagerankDelta == the full re-run
  * bit-for-bit (random symmetrized fixtures + a frontier smaller
  * than the graph), the reliable-checkpoint knob changes NOTHING but
  * durability, and the degree-skew pre-flight trips on a star.
  */
class GraphDeltaSpec extends SparkSuite {
  private val ckptDir = tempDir("graft_ckpt_")

  private def sym(es: Seq[(String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    (es ++ es.map(_.swap)).toDF("src", "dst")
  }

  private def ranks(df: DataFrame): Map[String, Long] =
    df.collect().map(r =>
      r.getString(0) -> r.getDecimal(1).longValueExact()).toMap

  // random connected-ish symmetric graph + a delta batch among
  // EXISTING nodes (the operator's contract)
  private def randomCase(seed: Int, n: Int, baseE: Int, deltaE: Int)
      : (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    def node(i: Int) = s"n$i"
    // a ring guarantees every node exists in the base (and no
    // dangling after symmetrization)
    val ring = (0 until n).map(i => node(i) -> node((i + 1) % n))
    val extra = Seq.fill(baseE)(
      node(rnd.nextInt(n)) -> node(rnd.nextInt(n)))
    val delta = Seq.fill(deltaE)(
      node(rnd.nextInt(n)) -> node(rnd.nextInt(n)))
    (sym(ring ++ extra), sym(delta))
  }

  test("delta fold equals the full re-run bit-for-bit on random " +
      "fixtures") {
    for ((seed, n, be, de) <- Seq((7, 12, 10, 2), (23, 30, 25, 4),
        (99, 50, 40, 1))) {
      val (base, delta) = randomCase(seed, n, be, de)
      val trace = Graph.pagerankTrace(base, iterations = 3)
      val folded = ranks(Graph.pagerankDelta(base, delta, trace))
      val full = ranks(Graph.pagerank(base.unionAll(delta),
        iterations = 3))
      assert(folded === full, s"seed $seed")
    }
  }

  test("delta fold: multi-edge reinforcement (a second copy of " +
      "existing edges) folds exactly") {
    val baseEdges = Seq("a" -> "b", "b" -> "c", "c" -> "d",
      "d" -> "a", "a" -> "c")
    val base = sym(baseEdges)
    val delta = sym(Seq("a" -> "c"))
    val trace = Graph.pagerankTrace(base, iterations = 3)
    val folded = ranks(Graph.pagerankDelta(base, delta, trace))
    val full = ranks(Graph.pagerank(base.unionAll(delta),
      iterations = 3))
    assert(folded === full)
    // and the fold genuinely changed something vs the stale trace
    assert(folded !== ranks(trace.last))
  }

  test("delta preconditions raise: dangling new node, dangling " +
      "base, seeded trace") {
    val base = sym(Seq("a" -> "b", "b" -> "c"))
    val trace = Graph.pagerankTrace(base, iterations = 2)
    val s = spark
    import s.implicits._
    // a new node with only an IN-edge is dangling in E∪Δ — its mass
    // withdrawal would be a global term, so the fold refuses
    val newDang = intercept[IllegalArgumentException] {
      Graph.pagerankDelta(base,
        Seq("a" -> "zzz").toDF("src", "dst"), trace)
    }
    assert(newDang.getMessage.contains("dangling"))
    // un-symmetrized chain: c is dangling
    val dang = Seq("a" -> "b", "b" -> "c").toDF("src", "dst")
    val dtrace = Graph.pagerankTrace(dang, iterations = 2)
    val ex = intercept[IllegalArgumentException] {
      Graph.pagerankDelta(dang, Seq("a" -> "b").toDF("src", "dst"),
        dtrace)
    }
    assert(ex.getMessage.contains("dangling"))
    // a TrustRank trace (seeded teleport) cannot be folded — the
    // hardcoded teleport base assumes S == N
    val seeded = Graph.pagerankTrace(base, iterations = 2,
      seeds = Some(Seq("a").toDF("node")))
    val sx = intercept[IllegalArgumentException] {
      Graph.pagerankDelta(base, sym(Seq("a" -> "c")), seeded)
    }
    assert(sx.getMessage.contains("seeded"))
    val rx = intercept[IllegalArgumentException] {
      Graph.pagerankRefresh(base, base, seeded)
    }
    assert(rx.getMessage.contains("seeded"))
  }

  test("node-ADDING deltas fold exactly: the analytic rebase " +
      "(N-invariant teleport base) + permanently-dirty new nodes") {
    // new nodes n100/n101 arrive with symmetric edges into the old
    // graph and between each other — the crawl-batch case
    for ((seed, n, be) <- Seq((11, 12, 10), (57, 25, 20))) {
      val (base, _) = randomCase(seed, n, be, 1)
      val delta = sym(Seq("n0" -> "x100", "x100" -> "x101",
        "n3" -> "x101"))
      val trace = Graph.pagerankTrace(base, iterations = 3)
      val folded = ranks(Graph.pagerankDelta(base, delta, trace))
      val full = ranks(Graph.pagerank(base.unionAll(delta),
        iterations = 3))
      assert(folded === full, s"seed $seed")
      assert(folded.contains("x100") && folded.contains("x101"))
    }
  }

  test("pagerankRefresh == full re-run when the edit ADDS nodes " +
      "alongside removals") {
    val s = spark
    import s.implicits._
    val old = sym(Seq("a" -> "b", "b" -> "c", "c" -> "d",
      "d" -> "a", "a" -> "c"))
    // drop a↔c, add a brand-new node e linked into the cycle
    val neu = sym(Seq("a" -> "b", "b" -> "c", "c" -> "d",
      "d" -> "a", "d" -> "e", "e" -> "b"))
    val trace = Graph.pagerankTrace(old, iterations = 3)
    val refreshed = ranks(Graph.pagerankRefresh(old, neu, trace))
    val full = ranks(Graph.pagerank(neu, iterations = 3))
    assert(refreshed === full)
    assert(refreshed.contains("e"))
  }

  test("a tiny broadcast budget forces the distributed fold rounds " +
      "— identical scores to the driver-resident path") {
    val (base, delta) = randomCase(17, 25, 20, 3)
    val trace = Graph.pagerankTrace(base, iterations = 3)
    val driver = ranks(Graph.pagerankDelta(base, delta, trace))
    // rowLimit collapses to 1 — every collect refuses, the fold runs
    // the cut-expansion + shuffle rounds instead
    val shuffled = ranks(Graph.pagerankDelta(base, delta, trace,
      maxBroadcastBytes = 1L))
    assert(driver === shuffled)
    val refreshedD = ranks(Graph.pagerankRefresh(base,
      base.unionAll(delta), trace))
    val refreshedS = ranks(Graph.pagerankRefresh(base,
      base.unionAll(delta), trace, maxBroadcastBytes = 1L))
    assert(refreshedD === refreshedS)
    val h1 = Graph.hitsDelta(base, delta,
        Graph.hitsTrace(base, iterations = 2)).collect()
      .map(r => (r.getString(0), r.getDecimal(1).longValueExact(),
        r.getDecimal(2).longValueExact())).toSet
    val h2 = Graph.hitsDelta(base, delta,
        Graph.hitsTrace(base, iterations = 2),
        maxBroadcastBytes = 1L).collect()
      .map(r => (r.getString(0), r.getDecimal(1).longValueExact(),
        r.getDecimal(2).longValueExact())).toSet
    assert(h1 === h2)
  }

  test("a budget that admits the seeds but not the whole frontier " +
      "falls back to the distributed rounds partway through") {
    // a symmetric 60-node ring and one reinforced edge pair: the two
    // delta sources (36 bytes a node row) fit every budget below,
    // while the frontier grows by about two nodes a hop and its edges
    // (56 to 64 bytes a row) pass each budget somewhere in four rounds
    val n = 60
    val base = sym((0 until n).map(i => s"n$i" -> s"n${(i + 1) % n}"))
    val delta = sym(Seq("n0" -> "n1"))
    val trace = Graph.pagerankTrace(base, iterations = 4)
    val full = ranks(Graph.pagerank(base.unionAll(delta),
      iterations = 4))
    for (budget <- Seq(288L, 600L, 1200L)) {
      assert(ranks(Graph.pagerankDelta(base, delta, trace,
        maxBroadcastBytes = budget)) === full, s"budget $budget")
      assert(ranks(Graph.pagerankRefresh(base, base.unionAll(delta),
        trace, maxBroadcastBytes = budget)) === full, s"budget $budget")
    }
  }

  test("an empty delta returns the trace end state unchanged") {
    val base = sym(Seq("a" -> "b", "b" -> "c", "c" -> "a"))
    val trace = Graph.pagerankTrace(base, iterations = 3)
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(ranks(Graph.pagerankDelta(base, empty, trace)) ===
      ranks(trace.last))
  }

  test("reliable checkpointDir: identical results on pagerank, " +
      "hits, hopCensus and connectedComponents") {
    val s = spark
    import s.implicits._
    val (base, delta) = randomCase(41, 20, 15, 3)
    val dir = Some(ckptDir.toString)
    assert(ranks(Graph.pagerank(base, iterations = 3)) ===
      ranks(Graph.pagerank(base, iterations = 3,
        checkpointDir = dir)))
    val h1 = Graph.hits(base, iterations = 2).collect()
      .map(r => (r.getString(0), r.getDecimal(1).longValueExact(),
        r.getDecimal(2).longValueExact())).toSet
    val h2 = Graph.hits(base, iterations = 2, checkpointDir = dir)
      .collect()
      .map(r => (r.getString(0), r.getDecimal(1).longValueExact(),
        r.getDecimal(2).longValueExact())).toSet
    assert(h1 === h2)
    val seeds = Seq("n0").toDF("node")
    val c1 = Graph.hopCensus(base, seeds, maxHops = 3).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0),
        r.getLong(1))).toSet
    val c2 = Graph.hopCensus(base, seeds, maxHops = 3,
        checkpointDir = dir).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0),
        r.getLong(1))).toSet
    assert(c1 === c2)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val l1 = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val l2 = graft.operators.Dedup.connectedComponents(pairs,
        checkpointDir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(l1 === l2)
    // and the delta fold under the reliable knob too
    val trace = Graph.pagerankTrace(base, iterations = 2,
      checkpointDir = dir)
    assert(ranks(Graph.pagerankDelta(base, delta, trace,
        checkpointDir = dir)) ===
      ranks(Graph.pagerank(base.unionAll(delta), iterations = 2)))
  }

  test("pagerankRefresh == full re-run under removals, additions " +
      "and mixed edits") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      val n = 15 + trial * 8
      def node(i: Int) = s"n$i"
      val ring = (0 until n).map(i => node(i) -> node((i + 1) % n))
      val extra = Seq.fill(20 + n)(
        node(rnd.nextInt(n)) -> node(rnd.nextInt(n)))
      val old = ring ++ extra
      // edits: drop some extras, add some new pairs — the ring stays
      // so the node set and non-dangling preconditions hold
      val kept = extra.filter(_ => rnd.nextBoolean())
      val added = Seq.fill(6)(
        node(rnd.nextInt(n)) -> node(rnd.nextInt(n)))
      val neu = ring ++ kept ++ added
      val trace = Graph.pagerankTrace(sym(old), iterations = 3)
      val refreshed = ranks(Graph.pagerankRefresh(sym(old),
        sym(neu), trace))
      val full = ranks(Graph.pagerank(sym(neu), iterations = 3))
      assert(refreshed === full, s"trial $trial")
    }
  }

  test("pagerankRefresh preconditions raise on a removed node") {
    val s = spark
    import s.implicits._
    val old = sym(Seq("a" -> "b", "b" -> "c", "c" -> "a"))
    val trace = Graph.pagerankTrace(old, iterations = 2)
    val ex = intercept[IllegalArgumentException] {
      Graph.pagerankRefresh(old,
        sym(Seq("a" -> "b", "b" -> "a")), trace)
    }
    assert(ex.getMessage.contains("only in the old frame"))
  }

  test("foldComponents == full connected components on random " +
      "pair batches (the star-collapse law)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 4) {
      val n = 20 + trial * 10
      val e1 = Seq.fill(n)((rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong))
      val e2 = Seq.fill(n / 3)((rnd.nextInt(n + 10).toLong,
        rnd.nextInt(n + 10).toLong))
      def cc(df: org.apache.spark.sql.DataFrame) =
        Dedup.connectedComponents(df).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val base = Dedup.connectedComponents(e1.toDF("id1", "id2"))
      val folded = Dedup.foldComponents(base, e2.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = cc((e1 ++ e2).toDF("id1", "id2"))
      assert(folded === full, s"trial $trial")
    }
  }

  test("foldComponents: empty delta preserves the labeling; " +
      "delta-only nodes join through their edges") {
    val s = spark
    import s.implicits._
    val base = Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id1", "id2"))
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val kept = Dedup.foldComponents(base, empty).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept === Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L),
      (8L, 7L)))
    // a delta edge bridging two old components + a brand-new node
    val folded = Dedup.foldComponents(base,
        Seq((3L, 7L), (9L, 8L)).toDF("id1", "id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded === Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 1L),
      (8L, 1L), (9L, 1L)))
  }

  test("inflowSalt: the two-stage (dst, salt) inflow sum is " +
      "score-identical for any salt, on the star the warning " +
      "targets and on random graphs") {
    val s = spark
    import s.implicits._
    // the star is exactly the shape skewPreflight warns about
    val star = ((1 to 300).map(i => s"n$i" -> "hub") ++
      (1 to 300).map(i => "hub" -> s"n$i")).toDF("src", "dst")
    val plain = ranks(Graph.pagerank(star, iterations = 3))
    for (salt <- Seq(2, 7, 32))
      assert(ranks(Graph.pagerank(star, iterations = 3,
        inflowSalt = salt)) === plain, s"salt $salt")
    val (base, _) = randomCase(29, 30, 25, 2)
    assert(ranks(Graph.pagerank(base, iterations = 3,
        inflowSalt = 5)) ===
      ranks(Graph.pagerank(base, iterations = 3)))
    // and the warning names the knob
    assert(Graph.skewPreflight(star, minEdges = 100L)
      .exists(_.contains("inflowSalt")))
  }

  test("skew pre-flight trips on a star and stays quiet on a ring") {
    val s = spark
    import s.implicits._
    val star = (1 to 500).map(i => s"n$i" -> "hub").toDF("src", "dst")
    assert(Graph.skewPreflight(star, minEdges = 100L).isDefined)
    val ring = (0 until 500).map(i => s"n$i" -> s"n${(i + 1) % 500}")
      .toDF("src", "dst")
    assert(Graph.skewPreflight(ring, minEdges = 100L).isEmpty)
    // default minEdges keeps small graphs quiet even when skewed
    assert(Graph.skewPreflight(star).isEmpty)
  }

  test("star-graph delta: the BYTE cap trips the distributed " +
      "fallback where a row cap alone would have admitted the hub") {
    val s = spark
    import s.implicits._
    // a symmetric star: 400 spokes <-> hub. A delta touching the hub
    // makes the frontier's in-edge frame (src, dst, w) ~800 rows —
    // the node COUNT stays ~401, but the edge rows are 72 bytes wide
    // (two 20-byte strings + DECIMAL(38) + overhead), several times
    // the old 32-byte/row guess.
    val spokes = 400
    val star = sym((1 to spokes).map(i => s"s$i" -> "hub"))
    val delta = sym(Seq("s1" -> "hub")) // duplicate edge: weight bump
    val trace = Graph.pagerankTrace(star, iterations = 3)
    // budget arithmetic (mirrors byteRowLimit): node frames are
    // 20 + 16 = 36 bytes/row, in-edge frames 20 + 20 + 16 + 16 = 72.
    // Pick a budget where every NODE collect fits but the in-edge
    // collect does not — the skew the bytes cap exists for.
    val budget = 40000L
    val frontierNodes = spokes + 1 // hub + every spoke (1 hop)
    val inEdgeRows = star.unionAll(delta).count() // all edges hit it
    assert(frontierNodes < budget / 36, "node collects must fit")
    assert(inEdgeRows > budget / 72, "edge collect must refuse")
    assert(inEdgeRows < budget / 32,
      "a 32-byte/row cap would have admitted the hub's in-edges")
    val folded = ranks(Graph.pagerankDelta(star, delta, trace,
      maxBroadcastBytes = budget))
    val full = ranks(Graph.pagerank(star.unionAll(delta),
      iterations = 3))
    assert(folded === full)
    // and the roomy-budget driver path agrees bit-for-bit
    assert(ranks(Graph.pagerankDelta(star, delta, trace)) === full)
  }

  test("srcBuckets layout: driver fold == distributed fold == full " +
      "re-rank over an sb-partitioned artifact, and a missing sb " +
      "column refuses") {
    val s = spark
    import s.implicits._
    val buckets = 4
    // a 60-node ring (sparse — the layout's production profile)
    // with a handful of chords, written as the fold would find it:
    // directory-partitioned by sb = pmod(xxhash64(src), buckets)
    val n = 60
    val ring = (0 until n).map(i => s"n$i" -> s"n${(i + 1) % n}")
    val chords = Seq(5, 17, 29, 41).map(i => s"n$i" -> s"n${i + 7}")
    val all = sym(ring ++ chords)
    val dir = tempDir("graft_layout_").toString
    all.withColumn("sb", pmod(xxhash64(col("src")),
        lit(buckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("sb").parquet(dir)
    val art = s.read.parquet(dir)
    // base = everything but the chord edges; delta = the chords
    val chordSet = (chords ++ chords.map(_.swap)).toSet
    val isChord = chordSet.foldLeft(lit(false)) { case (acc, (a, b)) =>
      acc || (col("src") === a && col("dst") === b) }
    val base = art.where(!isChord).select(col("src"), col("dst"),
      col("sb"))
    val delta = art.where(isChord).select(col("src"), col("dst"),
      col("sb"))
    val trace = Graph.pagerankTrace(
      base.select(col("src"), col("dst")), iterations = 4)
    val full = ranks(Graph.pagerank(
      base.select(col("src"), col("dst"))
        .unionAll(delta.select(col("src"), col("dst"))),
      iterations = 4))
    // driver-resident path (roomy budget) with the layout hint
    assert(ranks(Graph.pagerankDelta(base, delta, trace,
      srcBuckets = Some(buckets))) === full)
    // forced distributed path with the layout hint
    assert(ranks(Graph.pagerankDelta(base, delta, trace,
      maxBroadcastBytes = 0L, srcBuckets = Some(buckets))) === full)
    // and without any hint (the unhinted reference)
    assert(ranks(Graph.pagerankDelta(
      base.select(col("src"), col("dst")),
      delta.select(col("src"), col("dst")), trace)) === full)
    // the hint without the physical column is a contract violation
    val err = intercept[IllegalArgumentException] {
      Graph.pagerankDelta(base.select(col("src"), col("dst")),
        delta.select(col("src"), col("dst")), trace,
        srcBuckets = Some(buckets))
    }
    assert(err.getMessage.contains("sb"))
  }
}
