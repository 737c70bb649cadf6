package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** Deferred-normalization HITS and its incremental fold:
  * hitsDeferred matches an independent BigInt reference,
  * hitsDelta == the full deferred re-run bit-for-bit (reinforcement
  * AND node-adding deltas), and the growth pre-flight refuses what
  * DECIMAL(38,0) cannot hold.
  */
class HitsDeltaSpec extends SparkSuite {
  private def toDF(es: Seq[(String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst")
  }

  private def collectHits(df: DataFrame)
      : Map[String, (BigInt, BigInt)] =
    df.collect().map(r => r.getString(0) ->
      (BigInt(r.getDecimal(1).toBigInteger),
        BigInt(r.getDecimal(2).toBigInteger))).toMap

  /** Independent single-node reference: raw BigInt power iteration,
    * one final floor L1 normalization to `scale`.
    */
  private def reference(es: Seq[(String, String)], k: Int,
                        scale: Long): Map[String, (BigInt, BigInt)] = {
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    var h = nodes.map(_ -> BigInt(1)).toMap
    var a = nodes.map(_ -> BigInt(0)).toMap
    for (_ <- 1 to k) {
      a = nodes.map(v => v ->
        es.filter(_._2 == v).map(e => h(e._1)).sum).toMap
      h = nodes.map(u => u ->
        es.filter(_._1 == u).map(e => a(e._2)).sum).toMap
    }
    val at = a.values.sum
    val ht = h.values.sum
    nodes.map(n => n -> (
      if (ht <= 0) BigInt(0) else h(n) * scale / ht,
      if (at <= 0) BigInt(0) else a(n) * scale / at)).toMap
  }

  private def randomEdges(seed: Int, n: Int, m: Int)
      : Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    def node(i: Int) = s"n$i"
    // a ring keeps every node present with in- and out-edges
    (0 until n).map(i => node(i) -> node((i + 1) % n)) ++
      Seq.fill(m)(node(rnd.nextInt(n)) -> node(rnd.nextInt(n)))
  }

  test("hitsDeferred == the BigInt reference on random graphs") {
    for ((seed, n, m, k) <- Seq((3, 10, 12, 2), (19, 25, 30, 3))) {
      val es = randomEdges(seed, n, m)
      val got = collectHits(Graph.hitsDeferred(toDF(es),
        iterations = k))
      assert(got === reference(es, k, 1000000L), s"seed $seed")
    }
  }

  test("hitsDelta == the full deferred re-run on reinforcement " +
      "deltas") {
    for ((seed, n, m, de) <- Seq((7, 12, 14, 3), (41, 30, 35, 5))) {
      val es = randomEdges(seed, n, m)
      val rnd = new scala.util.Random(seed + 1)
      val delta = Seq.fill(de)(es(rnd.nextInt(es.length)))
      val trace = Graph.hitsTrace(toDF(es), iterations = 2)
      val folded = collectHits(
        Graph.hitsDelta(toDF(es), toDF(delta), trace))
      val full = collectHits(
        Graph.hitsDeferred(toDF(es ++ delta), iterations = 2))
      assert(folded === full, s"seed $seed")
      // and the fold genuinely moved something vs the stale run
      assert(folded !== collectHits(
        Graph.hitsDeferred(toDF(es), iterations = 2)), s"seed $seed")
    }
  }

  test("hitsDelta folds NODE-ADDING deltas (new pages enter at " +
      "h_0 = 1, permanently dirty)") {
    val es = randomEdges(11, 12, 10)
    val delta = Seq("n0" -> "x100", "x100" -> "x101",
      "x101" -> "n3")
    val trace = Graph.hitsTrace(toDF(es), iterations = 2)
    val folded = collectHits(
      Graph.hitsDelta(toDF(es), toDF(delta), trace))
    val full = collectHits(
      Graph.hitsDeferred(toDF(es ++ delta), iterations = 2))
    assert(folded === full)
    assert(folded.contains("x100") && folded.contains("x101"))
  }

  test("an empty delta reproduces the deferred run") {
    val es = randomEdges(23, 10, 8)
    val trace = Graph.hitsTrace(toDF(es), iterations = 2)
    val folded = collectHits(Graph.hitsDelta(toDF(es),
      toDF(Seq.empty), trace))
    assert(folded === collectHits(
      Graph.hitsDeferred(toDF(es), iterations = 2)))
  }

  test("hitsDelta's distributed rounds (maxBroadcastBytes = 0) == " +
      "the full deferred re-run on reinforcement deltas") {
    for ((seed, n, m, de) <- Seq((7, 12, 14, 3), (41, 30, 35, 5))) {
      val es = randomEdges(seed, n, m)
      val rnd = new scala.util.Random(seed + 1)
      val delta = Seq.fill(de)(es(rnd.nextInt(es.length)))
      val trace = Graph.hitsTrace(toDF(es), iterations = 2)
      val folded = collectHits(Graph.hitsDelta(toDF(es), toDF(delta),
        trace, maxBroadcastBytes = 0L))
      val full = collectHits(
        Graph.hitsDeferred(toDF(es ++ delta), iterations = 2))
      assert(folded === full, s"seed $seed")
    }
  }

  test("hitsDelta's distributed rounds (maxBroadcastBytes = 0) fold " +
      "NODE-ADDING deltas") {
    val es = randomEdges(11, 12, 10)
    val delta = Seq("n0" -> "x100", "x100" -> "x101",
      "x101" -> "n3")
    val trace = Graph.hitsTrace(toDF(es), iterations = 2)
    val folded = collectHits(Graph.hitsDelta(toDF(es), toDF(delta),
      trace, maxBroadcastBytes = 0L))
    val full = collectHits(
      Graph.hitsDeferred(toDF(es ++ delta), iterations = 2))
    assert(folded === full)
    assert(folded.contains("x100") && folded.contains("x101"))
  }

  test("a budget that admits the seeds but not the whole frontier " +
      "falls back to the distributed rounds partway through") {
    // a 60-node ring in both directions and one reinforced edge: the
    // delta's one source and one destination (36 bytes a node row)
    // fit every budget below, while the frontier grows by about two
    // nodes a half-step and its edges (56 to 64 bytes a row) pass
    // each budget somewhere in three rounds
    val ring = (0 until 60).map(i => s"n$i" -> s"n${(i + 1) % 60}")
    val es = ring ++ ring.map(_.swap)
    val delta = Seq("n0" -> "n1")
    val trace = Graph.hitsTrace(toDF(es), iterations = 3)
    val full = collectHits(
      Graph.hitsDeferred(toDF(es ++ delta), iterations = 3))
    for (budget <- Seq(300L, 600L, 1200L))
      assert(collectHits(Graph.hitsDelta(toDF(es), toDF(delta), trace,
        maxBroadcastBytes = budget)) === full, s"budget $budget")
  }

  test("the fold's growth bound counts each edge once, however " +
      "often round 0 repeats a node") {
    // a 700-spoke star at 12 rounds: the bound 2m * 700^12 (max in 1,
    // max out 700) holds at the true m = 701 and fails past m = 3 612
    // (DECIMAL(38,0)); round 0 repeated 8 times reads as m = 5 601
    // wherever the edge count is taken after joining the trace
    val es = (1 to 700).map(i => "hub" -> s"n$i")
    val delta = Seq("x1" -> "y1")
    val trace = Graph.hitsTrace(toDF(es), iterations = 12)
    val round0 = Iterator.fill(7)(trace.head)
      .foldLeft(trace.head)(_ unionAll _)
    val folded = collectHits(Graph.hitsDelta(toDF(es), toDF(delta),
      round0 +: trace.tail, scale = 1000L))
    assert(folded === collectHits(Graph.hitsDeferred(
      toDF(es ++ delta), iterations = 12, scale = 1000L)))
  }

  test("the growth pre-flight refuses iterations DECIMAL(38,0) " +
      "cannot hold") {
    val star = (1 to 2000).map(i => "hub" -> s"n$i")
    val ex = intercept[IllegalArgumentException] {
      Graph.hitsDeferred(toDF(star), iterations = 16)
    }
    assert(ex.getMessage.contains("DECIMAL(38,0)"))
    // the same graph at 2 iterations is fine
    assert(collectHits(Graph.hitsDeferred(toDF(star),
      iterations = 2)).nonEmpty)
  }
}
