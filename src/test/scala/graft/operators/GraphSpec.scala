package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** Exact scaled-integer PageRank/TrustRank: hand-computed fixtures
  * (every floor division worked on paper), mass conservation, the
  * cycle fixed point, seeded reachability, and the degree census.
  */
class GraphSpec extends SparkSuite {
  private def edges(es: (String, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst")
  }

  private def ranks(df: DataFrame): Map[String, Long] =
    df.collect().map(r =>
      r.getString(0) -> r.getDecimal(1).longValueExact()).toMap

  test("3-cycle is the uniform fixed point at any iteration count") {
    for (it <- Seq(1, 3, 7)) {
      val pr = ranks(Graph.pagerank(
        edges("a" -> "b", "b" -> "c", "c" -> "a"), iterations = it))
      assert(pr == Map("a" -> 1000000L, "b" -> 1000000L,
        "c" -> 1000000L))
    }
  }

  test("dangling chain: hand-computed two iterations") {
    // a→b, b dangling. T=2e6, base=150000, D redistributes to all.
    val e = edges("a" -> "b")
    assert(ranks(Graph.pagerank(e, iterations = 1)) ==
      Map("a" -> 575000L, "b" -> 1425000L))
    val p2 = ranks(Graph.pagerank(e, iterations = 2))
    assert(p2 == Map("a" -> 755625L, "b" -> 1244375L))
    // floor losses only ever shrink total mass, never create it
    assert(p2.values.sum <= 2000000L)
    assert(p2.values.sum >= 2000000L - 4L)
  }

  test("seeded: hand-computed propagation and the seed-origin law") {
    // a→b→c, teleport set {a}: T=3e6 starts on a and flows links
    val e = edges("a" -> "b", "b" -> "c")
    val s = spark
    import s.implicits._
    val seeds = Seq("a").toDF("node")
    assert(ranks(Graph.pagerank(e, iterations = 1,
      seeds = Some(seeds))) ==
      Map("a" -> 450000L, "b" -> 2550000L, "c" -> 0L))
    assert(ranks(Graph.pagerank(e, iterations = 2,
      seeds = Some(seeds))) ==
      Map("a" -> 450000L, "b" -> 382500L, "c" -> 2167500L))
  }

  test("seeded: nodes unreachable from seeds score exactly zero") {
    // two disconnected chains; the seed sits on one of them — the
    // other chain must stay at exactly zero trust forever
    val e = edges("a" -> "b", "x" -> "y")
    val pr = ranks(Graph.pagerank(e, iterations = 3,
      seeds = Some({
        val s = spark; import s.implicits._
        Seq("a").toDF("node")
      })))
    assert(pr("x") == 0L && pr("y") == 0L)
    assert(pr("a") > 0L && pr("b") > 0L)
    assert(pr.values.sum <= 4000000L) // T = 4e6, floor losses only
  }

  test("a seed set disjoint from the graph fails fast in-plan") {
    val e = edges("b" -> "c")
    val ex = intercept[Exception] {
      Graph.pagerank(e, iterations = 1, seeds = Some({
        val s = spark; import s.implicits._
        Seq("nope").toDF("node")
      })).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("empty teleport set")))
  }

  test("all-nodes seed set equals the unseeded run") {
    val e = edges("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
    val s = spark
    import s.implicits._
    val all = Seq("a", "b", "c").toDF("node")
    assert(ranks(Graph.pagerank(e, iterations = 3)) ==
      ranks(Graph.pagerank(e, iterations = 3, seeds = Some(all))))
  }

  test("iteration bounds and damping rationals are validated") {
    val e = edges("a" -> "b")
    intercept[IllegalArgumentException] {
      Graph.pagerank(e, iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pagerank(e, iterations = 17)
    }
    intercept[IllegalArgumentException] {
      Graph.pagerank(e, num = 20, den = 20)
    }
  }

  test("hits: hand-computed one iteration (every floor on paper)") {
    // a→x, b→x, b→y: x is the stronger authority (two hubs point
    // at it), b the stronger hub (it points at both authorities)
    val got = Graph.hits(edges("a" -> "x", "b" -> "x", "b" -> "y"),
        iterations = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getDecimal(1).longValueExact(),
          r.getDecimal(2).longValueExact()))).toMap
    // auth: x = ⌊2e6·1e6/3e6⌋ = 666666, y = ⌊1e6·1e6/3e6⌋ = 333333
    // hub: ht = 666666 + 999999 = 1666665; a = 666666e6/1666665 =
    // 400000 exactly, b = 999999e6/1666665 = 600000 exactly
    assert(got("x") == ((0L, 666666L)))
    assert(got("y") == ((0L, 333333L)))
    assert(got("a") == ((400000L, 0L)))
    assert(got("b") == ((600000L, 0L)))
    // L1 mass ≤ scale on each side (floor losses only)
    assert(got.values.map(_._1).sum <= 1000000L)
    assert(got.values.map(_._2).sum <= 1000000L)
  }

  test("hits: rankings stable across further iterations") {
    val e = edges("a" -> "x", "b" -> "x", "b" -> "y", "c" -> "y")
    for (it <- Seq(1, 2, 4)) {
      val got = Graph.hits(e, iterations = it)
        .collect().map(r => r.getString(0) ->
          ((r.getDecimal(1).longValueExact(),
            r.getDecimal(2).longValueExact()))).toMap
      assert(got("b")._1 > got("a")._1) // two-target hub dominates
      assert(got("x")._2 > 0L && got("y")._2 > 0L)
      assert(got("x")._1 == 0L)         // sinks never become hubs
    }
  }

  test("hop census: chain depths, the bounded tail, and ignored " +
      "out-of-graph seeds") {
    val s = spark
    import s.implicits._
    val e = edges("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "x" -> "y")
    def census(seedNames: String*) =
      Graph.hopCensus(e, seedNames.toSeq.toDF("node"), maxHops = 2)
        .collect().map(r => (if (r.isNullAt(0)) None
          else Some(r.getInt(0))) -> r.getLong(1)).toMap
    // a=0, b=1, c=2; d,e beyond maxHops; x,y disconnected
    assert(census("a") == Map(Some(0) -> 1L, Some(1) -> 1L,
      Some(2) -> 1L, None -> 4L))
    // a seed outside the graph contributes nothing
    assert(census("a", "zzz") == census("a"))
    // all seeds outside: everything unreachable
    assert(census("zzz") == Map(None -> 7L))
  }

  test("degree census covers both directions with zero fills") {
    val got = Graph.degreeCensus(
        edges("a" -> "b", "a" -> "c", "b" -> "c"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("a" -> ((2L, 0L)), "b" -> ((1L, 1L)),
      "c" -> ((0L, 2L))))
  }
}
