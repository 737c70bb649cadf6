package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Property layer for the graph operators: the distributed
  * iterations must equal a single-node BigInt reference that
  * implements the documented update rules literally — over random
  * graph shapes (dangling nodes, multi-edges collapsed to weights,
  * disconnected pieces, seeded and unseeded), not just the
  * hand-computed fixtures.
  */
class GraphPropertiesSpec extends SparkSuite {
  // ---- single-node references (documented rules, literally) ------

  private def refPagerank(edges: Seq[(String, String, Long)],
                          iterations: Int,
                          seeds: Option[Set[String]],
                          num: Long = 17, den: Long = 20,
                          scale: Long = 1000000L)
      : Map[String, BigInt] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val isSeed: String => Boolean =
      seeds.map(s => (n: String) => s(n)).getOrElse(_ => true)
    val bigS = BigInt(nodes.count(isSeed))
    val bigN = BigInt(nodes.size)
    val t = bigN * scale
    val wsum = edges.groupBy(_._1)
      .map { case (u, es) => u -> BigInt(es.map(_._3).sum) }
    var pr = nodes.map(n =>
      n -> (if (isSeed(n)) t / bigS else BigInt(0))).toMap
    for (_ <- 1 to iterations) {
      val inflow = collection.mutable.Map[String, BigInt]()
        .withDefaultValue(BigInt(0))
      for ((u, v, w) <- edges)
        inflow(v) += pr(u) * w / wsum(u)
      val dang = nodes.filterNot(wsum.contains).map(pr).sum
      pr = nodes.map { n =>
        val base =
          if (isSeed(n)) BigInt(den - num) * t / (BigInt(den) * bigS)
          else BigInt(0)
        val extra = if (isSeed(n)) dang / bigS else BigInt(0)
        n -> (base + BigInt(num) * (inflow(n) + extra) / den)
      }.toMap
    }
    pr
  }

  private def refHits(edges: Seq[(String, String)], iterations: Int,
                      scale: Long = 1000000L)
      : Map[String, (BigInt, BigInt)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var hub = nodes.map(_ -> BigInt(scale)).toMap
    var auth = nodes.map(_ -> BigInt(scale)).toMap
    for (_ <- 1 to iterations) {
      val aRaw = collection.mutable.Map[String, BigInt]()
        .withDefaultValue(BigInt(0))
      for ((u, v) <- edges) aRaw(v) += hub(u)
      val at = aRaw.values.sum
      auth = nodes.map(n => n -> (if (at > 0 && aRaw.contains(n))
        aRaw(n) * scale / at else BigInt(0))).toMap
      val hRaw = collection.mutable.Map[String, BigInt]()
        .withDefaultValue(BigInt(0))
      for ((u, v) <- edges) hRaw(u) += auth(v)
      val ht = hRaw.values.sum
      hub = nodes.map(n => n -> (if (ht > 0 && hRaw.contains(n))
        hRaw(n) * scale / ht else BigInt(0))).toMap
    }
    nodes.map(n => n -> ((hub(n), auth(n)))).toMap
  }

  // ---- random graph generator ------------------------------------

  private def randomGraph(rnd: scala.util.Random)
      : Seq[(String, String, Long)] = {
    val n = 3 + rnd.nextInt(6)
    val nodes = (0 until n).map(i => s"n$i")
    val nEdges = 2 + rnd.nextInt(2 * n)
    (1 to nEdges).map { _ =>
      (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n)),
        1L + rnd.nextInt(5))
    }.distinct
      // collapse parallel edges (same src/dst) into one weight —
      // the reference keys inflow by edge rows, the engine by rows
      // too, but distinct src/dst keeps wsum interpretation aligned
      .groupBy(e => (e._1, e._2))
      .map { case ((u, v), es) => (u, v, es.map(_._3).sum) }
      .toSeq
  }

  private def edgesDf(es: Seq[(String, String, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst", "w")
  }

  test("weighted + seeded pagerank equals the BigInt reference " +
      "over random graphs") {
    val rnd = new scala.util.Random(271828)
    for (i <- 1 to 10) {
      val es = randomGraph(rnd)
      val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
      val it = 1 + rnd.nextInt(3)
      val seeds =
        if (i % 2 == 0) None
        else Some(rnd.shuffle(nodes).take(1 + rnd.nextInt(nodes.size))
          .toSet)
      val seedsDf = seeds.map { ss =>
        val s = spark
        import s.implicits._
        ss.toSeq.toDF("node")
      }
      val weighted = i % 3 != 0 // also exercise the w-ignored path
      val got = Graph.pagerank(edgesDf(es), iterations = it,
          seeds = seedsDf,
          weight = if (weighted) Some(col("w")) else None)
        .collect()
        .map(r => r.getString(0) -> BigInt(r.getDecimal(1)
          .toBigInteger)).toMap
      val want = refPagerank(
        if (weighted) es else es.map(e => (e._1, e._2, 1L)),
        it, seeds)
      assert(got == want, s"case $i: edges=$es it=$it seeds=$seeds " +
        s"weighted=$weighted")
      // mass law: floor losses only shrink total mass
      assert(got.values.sum <= BigInt(nodes.size) * 1000000L)
    }
  }

  test("hits equals the BigInt reference over random graphs") {
    val rnd = new scala.util.Random(314159)
    for (i <- 1 to 8) {
      val es = randomGraph(rnd).map(e => (e._1, e._2))
      val it = 1 + rnd.nextInt(3)
      val got = Graph.hits(edgesDf(es.map(e => (e._1, e._2, 1L))),
          iterations = it)
        .collect()
        .map(r => r.getString(0) ->
          ((BigInt(r.getDecimal(1).toBigInteger),
            BigInt(r.getDecimal(2).toBigInteger)))).toMap
      val want = refHits(es, it)
      assert(got == want, s"case $i: edges=$es it=$it")
    }
  }
}
