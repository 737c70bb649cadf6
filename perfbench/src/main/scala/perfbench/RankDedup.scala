package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Graph}

/** The operators layer on its own inputs: exact PageRank and HITS over
  * a bipartite user → product graph with a skewed degree distribution,
  * and LSH near-duplicate removal over documents with planted
  * near-duplicate clusters. Inputs are CSV part files written at
  * set-up; every pass reads them afresh. PageRank runs 2 rounds and
  * HITS 1 (the operators' defaults are 3 and 2): both operators cost a
  * fixed number of jobs per round, so fewer rounds keep a run inside
  * its time budget and still show any per-round change.
  */
final class RankDedup extends Workload {
  import RankDedup._

  val usesSpark = true
  private var edges: Vector[(Long, Long)] = Vector.empty
  private var docs: Vector[(Long, String)] = Vector.empty
  private var clusters: Vector[Vector[Long]] = Vector.empty
  private var edgeDir: File = null
  private var docDir: File = null
  private lazy val expectedRanks = pagerankRef(edges, Iterations)
  private lazy val expectedHits = hitsRef(edges, HitsIterations)
  private lazy val expectedKept = clusters.map(_.min).sorted

  def opsPerPass: Int = 3
  def recordsPerPass: Long = 2L * edges.length + docs.length

  def prepare(ctx: Ctx): Unit = {
    val r = new Gen.Rng(ctx.seed, 4242L)
    edges = graph(r)
    val (d, c) = corpus(new Gen.Rng(ctx.seed, 4343L))
    docs = d
    clusters = c
    edgeDir = new File(ctx.dir, "edges")
    docDir = new File(ctx.dir, "docs")
    writeParts(edgeDir, edges.map { case (a, b) => s"$a,$b" })
    writeParts(docDir, docs.map { case (i, t) => s"$i,$t" })
  }

  def pass(ctx: Ctx): AnyRef = {
    val t = ctx.trace
    val spark = ctx.spark
    def edgesDf: DataFrame = spark.read.schema(EdgeSchema).csv(edgeDir.getPath)
    val pr = t.span("operators.pagerank")(
      Graph.pagerank(edgesDf, iterations = Iterations).collect())
      .map(row => row.getLong(0) -> BigInt(row.getDecimal(1).toBigInteger)).toMap
    val hits = t.span("operators.hits")(
      Graph.hits(edgesDf, iterations = HitsIterations).collect())
      .map(row => row.getLong(0) -> (BigInt(row.getDecimal(1).toBigInteger),
        BigInt(row.getDecimal(2).toBigInteger))).toMap
    val kept = t.span("operators.dedup")(
      Dedup.deduplicate(spark.read.schema(DocSchema).csv(docDir.getPath), col("id"),
        col("text")).select(col("id")).collect())
      .map(_.getLong(0)).toVector.sorted
    Out(pr, hits, kept)
  }

  /** PageRank and HITS against the `BigInt` recurrences, the kept ids
    * against the planted clusters, and the planted-cluster premise the
    * dedup check rests on. A score map is perturbed by adding 1 to one
    * node's score (hub score for HITS), the kept ids by dropping one,
    * and the premise by splitting the first cluster in two.
    */
  def checkers(ctx: Ctx, out: AnyRef): Seq[Checker[_]] = {
    val o = out.asInstanceOf[Out]
    val k = o.pagerank.keys.min
    val h = o.hits.keys.min
    val split = Vector(clusters.head.take(1), clusters.head.drop(1)) ++
      clusters.tail
    Seq(
      new Checker("pagerank", o.pagerank,
        Seq(o.pagerank.updated(k, o.pagerank(k) + 1)),
        (m: Map[Long, BigInt]) => compare("pagerank", m, expectedRanks)),
      new Checker("hits", o.hits,
        Seq(o.hits.updated(h, (o.hits(h)._1 + 1, o.hits(h)._2))),
        (m: Map[Long, (BigInt, BigInt)]) => compare("hits", m, expectedHits)),
      new Checker("dedup", o.kept, Seq(o.kept.tail), (kept: Vector[Long]) =>
        if (kept == expectedKept) Vector.empty
        else {
          val (g, w) = (kept.toSet, expectedKept.toSet)
          Vector(s"dedup: kept ${kept.size} ids, expected " +
            s"${expectedKept.size}; extra ${(g -- w).take(5)}, missing " +
            s"${(w -- g).take(5)}")
        }),
      new Checker("planted clusters", clusters, Seq(split),
        (c: Vector[Vector[Long]]) => plantedJaccard(docs, c)))
  }
}

object RankDedup {
  final case class Out(pagerank: Map[Long, BigInt],
                       hits: Map[Long, (BigInt, BigInt)], kept: Vector[Long])

  /** Differences between two node → score maps, at most two lines. */
  def compare[V](what: String, got: Map[Long, V],
                 want: Map[Long, V]): Vector[String] = {
    val size =
      if (got.keySet == want.keySet) None
      else Some(s"$what: ${got.size} nodes, expected ${want.size}")
    val bad = want.keys.toVector.sorted.filter(k => got.get(k) != want.get(k))
    val diff = bad.headOption.map(b => s"$what: ${bad.size} nodes differ, " +
      s"e.g. $b: ${got.get(b)} != ${want(b)}")
    size.toVector ++ diff
  }

  val Parts = 3
  val EdgeSchema = StructType(Seq(StructField("src", LongType, false),
    StructField("dst", LongType, false)))
  val DocSchema = StructType(Seq(StructField("id", LongType, false),
    StructField("text", StringType, false)))

  /** `lines` as [[Parts]] CSV part files, so scans run in parallel. */
  def writeParts(dir: File, lines: Vector[String]): Unit =
    lines.grouped((lines.size + Parts - 1) / Parts).zipWithIndex.foreach {
      case (chunk, p) => Gen.write(new File(dir, f"part-$p%05d.csv")) { w =>
        chunk.foreach { l => w.write(l); w.newLine() }
      }
    }
  val Users = 1500
  val Products = 800
  val ProductBase = 1000000L
  val Iterations = 2
  val HitsIterations = 1
  val Clusters = 100
  val Singletons = 200
  val DocWords = 120
  val Vocabulary = 3000

  /** Users buy products: out-degree 1..24 skewed towards few (a fixed
    * degree sequence dealt to users in a seeded order, so every seed
    * reads the same number of edges), product popularity skewed
    * towards few (hot in-degree keys). Repeat purchases are kept as
    * multi-edges, which the operators count.
    */
  def graph(r: Gen.Rng): Vector[(Long, Long)] =
    r.shuffle(Vector.tabulate(Users)(u =>
      1 + (math.pow((u + 0.5) / Users, 3.0) * 24).toInt))
      .zipWithIndex.flatMap { case (degree, u) =>
        Vector.fill(degree)((u.toLong, ProductBase + r.skewed(Products)))
      }

  /** Documents of random words; each cluster is a base document plus
    * 1-3 copies (the same counts on every seed, so every seed reads the
    * same number of documents), each with one word changed at its own
    * position (word 5-shingle Jaccard ≥ 0.83 between any two members,
    * far above the 1/5 threshold). Ids are a seeded permutation, so the
    * smallest id of a cluster is not always its base.
    */
  def corpus(r: Gen.Rng): (Vector[(Long, String)], Vector[Vector[Long]]) = {
    val vocab = Vector.tabulate(Vocabulary)(i => s"w${i}x${r.int(1000)}")
    def doc() = Vector.fill(DocWords)(r.pick(vocab))
    val groups: Vector[Vector[Vector[String]]] =
      Vector.tabulate(Clusters) { k =>
        val base = doc()
        base +: Vector.fill(1 + k % 3) {
          base.updated(5 + r.int(DocWords - 10), r.pick(vocab))
        }
      } ++ Vector.fill(Singletons)(Vector(doc()))
    val ids = r.shuffle(Vector.tabulate(groups.map(_.size).sum)(_.toLong))
    var next = 0
    val withIds = groups.map(_.map { words =>
      val id = ids(next); next += 1
      id -> words.mkString(" ")
    })
    (withIds.flatten, withIds.map(_.map(_._1)))
  }

  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(5).map(_.mkString(" ")).toSet

  /** The planted-cluster premise the dedup check rests on: members of a
    * cluster have word 5-shingle Jaccard ≥ 0.8, and documents of
    * different clusters share no pair above 0.05.
    */
  def plantedJaccard(docs: Vector[(Long, String)],
                     clusters: Vector[Vector[Long]]): Vector[String] = {
    val sh = docs.map { case (i, t) => i -> shingles(t) }.toMap
    def jac(a: Long, b: Long) = {
      val (x, y) = (sh(a), sh(b))
      (x & y).size.toDouble / (x | y).size
    }
    val clusterOf = clusters.zipWithIndex.flatMap { case (c, k) =>
      c.map(_ -> k) }.toMap
    val low = clusters.flatMap(c => c.combinations(2).collect {
      case Seq(a, b) if jac(a, b) < 0.8 => s"planted pair ($a, $b) " +
        f"has Jaccard ${jac(a, b)}%.3f" })
    val byShingle = sh.toVector.flatMap { case (i, s) => s.map(_ -> i) }
      .groupMap(_._1)(_._2)
    val pairs: Set[(Long, Long)] = byShingle.values.flatMap(ids =>
      ids.combinations(2).collect {
        case Seq(a, b) if clusterOf(a) != clusterOf(b) => (a min b, a max b)
      }).toSet
    val cross = pairs.toVector.sorted.collect {
      case (a, b) if jac(a, b) > 0.05 =>
        f"unrelated pair ($a, $b) has Jaccard ${jac(a, b)}%.3f" }
    (low ++ cross).take(5)
  }

  /** Exact scaled-integer PageRank, the recurrence documented at
    * `Graph.pagerank` (damping 17/20, scale 10^6, no seeds):
    * share(u→v) = ⌊pr(u)/outdeg(u)⌋, D = Σ pr of nodes without
    * out-edges, pr'(v) = ⌊3·N·s/(20·N)⌋ + ⌊17·(inflow(v) + ⌊D/N⌋)/20⌋.
    */
  def pagerankRef(edges: Vector[(Long, Long)], iterations: Int,
                  num: Long = 17, den: Long = 20,
                  scale: Long = 1000000L): Map[Long, BigInt] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = BigInt(nodes.size)
    val outdeg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val tele = BigInt(den - num) * n * scale / (BigInt(den) * n)
    var pr: Map[Long, BigInt] = nodes.map(_ -> BigInt(scale)).toMap
    for (_ <- 1 to iterations) {
      val inflow = edges.groupMapReduce(_._2) { case (u, _) =>
        pr(u) / outdeg(u) }(_ + _)
      val dangling = nodes.filterNot(outdeg.contains).map(pr).sum
      val d = dangling / n
      pr = nodes.map(v => v ->
        (tele + BigInt(num) * (inflow.getOrElse(v, BigInt(0)) + d) / den)).toMap
    }
    pr
  }

  /** Exact scaled-integer HITS, the recurrence documented at
    * `Graph.hits` (scale 10^6): a_raw(v) = Σ_{u→v} h(u),
    * a(v) = ⌊a_raw(v)·s/Σ a_raw⌋; h_raw(u) = Σ_{u→v} a(v),
    * h(u) = ⌊h_raw(u)·s/Σ h_raw⌋; every node starts at s, nodes
    * without in-edges (out-edges) hold authority (hub) 0.
    */
  def hitsRef(edges: Vector[(Long, Long)], iterations: Int,
              scale: Long = 1000000L): Map[Long, (BigInt, BigInt)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val s = BigInt(scale)
    var hub: Map[Long, BigInt] = nodes.map(_ -> s).toMap
    var auth: Map[Long, BigInt] = nodes.map(_ -> s).toMap
    def norm(raw: Map[Long, BigInt]): Map[Long, BigInt] = {
      val tot = raw.values.sum
      nodes.map(v => v -> (raw.get(v) match {
        case Some(x) if tot > 0 => x * s / tot
        case _ => BigInt(0)
      })).toMap
    }
    for (_ <- 1 to iterations) {
      auth = norm(edges.groupMapReduce(_._2) { case (u, _) => hub(u) }(_ + _))
      hub = norm(edges.groupMapReduce(_._1) { case (_, v) => auth(v) }(_ + _))
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }
}
