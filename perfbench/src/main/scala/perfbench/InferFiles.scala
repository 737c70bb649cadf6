package perfbench

import java.io.File

import graft.analyzer.{SparkAnalyzer, TreeAnalyzer}
import graft.core._
import graft.sources.Source

import Workload.Rendered

/** Distributed structure inference (`graft.tools.AnalyzeDist`'s
  * detect → sparkRead → analyze → merge → render lifecycle) over two
  * tables written as part files:
  *
  *  - `events`, nested JSON lines: each part is detected and read with
  *    `Source.sparkRead`, the parts are unioned, and one `analyzeTable`
  *    scans them in parallel, one partition per part. This is the
  *    analysis with the most per-row work: three nesting levels and a
  *    list whose items exceed the distinct cap;
  *  - `orders`, CSV as daily ingest produces it: `analyzeTable` on the
  *    first part, then each later part folded in with
  *    `analyzeIncremental`, where per-job fixed cost and driver round
  *    trips dominate.
  *
  * Both trees then merge to a fix-point and render as text and XML.
  */
final class InferFiles extends Workload {
  import InferFiles._

  val usesSpark = true
  private val events = Table("events", "jsonl", parts = 2, rows = 500)
  private val orders = Table("orders", "csv", parts = 1 + Deltas, rows = 300)

  def opsPerPass: Int = (2 * events.parts + 4) + (3 * orders.parts + 3)
  def recordsPerPass: Long =
    events.parts.toLong * events.rows + orders.parts.toLong * orders.rows

  private val expected = scala.collection.mutable.Map.empty[String, Expected]
  /** `analyzeTable` over all order parts at once, made for the checks. */
  private var wholeOrders: SType = null

  def prepare(ctx: Ctx): Unit = {
    val e = new Expect(sparkFields = true)
    val ef = write(ctx, events) { (r, i, w) =>
      w.write(Gen.json(Gen.event(r, i, e, "[]")))
    }
    e.node("", Node("list", 1, 1L, 1L))
    e.summary("[].readings[]")
    expected(events.name) = Expected(ef, e.result)
    val o = new Expect(sparkFields = true)
    val of = write(ctx, orders, Some(OrderHeader)) { (r, i, w) =>
      w.write(order(r, i, o, "[]"))
    }
    o.node("", Node("list", 1, 1L, 1L))
    expected(orders.name) = Expected(of, o.result)
  }

  def pass(ctx: Ctx): AnyRef = {
    val t = ctx.trace
    val analyzer = new SparkAnalyzer(Gen.config)
    val union = expected(events.name).files.map(f => read(ctx, f))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val ev = t.span("analyzer.analyze")(analyzer.analyzeTable(union))
    val of = expected(orders.name).files
    val base = read(ctx, of.head)
    val first = t.span("analyzer.analyze")(analyzer.analyzeTable(base))
    val or = of.tail.foldLeft(first) { (prior, f) =>
      val df = read(ctx, f)
      t.span("analyzer.incremental")(analyzer.analyzeIncremental(prior, df))
    }
    Map(events.name -> merged(t, ev), orders.name -> merged(t, or))
  }

  /** One checker per tree and per rendered view, and the incremental
    * contract: the orders tree built delta by delta against one
    * `analyzeTable` over all order parts at once, perturbed (like a
    * tree) by merging it with itself.
    */
  def checkers(ctx: Ctx, out: AnyRef): Seq[Checker[_]] = {
    if (wholeOrders == null) {
      val all = expected(orders.name).files
        .map(f => Source.sparkRead(ctx.spark, f.getPath))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      wholeOrders = new SparkAnalyzer(Gen.config).analyzeTable(all)
    }
    val trees = out.asInstanceOf[Map[String, (SType, Rendered)]]
    val inc = trees(orders.name)._1
    trees.toVector.sortBy(_._1).flatMap { case (name, o) =>
      Workload.structureCheckers(name, expected(name).nodes, o)
    } :+ new Checker("orders incremental = whole", inc,
      Seq(SType.merge(inc, inc)), (t: SType) => exactAgree(t, wholeOrders))
  }
}

object InferFiles {
  /** Order parts folded in after the first. */
  val Deltas = 1

  final case class Table(name: String, ext: String, parts: Int, rows: Int)
  final case class Expected(files: Seq[File], nodes: Map[String, Node])

  /** The incremental contract: a column whose analyses stayed on the
    * exact-counter path equals the whole-corpus analysis exactly (all
    * statistics, the full value counter, the rendering); an over-cap
    * column keeps exact count, min and max.
    */
  def exactAgree(inc: SType, whole: SType): Vector[String] = {
    def fields(t: SType): Map[String, SType] = t match {
      case l: SList => fields(l.content)
      case d: SDict => d.content.map(f =>
        f.key.asInstanceOf[SField].value.toString -> f.value).toMap
      case _ => Map.empty
    }
    def stats(t: SType): Option[Stats] = t match {
      case s: SScalar => Some(s.values)
      case SStrRepr(c, _) => stats(c)
      case SNumRepr(c, _, _, _) => stats(c)
      case _ => None
    }
    val (a, b) = (fields(inc), fields(whole))
    if (a.keySet != b.keySet)
      return Vector(s"orders: fields ${a.keySet} differ from the whole " +
        s"analysis's ${b.keySet}")
    a.keys.toVector.sorted.flatMap { k =>
      (stats(a(k)), stats(b(k))) match {
        case (Some(x), Some(y)) if x.sample.isDefined && !x.sampleIsPartial &&
            y.sample.isDefined && !y.sampleIsPartial =>
          if (a(k) == b(k) && a(k).render == b(k).render) None
          else Some(s"orders: exact column $k: incremental ${a(k).render} " +
            s"${x.copy(sample = None)} != whole ${b(k).render} " +
            s"${y.copy(sample = None)}")
        case (Some(x), Some(y)) =>
          if (x.card == y.card && Shape.same(x.min, y.min) &&
              Shape.same(x.max, y.max)) None
          else Some(s"orders: summary column $k: $x vs $y")
        case _ =>
          if (a(k) == b(k)) None else Some(s"orders: column $k differs")
      }
    }
  }

  /** The record keys a text view must show: the last segment of every
    * record-field path.
    */
  def keysOf(nodes: Map[String, Node]): Set[String] =
    nodes.keySet.filter(_.matches(".*\\.[a-z_]+$"))
      .map(p => p.substring(p.lastIndexOf('.') + 1))

  /** Writes a table's part files, one record a line; record ids run
    * on across parts.
    */
  def write(ctx: Ctx, t: Table, header: Option[String] = None)(
      line: (Gen.Rng, Long, java.io.BufferedWriter) => Unit): Seq[File] =
    (0 until t.parts).map { p =>
      val f = new File(ctx.dir, f"${t.name}/part-$p%05d.${t.ext}")
      val r = new Gen.Rng(ctx.seed, 1000L * t.name.hashCode + p)
      Gen.write(f) { w =>
        header.foreach { h => w.write(h); w.newLine() }
        (0 until t.rows).foreach { i =>
          line(r, p.toLong * t.rows + i, w); w.newLine()
        }
      }
      f
    }

  /** Detect, then read through the sources layer. */
  def read(ctx: Ctx, f: File): org.apache.spark.sql.DataFrame = {
    val t = ctx.trace
    t.add("sources.input_mb", f.length / 1048576.0)
    t.span("sources.detect")(Source.detect(f.getPath))
    t.span("sources.spark_read")(Source.sparkRead(ctx.spark, f.getPath))
  }

  /** Merge to a fix-point, then render as text and as XML. */
  def merged(t: Trace, tree: SType): (SType, Rendered) = {
    t.add("analyzer.tree_size_in", tree.size)
    val m = t.span("analyzer.merge")(
      new TreeAnalyzer(Gen.config).mergeToFixpoint(tree))
    t.add("analyzer.tree_size_out", m.size)
    val text = t.span("core.render")(m.render)
    val xml = t.span("core.xml")(Xml.toStringOf(m))
    (m, Rendered(text, xml))
  }

  val OrderHeader = "order_id,placed,city,total,paid,code,note"
  private val Cities = Vector("Oslo", "New York", "Lagos", "Lima",
    "Sao Paulo", "Kyoto", "Perth", "Quebec City")

  /** One CSV order row; every row quotes its city, so the line scorer
    * reads the file as CSV although datetimes contain a colon. With
    * `tuple` the row registers as the in-memory analyzer sees it (a
    * tuple of positions, an empty note kept as ""); otherwise as a
    * Spark record (an empty note read as null).
    */
  def order(r: Gen.Rng, id: Long, e: Expect, root: String,
            tuple: Boolean = false): String = {
    if (tuple) e.tuple(root, 7) else e.record(root)
    val names = OrderHeader.split(",")
    def put(i: Int, kind: String, v: Any): Unit = {
      val p = if (tuple) e.slot(root, i) else e.key(root, names(i))
      if (v != null) e.value(p, kind, v)
    }
    val orderId = 100000L + id
    put(0, "str(int:d)", orderId)
    val placed = Gen.instant(r).truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
    put(1, "str(datetime:%Y-%m-%d %H:%M)", placed)
    val city = r.pick(Cities)
    put(2, "str", city)
    val (total, totalV) = Gen.money(r.between(100L, 2000000L))
    put(3, "str(float:f)", totalV)
    val paid = r.chance(0.8)
    put(4, "str(bool:false|true)", paid)
    val code = r.between(0x100L, 0x1000000L)
    put(5, "str(int:x)", code)
    val note = if (r.chance(0.3)) "" else Gen.words(r, 1 + r.int(3))
    put(6, "str", if (note.isEmpty) null else note)
    Seq(orderId.toString, Gen.show(placed, Gen.MinFmt), "\"" + city + "\"",
      total, paid.toString, f"0x$code%x", note).mkString(",")
  }
}
