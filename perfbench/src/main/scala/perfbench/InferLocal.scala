package perfbench

import java.io.File

import graft.analyzer.TreeAnalyzer
import graft.core.{SSourcesList, SType, SValue, Stats, ValueCounter}
import graft.sources.Source

import Workload.Rendered

/** structa's own single-process lifecycle (`graft.tools.Analyze`), no
  * SparkSession: `Source.detect` and `Source.load` on JSON, CSV and
  * YAML, `TreeAnalyzer.analyze`, the merge fix-point, text and XML
  * rendering. The inputs are a top-level mapping keyed by generated
  * ids whose values share structure (too many keys to be read as
  * record fields, so it is a table from the start), a mapping with few
  * such keys (read as a record, which the merge fix-point collapses to
  * a table), a CSV file, a YAML list, and many small similar JSON
  * sources, analyzed one by one and folded with `SType.matches`/`merge`.
  */
final class InferLocal extends Workload {
  import InferLocal._

  val usesSpark = false
  private var single: Vector[(String, File, Map[String, Node])] = Vector.empty
  private var shards: Vector[File] = Vector.empty
  private var shardExpect: Map[String, Node] = Map.empty
  private var records = 0L

  def opsPerPass: Int = 6 * 4 + 3 * Shards + 4
  def recordsPerPass: Long = records

  def prepare(ctx: Ctx): Unit = {
    val catalog = {
      val e = new Expect(sparkFields = false)
      val r = new Gen.Rng(ctx.seed, 501L)
      val f = new File(ctx.dir, "local/catalog.json")
      val keys = scala.util.Random.javaRandomToRandom(
        new java.util.Random(ctx.seed)).shuffle((0 until 100000).toVector)
        .take(CatalogItems).map(k => f"P-$k%05d")
      e.table("", keys.size)
      Gen.write(f) { w =>
        w.write(Gen.json(Gen.Obj(keys.map { k =>
          e.value("{}#key", "str-pattern", k)
          k -> product(r, e, "{}")
        })))
      }
      records += CatalogItems
      ("catalog", f, e.result)
    }
    val orders = {
      val e = new Expect(sparkFields = false)
      val r = new Gen.Rng(ctx.seed, 502L)
      val f = new File(ctx.dir, "local/orders.csv")
      Gen.write(f) { w =>
        w.write(InferFiles.OrderHeader); w.newLine()
        (0 until CsvRows).foreach { i =>
          w.write(InferFiles.order(r, i, e, "[]", tuple = true)); w.newLine()
        }
      }
      e.node("", Node("list", 1, CsvRows.toLong, CsvRows.toLong))
      records += CsvRows
      ("orders", f, e.result)
    }
    val inventory = {
      val e = new Expect(sparkFields = false)
      val r = new Gen.Rng(ctx.seed, 503L)
      val f = new File(ctx.dir, "local/inventory.yaml")
      Gen.write(f) { w =>
        (0 until YamlItems).foreach(_ => w.write(item(r, e, "[]")))
      }
      e.list("", YamlItems)
      records += YamlItems
      ("inventory", f, e.result)
    }
    val fleet = {
      val e = new Expect(sparkFields = false)
      val r = new Gen.Rng(ctx.seed, 505L)
      val f = new File(ctx.dir, "local/fleet.json")
      val sites = Vector.tabulate(FleetSites)(i => f"dc-${7 * i + r.int(7)}%03d")
      e.table("", sites.size)
      Gen.write(f) { w =>
        w.write(Gen.json(Gen.Obj(sites.zipWithIndex.map { case (k, i) =>
          e.value("{}#key", "str-pattern", k)
          val n = Gen.smallCount(i)
          e.list("{}", n)
          records += n
          k -> (0 until n).map(_ => host(r, e, "{}[]"))
        })))
      }
      ("fleet", f, e.result)
    }
    single = Vector(catalog, orders, inventory, fleet)
    val e = new Expect(sparkFields = false)
    val r = new Gen.Rng(ctx.seed, 504L)
    shards = Vector.tabulate(Shards) { s =>
      val f = new File(ctx.dir, f"local/shard-$s%03d.json")
      val n = Gen.smallCount(s)
      e.list("[]", n)
      Gen.write(f)(_.write(Gen.json((0 until n).map(_ => host(r, e, "[][]")))))
      records += n
      f
    }
    e.node("", Node("sources", 1, Shards.toLong, Shards.toLong))
    shardExpect = e.result
  }

  def pass(ctx: Ctx): AnyRef = {
    val t = ctx.trace
    val analyzer = new TreeAnalyzer(Gen.config)
    def analyze(f: File): SType = {
      t.add("sources.input_mb", f.length / 1048576.0)
      t.span("sources.detect")(Source.detect(f.getPath))
      val data = t.span("sources.load")(Source.load(f.getPath))
      t.span("analyzer.analyze")(analyzer.analyze(data))
    }
    val out = single.map { case (name, f, _) =>
      name -> InferFiles.merged(t, analyze(f))
    }
    val folded = {
      val trees = shards.map(analyze)
      t.span("core.fold")(fold(trees))
    }
    (out :+ ("shards" -> InferFiles.merged(t, folded))).toMap
  }

  private def expected: Map[String, Map[String, Node]] =
    single.map { case (n, _, e) => n -> e }.toMap + ("shards" -> shardExpect)

  def checkers(ctx: Ctx, out: AnyRef): Seq[Checker[_]] = {
    val exp = expected
    out.asInstanceOf[Map[String, (SType, Rendered)]].toVector.sortBy(_._1)
      .flatMap { case (name, o) => Workload.structureCheckers(name, exp(name), o) }
  }
}

object InferLocal {
  /** The multi-source fold `AnalyzeDist` applies to per-file trees:
    * merge while structures match, degrade to ⊤ when they do not, and
    * wrap the result as a sources list.
    */
  def fold(trees: Seq[SType]): SType = {
    val merged = trees.reduceLeft { (acc, t) =>
      if (acc.isInstanceOf[SValue]) acc
      else if (SType.matches(acc, t))
        try SType.merge(acc, t)
        catch { case _: IllegalArgumentException => SValue() }
      else SValue()
    }
    SSourcesList(Stats.fromCounter(ValueCounter(Map(
      (trees.length.toLong: Any) -> 1L))), merged)
  }

  val CatalogItems = 24000
  val CsvRows = 40000
  val YamlItems = 1200
  val Shards = 40
  /** Below the analyzer's 20-key field threshold. */
  val FleetSites = 12

  private val Tags = Vector("new", "sale", "eco", "bulk", "gift", "rare")

  /** A catalog entry: floats, ints, a list of tags, an ISO datetime
    * string, a bool, and a rating that is absent, null or a float.
    */
  def product(r: Gen.Rng, e: Expect, root: String): Gen.Obj = {
    e.record(root)
    val b = Vector.newBuilder[(String, Any)]
    def put(name: String, kind: String, v: Any): Unit = {
      val p = e.key(root, name)
      if (v != null) e.value(p, kind, v)
      b += name -> v
    }
    val name = Gen.words(r, 1 + r.int(3))
    put("name", "str", name)
    val (_, price) = Gen.money(r.between(50L, 100000L))
    put("price", "float", price)
    put("stock", "int", r.between(0L, 5000L))
    val updated = Gen.instant(r)
    val p = e.key(root, "updated")
    e.value(p, "str(datetime:%Y-%m-%dT%H:%M:%S)", updated)
    b += "updated" -> Gen.show(updated, Gen.IsoFmt)
    put("active", "bool", r.chance(0.6))
    val tags = Vector.fill(1 + r.int(3))(r.pick(Tags))
    val tp = e.key(root, "tags")
    e.list(tp, tags.size)
    tags.foreach(x => e.value(tp + "[]", "str", x))
    b += "tags" -> tags
    val u = r.double()
    if (u < 0.6) put("rating", "float", (10 + r.int(41)) / 10.0)
    else if (u < 0.7) put("rating", "float", null)
    Gen.Obj(b.result())
  }

  /** A YAML list item with a nested block mapping. */
  def item(r: Gen.Rng, e: Expect, root: String): String = {
    e.record(root)
    val sku = f"SKU-${r.int(65536)}%04X"
    e.value(e.key(root, "sku"), "str-pattern", sku)
    val qty = r.between(0L, 900L)
    e.value(e.key(root, "qty"), "int", qty)
    val (price, priceV) = Gen.money(r.between(100L, 90000L))
    e.value(e.key(root, "price"), "float", priceV)
    val active = r.chance(0.5)
    e.value(e.key(root, "active"), "bool", active)
    val bin = e.key(root, "bin")
    e.record(bin)
    val aisle = 1L + r.int(30)
    e.value(e.key(bin, "aisle"), "int", aisle)
    val shelf = f"R${r.int(100)}%02d"
    e.value(e.key(bin, "shelf"), "str-pattern", shelf)
    s"- sku: $sku\n  qty: $qty\n  price: $price\n  active: $active\n" +
      s"  bin:\n    aisle: $aisle\n    shelf: $shelf\n"
  }

  /** A host sample of one small similar source. */
  def host(r: Gen.Rng, e: Expect, root: String): Gen.Obj = {
    e.record(root)
    val b = Vector.newBuilder[(String, Any)]
    def put(name: String, kind: String, v: Any): Unit = {
      val p = e.key(root, name)
      if (v != null) e.value(p, kind, v)
      b += name -> v
    }
    put("host", "str-pattern", f"web-${r.int(100)}%02d")
    put("cpu", "float", Gen.decimal(r, 100.0, 2))
    put("mem", "int", r.between(128L, 65536L))
    put("up", "bool", r.chance(0.9))
    val at = Gen.instant(r)
    val p = e.key(root, "at")
    e.value(p, "str(datetime:%Y-%m-%d %H:%M:%S)", at)
    b += "at" -> Gen.show(at, Gen.SecFmt)
    if (r.chance(0.8)) put("region", "str", r.pick(Vector("eu", "us", "apac")))
    Gen.Obj(b.result())
  }
}
