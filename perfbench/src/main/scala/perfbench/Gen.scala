package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import graft.analyzer.AnalyzerConfig

/** Seeded input generation shared by the workloads. */
object Gen {

  /** The analyzer's "now", fixed so the plausible-epoch window
    * (now − 20 y .. now + 10 y) does not move with the calendar.
    */
  val Now: Instant = Instant.parse("2025-06-01T00:00:00Z")

  def config: AnalyzerConfig = AnalyzerConfig(now = Now)

  /** A stream of random values, independent per (seed, stream). */
  final class Rng(seed: Long, stream: Long) {
    private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Long, hi: Long): Long = r.nextLong(lo, hi)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def double(): Double = r.nextDouble()
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
    /** `xs` in a random order (Fisher–Yates). */
    def shuffle[T](xs: IndexedSeq[T]): Vector[T] = {
      val a = xs.toArray[Any]
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
      }
      a.toVector.asInstanceOf[Vector[T]]
    }
    /** Zipf-like skewed index in [0, n): small indexes are common. */
    def skewed(n: Int): Int =
      math.min(n - 1, (math.pow(r.nextDouble(), 3.0) * n).toInt)
  }

  /** The size of the `i`th small source: 10..30 in a fixed cycle, so
    * every seed reads the same number of records.
    */
  def smallCount(i: Int): Int = 10 + (8 * i) % 21

  val Words: IndexedSeq[String] = Vector("alpha", "bravo", "delta",
    "echo", "golf", "hotel", "india", "kilo", "lima", "mike", "oscar",
    "papa", "quebec", "romeo", "sierra", "tango", "victor", "whiskey",
    "yankee", "zulu", "amber", "basil", "cedar", "dune", "ember", "fjord")

  def words(r: Rng, n: Int): String =
    Iterator.fill(n)(r.pick(Words)).mkString(" ")

  /** Seconds in [2020-01-01, 2025-01-01). */
  private val T0 = Instant.parse("2020-01-01T00:00:00Z").getEpochSecond
  private val T1 = Instant.parse("2025-01-01T00:00:00Z").getEpochSecond
  def instant(r: Rng): Instant = Instant.ofEpochSecond(r.between(T0, T1))

  private def fmt(p: String) = DateTimeFormatter.ofPattern(p)
  val SecFmt: DateTimeFormatter = fmt("yyyy-MM-dd HH:mm:ss")
  val MinFmt: DateTimeFormatter = fmt("yyyy-MM-dd HH:mm")
  val IsoFmt: DateTimeFormatter = fmt("yyyy-MM-dd'T'HH:mm:ss")
  val MicroFmt: DateTimeFormatter = fmt("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  def show(t: Instant, f: DateTimeFormatter): String =
    f.format(LocalDateTime.ofInstant(t, ZoneOffset.UTC))

  /** `cents` as a two-decimal string and the double it parses to. */
  def money(cents: Long): (String, Double) = {
    val s = f"${cents / 100}%d.${math.abs(cents % 100)}%02d"
    (s, s.toDouble)
  }

  /** A double with `places` decimals, as it round-trips through text. */
  def decimal(r: Rng, scale: Double, places: Int): Double =
    BigDecimal(r.double() * scale)
      .setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ------------------------------------------------------------ JSON

  /** Ordered JSON object. */
  final case class Obj(fields: Seq[(String, Any)])

  def json(v: Any): String = {
    val sb = new StringBuilder
    def go(v: Any): Unit = v match {
      case null => sb ++= "null"
      case Obj(fs) =>
        sb += '{'
        fs.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','
          str(k); sb += ':'; go(x)
        }
        sb += '}'
      case xs: Seq[_] =>
        sb += '['
        xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case l: Long => sb ++= l.toString
      case i: Int => sb ++= i.toString
      case d: Double => sb ++= d.toString
      case other => throw new IllegalArgumentException(s"no JSON for $other")
    }
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c => sb += c
      }
      sb += '"'
    }
    go(v)
    sb.result()
  }

  def write(f: File)(body: BufferedWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(f.toPath, StandardCharsets.UTF_8)
    try body(w) finally w.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ----------------------------------------------------- event records

  /** One nested event record, registering in `e` (under `root`) every
    * value it contains: an id, a fixed-length pattern, strings that are
    * ints and datetimes (two formats), an epoch-second number, a URL, a
    * float, an optional field that is sometimes absent and sometimes
    * null, a nested record, a long list of floats (its items exceed the
    * analyzer's distinct cap, so they take the summary path) and a list
    * of records.
    */
  def event(r: Rng, id: Long, e: Expect, root: String): Obj = {
    e.record(root)
    val b = Vector.newBuilder[(String, Any)]
    def put(name: String, kind: String, out: Any, v: Any): Unit = {
      val p = e.key(root, name)
      if (out != null) e.value(p, kind, v)
      b += name -> out
    }
    put("id", "int", id, id)
    val user = f"u${r.int(3000)}%05d"
    put("user", "str-pattern", user, user)
    val amount = r.between(-5000L, 100000L)
    put("amount", "str(int:d)", amount.toString, amount)
    val ts = instant(r)
    put("ts", "str(datetime:%Y-%m-%d %H:%M:%S)", show(ts, SecFmt), ts)
    val tsUs = ts.plusNanos(r.between(0L, 1000000L) * 1000L)
    put("ts_us", "str(datetime:%Y-%m-%dT%H:%M:%S.%f)", show(tsUs, MicroFmt),
      tsUs)
    val epoch = instant(r)
    put("epoch", "num(int:datetime)", epoch.getEpochSecond, epoch)
    val url = s"https://shop.example/p/${r.int(200000)}" +
      (if (r.chance(0.3)) s"?ref=${r.pick(Words)}" else "")
    put("url", "url", url, url)
    val score = decimal(r, 1000.0, 4)
    put("score", "float", score, score)
    // note: 60% a phrase, 20% an explicit null, 20% absent
    val u = r.double()
    if (u < 0.6) { val n = words(r, 1 + r.int(4)); put("note", "str", n, n) }
    else if (u < 0.8) put("note", "str", null, null)
    val dev = e.key(root, "device")
    e.record(dev)
    val os = r.pick(Oses)
    e.value(e.key(dev, "os"), "str", os)
    val ver = 1L + r.int(40)
    e.value(e.key(dev, "ver"), "int", ver)
    b += "device" -> Obj(Seq("os" -> os, "ver" -> ver))
    val readings = Vector.fill(90 + r.int(31))(decimal(r, 1000.0, 4))
    val rp = e.key(root, "readings")
    e.list(rp, readings.length)
    readings.foreach(x => e.value(rp + "[]", "float", x))
    b += "readings" -> readings
    val lp = e.key(root, "lines")
    val n = 1 + r.int(3)
    e.list(lp, n)
    b += "lines" -> Vector.fill(n) {
      val lr = lp + "[]"
      e.record(lr)
      val sku = f"SKU-${r.int(65536)}%04X"
      e.value(e.key(lr, "sku"), "str-pattern", sku)
      val qty = 1L + r.int(20)
      e.value(e.key(lr, "qty"), "int", qty)
      Obj(Seq("sku" -> sku, "qty" -> qty))
    }
    Obj(b.result())
  }

  val Oses: IndexedSeq[String] =
    Vector("linux", "macos", "windows", "android", "ios")
}
