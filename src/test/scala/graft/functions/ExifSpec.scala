package graft.functions

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** EXIF extraction + redaction over hand-assembled JPEG/TIFF bytes
  * (both endiannesses), per the public TIFF 6.0 / EXIF layouts:
  * tag extraction, GPS-pointer presence, strip-and-reparse, byte
  * fidelity of non-Exif segments, and a never-throw fuzz sweep.
  */
class ExifSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** TIFF with IFD0 entries: Make/Model/DateTime (ASCII, stored
    * past the IFD), Orientation (inline SHORT) and optionally a GPS
    * IFD pointer. Little- or big-endian.
    */
  private def tiff(le: Boolean, make: String, model: String,
                   datetime: String, orientation: Int,
                   gps: Boolean): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(512).order(
      if (le) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    out.put((if (le) "II" else "MM").getBytes)
    out.putShort(42).putInt(8)
    val ascii = Seq(0x010f -> make, 0x0110 -> model,
      0x0132 -> datetime)
    val nEntries = ascii.size + 1 + (if (gps) 1 else 0)
    out.putShort(nEntries.toShort)
    // data area starts after the entry table + next-IFD pointer
    var dataOff = 8 + 2 + 12 * nEntries + 4
    val data = java.nio.ByteBuffer.allocate(256)
    for ((tag, v) <- ascii) {
      val bytes = (v + "\u0000").getBytes("US-ASCII")
      out.putShort(tag.toShort).putShort(2).putInt(bytes.length)
      if (bytes.length <= 4) {
        val inline = java.util.Arrays.copyOf(bytes, 4)
        out.put(inline)
      } else {
        out.putInt(dataOff)
        data.put(bytes)
        dataOff += bytes.length
      }
    }
    out.putShort(0x0112).putShort(3).putInt(1)
      .putShort(orientation.toShort).putShort(0)
    if (gps) out.putShort(0x8825.toShort).putShort(4).putInt(1)
      .putInt(dataOff) // pointer value; presence is the signal
    out.putInt(0) // next IFD
    out.put(data.array(), 0, data.position())
    java.util.Arrays.copyOf(out.array(), out.position())
  }

  private def app1(tiffBytes: Array[Byte]): Array[Byte] = {
    val payload = "Exif\u0000\u0000".getBytes("US-ASCII") ++ tiffBytes
    val len = payload.length + 2
    b(0xff, 0xe1, (len >> 8) & 0xff, len & 0xff) ++ payload
  }

  private val sofSos: Array[Byte] =
    b(0xff, 0xc0, 0, 17, 8, 0, 48, 0, 64, // SOF0 h=48 w=64
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1) ++
    b(0xff, 0xda, 0, 8, 1, 1, 0, 0, 63, 0) ++ // SOS
    b(0x12, 0x34, 0x56) ++ b(0xff, 0xd9)      // entropy + EOI

  private def jpeg(segments: Array[Byte]*): Array[Byte] =
    b(0xff, 0xd8) ++ segments.flatten ++ sofSos

  private def meta(bytes: Array[Byte]) = {
    val s = spark
    import s.implicits._
    Seq(Tuple1(bytes)).toDF("p")
      .select(Exif.exifMeta(col("p")).as("m"))
      .select(col("m.has_exif"), col("m.has_gps"), col("m.make"),
        col("m.model"), col("m.datetime"), col("m.orientation"))
      .collect()(0)
  }

  test("full extraction, little-endian: tags, inline + offset " +
      "ASCII, orientation, GPS presence") {
    val j = jpeg(app1(tiff(le = true, "Acme", "Cam 1",
      "2024:01:02 03:04:05", 6, gps = true)))
    val r = meta(j)
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === true)
    assert(r.getString(2) === "Acme")
    assert(r.getString(3) === "Cam 1")
    assert(r.getString(4) === "2024:01:02 03:04:05")
    assert(r.getInt(5) === 6)
  }

  test("big-endian (MM) parses identically; no GPS pointer means " +
      "has_gps = false") {
    val j = jpeg(app1(tiff(le = false, "Lumen Optics", "Z9",
      "2023:12:31 23:59:59", 1, gps = false)))
    val r = meta(j)
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
    assert(r.getString(2) === "Lumen Optics")
    assert(r.getString(3) === "Z9")
    assert(r.getInt(5) === 1)
  }

  test("a JPEG without Exif is has_exif=false; non-JPEG bytes are " +
      "a null struct; corrupt TIFF inside APP1 degrades, never " +
      "throws") {
    val r1 = meta(jpeg())
    assert(r1.getBoolean(0) === false && r1.getBoolean(1) === false)
    val s = spark
    import s.implicits._
    val nonJpeg = Seq(Tuple1("hello".getBytes)).toDF("p")
      .select(Exif.exifMeta(col("p")).as("m")).collect()(0)
    assert(nonJpeg.isNullAt(0))
    val corrupt = jpeg(app1(b(0x51, 0x51, 9, 9, 1, 2, 3, 4, 5)))
    val r2 = meta(corrupt)
    assert(r2.getBoolean(0) === false)
  }

  test("strip removes exactly the Exif APP1: GPS gone, dimensions " +
      "still decode, bytes equal the never-tagged twin, idempotent, " +
      "non-JPEG passthrough") {
    val tagged = jpeg(app1(tiff(le = true, "Acme", "Cam 1",
      "2024:01:02 03:04:05", 6, gps = true)))
    val plain = jpeg()
    val stripped = Exif.strip(tagged)
    assert(stripped.toSeq === plain.toSeq)
    assert(Exif.strip(stripped).toSeq === stripped.toSeq)
    val m = meta(stripped)
    assert(m.getBoolean(0) === false && m.getBoolean(1) === false)
    // the pixels' header walk still finds SOF dims on the redacted
    // bytes
    val s = spark
    import s.implicits._
    val dims = Seq(Tuple1(stripped)).toDF("p")
      .select(ImageMetaExpr.imageMetaNative(col("p")).as("m"))
      .select(col("m.format"), col("m.width"), col("m.height"))
      .collect()(0)
    assert(dims.getString(0) === "jpeg")
    assert(dims.getInt(1) === 64 && dims.getInt(2) === 48)
    val text = "just text".getBytes
    assert(Exif.strip(text).toSeq === text.toSeq)
  }

  test("a non-Exif APP1 (e.g. XMP) survives the strip untouched") {
    val xmp = {
      val payload = "http://ns.adobe.com/xap/1.0/\u0000<x/>"
        .getBytes("US-ASCII")
      val len = payload.length + 2
      b(0xff, 0xe1, (len >> 8) & 0xff, len & 0xff) ++ payload
    }
    val j = jpeg(xmp,
      app1(tiff(le = true, "A", "B", "C", 1, gps = true)))
    val want = jpeg(xmp)
    assert(Exif.strip(j).toSeq === want.toSeq)
  }

  test("fuzz: arbitrary bytes never throw through either " +
      "expression, and strip output always parses as exif-free or " +
      "passthrough") {
    val rnd = new scala.util.Random(43)
    val rows = (0 until 300).map { i =>
      val n = rnd.nextInt(180)
      val arr = new Array[Byte](n + 2)
      rnd.nextBytes(arr)
      if (i % 2 == 0) { arr(0) = 0xff.toByte; arr(1) = 0xd8.toByte }
      Tuple1(arr)
    }
    val s = spark
    import s.implicits._
    val out = rows.toDF("p")
      .select(Exif.exifMeta(col("p")).as("m"),
        Exif.exifStrip(col("p")).as("r"))
      .select(col("m.has_gps"), length(col("r")))
      .collect()
    assert(out.length === 300)
  }
}
