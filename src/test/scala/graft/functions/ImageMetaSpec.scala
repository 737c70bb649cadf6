package graft.functions

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** Real-bytes image header decode: hand-assembled PNG / JPEG / GIF /
  * BMP headers per the public specs, plus corrupt/truncated payloads
  * that must degrade to nulls, never throw.
  */
class ImageMetaSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** Minimal PNG: signature + IHDR length/type + 320x240 dims. */
  private val png: Array[Byte] =
    b(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R',                 // IHDR chunk
      0, 0, 0x01, 0x40,                                // width 320
      0, 0, 0x00, 0xf0,                                // height 240
      8, 6, 0, 0, 0)                                   // bit depth etc.

  /** JPEG: SOI, APP0 (JFIF), a COM segment to force the walk, then
    * SOF0 with height 48 / width 64.
    */
  private val jpeg: Array[Byte] =
    b(0xff, 0xd8,                                     // SOI
      0xff, 0xe0, 0, 16, 'J', 'F', 'I', 'F', 0,       // APP0 len 16
      1, 1, 0, 0, 1, 0, 1, 0, 0,
      0xff, 0xfe, 0, 5, 'c', 'm', 't',                // COM len 5
      0xff, 0xc0, 0, 17, 8,                           // SOF0 len 17
      0, 48,                                          // height 48
      0, 64,                                          // width 64
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)

  private val gif: Array[Byte] =
    b('G', 'I', 'F', '8', '9', 'a',
      0x0c, 0x00,                                     // width 12 LE
      0x07, 0x00,                                     // height 7 LE
      0, 0, 0)

  private val bmp: Array[Byte] =
    b('B', 'M', 70, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0,
      40, 0, 0, 0,
      0x15, 0x00, 0x00, 0x00,                          // width 21 LE
      0xef, 0xff, 0xff, 0xff)                          // height -17

  test("compute: dimensions straight from the header bytes") {
    def got(p: Array[Byte]): (String, Any, Any) = {
      val r = ImageMetaExpr.compute(p)
      (r.getUTF8String(0).toString,
        if (r.isNullAt(1)) null else r.getInt(1),
        if (r.isNullAt(2)) null else r.getInt(2))
    }
    assert(got(png) == (("png", 320, 240)))
    assert(got(jpeg) == (("jpeg", 64, 48)))
    assert(got(gif) == (("gif", 12, 7)))
    assert(got(bmp) == (("bmp", 21, 17)))    // top-down height abs'd
    assert(got("just text".getBytes) == (("unknown", null, null)))
    // truncated/corrupt payloads: recognized container, null dims
    assert(got(png.take(20)) == (("unknown", null, null)))
    assert(got(b(0xff, 0xd8, 0xff, 0xd9)) == (("jpeg", null, null)))
    assert(got(b(0xff, 0xd8, 0x00, 0x00, 0x12)) ==
      (("jpeg", null, null)))
    assert(got(Array.empty[Byte]) == (("unknown", null, null)))
    // zero-dimension GIF header: recognized container, null dims
    assert(got(b('G', 'I', 'F', '8', '9', 'a', 0, 0, 0, 0, 0, 0)) ==
      (("gif", null, null)))
    // SOS before any SOF terminates the walk (entropy data follows)
    assert(got(b(0xff, 0xd8, 0xff, 0xda, 0, 4, 1, 2, 0xff, 0xc0,
      0, 17, 8, 0, 48, 0, 64)) == (("jpeg", null, null)))
    // corrupt megabyte after SOI: the bounded resync returns instead
    // of scanning the whole payload (and never invents a fake SOF
    // from garbage)
    val garbage = Array.fill[Byte](1 << 20)(0x41)
    assert(got(Array[Byte](0xff.toByte, 0xd8.toByte) ++ garbage) ==
      (("jpeg", null, null)))
  }

  test("imageMeta as a Spark column over mixed payloads (codegen " +
      "path)") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", png), ("b", jpeg), ("c", gif), ("d", bmp),
      ("e", "plain text pretending".getBytes))
      .toDF("id", "payload")
    val out = graft.operators.Multimodal.imageMeta(col("payload"))
    val rows = df.select(col("id"), out.as("m"))
      .select(col("id"), col("m.format"), col("m.width"),
        col("m.height"))
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(rows == Set(
      ("a", "png", Some(320), Some(240)),
      ("b", "jpeg", Some(64), Some(48)),
      ("c", "gif", Some(12), Some(7)),
      ("d", "bmp", Some(21), Some(17)),
      ("e", "unknown", None, None)))
  }
}
