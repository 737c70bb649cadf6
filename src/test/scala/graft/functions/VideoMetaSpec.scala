package graft.functions

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** Real-bytes video container decode: hand-assembled ISO BMFF boxes
  * per ISO 14496-12 (ftyp → moov → mvhd/trak/tkhd), the EBML magic
  * for Matroska, and corrupt payloads that must degrade to nulls.
  */
class VideoMetaSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  private def u32(v: Long): Seq[Int] = Seq(
    (v >> 24).toInt & 0xff, (v >> 16).toInt & 0xff,
    (v >> 8).toInt & 0xff, v.toInt & 0xff)
  private def cc(s: String): Seq[Int] = s.map(_.toInt)
  private def bytes(xs: Seq[Int]): Array[Byte] = xs.map(_.toByte).toArray

  /** Minimal mp4: ftyp(isom) + moov[ mvhd v0 (1000 ts, 5000 dur) +
    * trak[ tkhd v0 640x360 ] ].
    */
  private val mp4: Array[Byte] = {
    val ftyp = u32(16) ++ cc("ftyp") ++ cc("isom") ++ u32(0x200)
    val mvhd = u32(108) ++ cc("mvhd") ++ Seq(0, 0, 0, 0) ++
      u32(0) ++ u32(0) ++ u32(1000) ++ u32(5000) ++
      Seq.fill(80)(0)
    val tkhd = u32(92) ++ cc("tkhd") ++ Seq(0, 0, 0, 0) ++
      u32(0) ++ u32(0) ++ u32(1) ++ u32(0) ++ u32(0) ++
      Seq.fill(16)(0) ++ Seq.fill(36)(0) ++
      u32(640L << 16) ++ u32(360L << 16)
    val trak = u32(100) ++ cc("trak") ++ tkhd
    val moov = u32(216) ++ cc("moov") ++ mvhd ++ trak
    bytes(ftyp ++ moov)
  }

  /** mvhd version 1 layout (64-bit times/duration). */
  private val mp4V1: Array[Byte] = {
    val ftyp = u32(16) ++ cc("ftyp") ++ cc("mp42") ++ u32(0)
    val mvhd = u32(120) ++ cc("mvhd") ++ Seq(1, 0, 0, 0) ++
      Seq.fill(8)(0) ++ Seq.fill(8)(0) ++ u32(600) ++
      u32(0) ++ u32(1200) ++ Seq.fill(80)(0)
    val moov = u32(128) ++ cc("moov") ++ mvhd
    bytes(ftyp ++ moov)
  }

  private val mkv: Array[Byte] =
    bytes(Seq(0x1a, 0x45, 0xdf, 0xa3, 0x01, 0, 0, 0))

  private def metaOf(payload: Array[Byte]) = {
    val s = spark
    import s.implicits._
    Seq(Tuple1(payload)).toDF("p")
      .select(graft.operators.Multimodal.videoMeta(col("p")).as("m"))
      .select(col("m.format"), col("m.major_brand"),
        col("m.duration_ms"), col("m.width"), col("m.height"))
      .head()
  }

  test("mp4: brand, mvhd duration, tkhd dimensions") {
    val r = metaOf(mp4)
    assert(r.getString(0) == "mp4")
    assert(r.getString(1) == "isom")
    assert(r.getLong(2) == 5000L)
    assert(r.getInt(3) == 640 && r.getInt(4) == 360)
  }

  test("mp4: mvhd version 1 (64-bit duration) parses") {
    val r = metaOf(mp4V1)
    assert(r.getString(0) == "mp4")
    assert(r.getString(1) == "mp42")
    assert(r.getLong(2) == 1200L * 1000 / 600)
    assert(r.isNullAt(3) && r.isNullAt(4)) // no trak
  }

  test("matroska: EBML magic identified, parameters null") {
    val r = metaOf(mkv)
    assert(r.getString(0) == "matroska")
    (1 to 4).foreach(i => assert(r.isNullAt(i)))
  }

  test("corrupt and truncated payloads degrade, never throw") {
    val cases = Seq(
      mp4.take(12),                 // ftyp cut short
      mp4.take(40),                 // moov truncated
      bytes(u32(16) ++ cc("ftyp")), // size says 16, bytes end at 8
      bytes(u32(7) ++ cc("ftyp") ++ Seq.fill(8)(0)), // size < header
      Array.empty[Byte],
      bytes(Seq(1, 2, 3, 4, 5, 6, 7, 8)))
    cases.foreach { payload =>
      val r = metaOf(payload)
      assert(Seq("mp4", "matroska", "unknown").contains(r.getString(0)))
    }
  }

  test("text bytes are unknown") {
    val r = metaOf("ordinary document text here".getBytes("UTF-8"))
    assert(r.getString(0) == "unknown")
  }
}
