package graft.functions

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** Real-bytes audio header decode: hand-assembled WAV / FLAC / MP3 /
  * OGG headers per the public specs, plus corrupt/truncated payloads
  * that must degrade to nulls, never throw.
  */
class AudioMetaSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** Canonical PCM WAV: fmt (2ch, 44100 Hz, 16-bit) + 88200-byte
    * data chunk = 500 ms at the 176400 B/s byte rate.
    */
  private val wav: Array[Byte] =
    b('R', 'I', 'F', 'F', 0, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0,
      1, 0,                    // PCM
      2, 0,                    // channels
      0x44, 0xAC, 0, 0,        // 44100
      0x10, 0xB1, 0x02, 0,     // byte rate 176400
      4, 0,                    // block align
      16, 0,                   // bits
      'd', 'a', 't', 'a', 0x88, 0x58, 0x01, 0x00) // 88200 bytes

  /** WAV with an unknown chunk BEFORE fmt — the walk must skip it. */
  private val wavSkip: Array[Byte] =
    b('R', 'I', 'F', 'F', 0, 0, 0, 0, 'W', 'A', 'V', 'E',
      'J', 'U', 'N', 'K', 4, 0, 0, 0, 9, 9, 9, 9,
      'f', 'm', 't', ' ', 16, 0, 0, 0,
      1, 0, 1, 0,              // PCM, mono
      0x80, 0x3E, 0, 0,        // 16000
      0x00, 0x7D, 0, 0,        // byte rate 32000
      2, 0, 16, 0,
      'd', 'a', 't', 'a', 0x00, 0x7D, 0x00, 0x00) // 32000 = 1000 ms

  /** FLAC STREAMINFO: 44100 Hz, 2ch, 16-bit, 22050 samples = 500 ms. */
  private val flac: Array[Byte] =
    b('f', 'L', 'a', 'C',
      0x00, 0x00, 0x00, 0x22,          // STREAMINFO, len 34
      0x10, 0x00, 0x10, 0x00,          // min/max blocksize
      0, 0, 0, 0, 0, 0,                // min/max framesize
      0x0A, 0xC4, 0x42, 0xF0,          // sr 44100, ch 2, bps 16
      0x00, 0x00, 0x56, 0x22,          // total samples 22050
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) // md5

  /** Raw MPEG1 Layer-III frame sync: 44100 Hz stereo. */
  private val mp3: Array[Byte] = b(0xff, 0xfb, 0x90, 0x00)

  /** ID3v2-tagged mp3: 4-byte tag body then the same frame. */
  private val mp3Id3: Array[Byte] =
    b('I', 'D', '3', 3, 0, 0, 0, 0, 0, 4,
      1, 2, 3, 4,
      0xff, 0xfb, 0x90, 0x00)

  private val ogg: Array[Byte] =
    b('O', 'g', 'g', 'S', 0, 2, 0, 0, 0, 0)

  private def metaOf(payload: Array[Byte]) = {
    val s = spark
    import s.implicits._
    Seq(Tuple1(payload)).toDF("p")
      .select(graft.operators.Multimodal.audioMeta(col("p")).as("m"))
      .select(col("m.format"), col("m.channels"),
        col("m.sample_rate"), col("m.bits_per_sample"),
        col("m.duration_ms"))
      .head()
  }

  test("wav: fmt + data chunks parsed, duration exact") {
    val r = metaOf(wav)
    assert(r.getString(0) == "wav")
    assert(r.getInt(1) == 2 && r.getInt(2) == 44100 &&
      r.getInt(3) == 16)
    assert(r.getLong(4) == 500L)
  }

  test("wav: unknown chunks are skipped by their length fields") {
    val r = metaOf(wavSkip)
    assert(r.getString(0) == "wav")
    assert(r.getInt(1) == 1 && r.getInt(2) == 16000 &&
      r.getInt(3) == 16)
    assert(r.getLong(4) == 1000L)
  }

  test("flac: STREAMINFO bit-unpacking is exact") {
    val r = metaOf(flac)
    assert(r.getString(0) == "flac")
    assert(r.getInt(1) == 2 && r.getInt(2) == 44100 &&
      r.getInt(3) == 16)
    assert(r.getLong(4) == 500L)
  }

  test("mp3: bare frame sync and ID3-tagged frame both decode") {
    for (payload <- Seq(mp3, mp3Id3)) {
      val r = metaOf(payload)
      assert(r.getString(0) == "mp3", r)
      assert(r.getInt(1) == 2 && r.getInt(2) == 44100)
      assert(r.isNullAt(3) && r.isNullAt(4))
    }
  }

  test("ogg: container identified, parameters null") {
    val r = metaOf(ogg)
    assert(r.getString(0) == "ogg")
    (1 to 4).foreach(i => assert(r.isNullAt(i)))
  }

  test("corrupt and truncated payloads degrade to nulls, never throw") {
    val cases = Seq(
      b('R', 'I', 'F', 'F', 0, 0, 0, 0, 'W', 'A', 'V', 'E'), // no fmt
      wav.take(20),                   // truncated mid-fmt
      b('f', 'L', 'a', 'C', 0x00),    // truncated flac
      flac.take(17),                  // streaminfo cut short
      b('I', 'D', '3', 3, 0, 0, 0x7f, 0x7f, 0x7f, 0x7f), // huge tag
      b(0xff, 0xe0, 0, 0),            // reserved version sync
      b('O', 'g'),                    // too short for any magic
      Array.empty[Byte],
      b(1, 2, 3, 4, 5, 6, 7, 8))
    cases.foreach { payload =>
      val r = metaOf(payload)
      val fmt = r.getString(0)
      assert(Seq("wav", "flac", "mp3", "ogg", "unknown").contains(fmt))
      // whatever the sniff says, a corrupt body must yield nulls
      if (fmt != "unknown")
        assert((1 to 4).forall(r.isNullAt), (fmt, r))
    }
  }

  test("text bytes are unknown (utf-8 cannot contain a frame sync)") {
    val r = metaOf("ordinary document text".getBytes("UTF-8"))
    assert(r.getString(0) == "unknown")
  }
}
