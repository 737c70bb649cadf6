package graft.functions

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** Audio content features over real decoded PCM: analytically known
  * fingerprints/stats, the channel-0 and chunk-walk conventions,
  * volume-scaling invariance, refusal paths (non-PCM encodings,
  * truncated data, too short), the banded near-dup join on
  * fingerprints, and a never-throw fuzz sweep.
  */
class AudioPcmSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  /** Hand-assembled PCM WAV: interleaved channel samples, optional
    * junk chunk before fmt (exercises the walk), optional format
    * code / bit-depth overrides (exercises the refusals).
    */
  private def wav(channels: Seq[Array[Int]], fmtCode: Int = 1,
                  bits: Int = 16, junkChunk: Boolean = false,
                  truncateData: Int = 0): Array[Byte] = {
    val ch = channels.length
    val n = channels.head.length
    val bytesPerSample = 2
    val dataLen = n * ch * bytesPerSample - truncateData
    val junk = if (junkChunk) 8 + 7 + 1 else 0 // odd len + pad
    val riffLen = 4 + junk + (8 + 16) + (8 + dataLen)
    val bb = java.nio.ByteBuffer
      .allocate(8 + riffLen + truncateData.max(0))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(s: String): Unit = bb.put(
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    ascii("RIFF"); bb.putInt(riffLen); ascii("WAVE")
    if (junkChunk) {
      ascii("LIST"); bb.putInt(7)
      bb.put(Array.fill(8)(0x6a.toByte)) // 7 bytes + 1 pad
    }
    ascii("fmt "); bb.putInt(16)
    bb.putShort(fmtCode.toShort).putShort(ch.toShort)
    bb.putInt(8000).putInt(8000 * ch * bytesPerSample)
    bb.putShort((ch * bytesPerSample).toShort).putShort(bits.toShort)
    ascii("data"); bb.putInt(dataLen)
    var i = 0
    var written = 0
    val cap = dataLen
    while (i < n && written < cap) {
      var c = 0
      while (c < ch && written < cap) {
        bb.putShort(channels(c)(i).toShort)
        written += 2
        c += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  /** 65 windows × `per` samples of a square wave at window
    * amplitudes `amp(k)` — |s| = amp(k) everywhere in window k, so
    * E_k = per · amp(k) exactly.
    */
  private def squareClip(per: Int)(amp: Int => Int): Array[Int] =
    Array.tabulate(65 * per) { i =>
      val a = amp(i / per)
      if (i % 2 == 0) a else -a
    }

  private def expectedFp(amp: Int => Int): Long =
    (0 until 64).foldLeft(0L)((h, k) =>
      if (amp(k + 1) > amp(k)) h | (1L << k) else h)

  private def fpOf(bytes: Array[Byte]): Option[Long] = {
    val s = spark
    import s.implicits._
    Seq(Tuple1(bytes)).toDF("p")
      .select(graft.operators.Multimodal.audioFingerprint(col("p")))
      .collect().headOption.flatMap(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0)))
  }

  test("analytic fingerprint and stats on a known energy envelope") {
    val s = spark
    import s.implicits._
    // amplitudes: rising, falling, flat and silent stretches
    val amp = (k: Int) =>
      if (k < 10) 100 * (k + 1)               // rising
      else if (k < 20) 1000 - 100 * (k - 10)  // falling to 100
      else if (k < 30) 400                    // flat: strict > fails
      else if (k < 40) 0                      // silent windows
      else 5000
    val clip = wav(Seq(squareClip(100)(amp)))
    assert(fpOf(clip) === Some(expectedFp(amp)))
    val st = Seq(Tuple1(clip)).toDF("p")
      .select(graft.operators.Multimodal.audioStats(col("p")).as("s"))
      .select("s.n_samples", "s.peak", "s.silent_windows")
      .collect().head
    assert(st.getLong(0) === 65L * 100)
    assert(st.getInt(1) === 5000)
    // silent = windows whose amplitude sits under the 328 threshold
    // (computed from the same formula, not hand-counted)
    val silentExpected = (0 until 65).count(k => amp(k) < 328)
    assert(st.getInt(2) === silentExpected)
  }

  test("volume scaling never changes the fingerprint; a single " +
      "window edit moves it by at most 2 bits") {
    val amp = (k: Int) => 200 + ((k * 37) % 700)
    val fp1 = fpOf(wav(Seq(squareClip(40)(amp)))).get
    val fp3 = fpOf(wav(Seq(squareClip(40)(k => 3 * amp(k))))).get
    assert(fp1 === fp3)
    val edited =
      fpOf(wav(Seq(squareClip(40)(k => if (k == 20) 0 else amp(k)))))
        .get
    assert(java.lang.Long.bitCount(fp1 ^ edited) <= 2)
    assert(java.lang.Long.bitCount(fp1 ^ edited) >= 1)
  }

  test("channel 0 of a stereo stream decides alone; junk chunks and " +
      "pad bytes are walked over") {
    val amp = (k: Int) => 100 + 10 * k
    val c0 = squareClip(10)(amp)
    val noise = Array.tabulate(65 * 10)(i => ((i * 7919) % 3000) - 1500)
    val mono = fpOf(wav(Seq(c0)))
    assert(mono.isDefined)
    assert(fpOf(wav(Seq(c0, noise))) === mono)
    assert(fpOf(wav(Seq(c0), junkChunk = true)) === mono)
  }

  test("refusals: float/8-bit encodings, truncated data, too-short " +
      "clips, non-WAV bytes — null, never a throw") {
    val c = squareClip(2)(k => 500)
    assert(fpOf(wav(Seq(c), fmtCode = 3)) === None) // IEEE float
    assert(fpOf(wav(Seq(c), bits = 8)) === None)
    assert(fpOf(wav(Seq(c), truncateData = -4)) === None) // data past EOF
    assert(fpOf(wav(Seq(Array.fill(64)(100)))) === None) // 64 < 65
    assert(fpOf("not audio at all".getBytes("UTF-8")) === None)
    assert(fpOf(Array[Byte]()) === None)
  }

  test("banded near-dup join on fingerprints: in-family pairs " +
      "found, cross-family kept apart") {
    val s = spark
    import s.implicits._
    // 3 families × 3 variants: each family gets an independent
    // pseudorandom energy envelope (cross-family fingerprints are
    // then ~32 bits apart); variant v silences one window, moving
    // at most 2 bits from its family base
    val famAmp: Map[Int, IndexedSeq[Int]] = (0 until 3).map { f =>
      val r = new scala.util.Random(1000 + f)
      f -> IndexedSeq.fill(65)(300 + r.nextInt(2000))
    }.toMap
    val clips = for {
      f <- 0 until 3
      v <- 0 until 3
    } yield (f * 3 + v, wav(Seq(squareClip(20) { k =>
      if (v > 0 && k == v * 11) 0 else famAmp(f)(k)
    })))
    val hashes = clips.toDF("id", "p")
      .select(col("id"),
        graft.operators.Multimodal.audioFingerprint(col("p"))
          .as("fp"))
    val pairs = graft.operators.Dedup
      .hammingNearDups(hashes, "fp", maxHamming = 4)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    for (f <- 0 until 3; a <- 0 until 3; b <- a + 1 until 3)
      assert(pairs.contains((f * 3 + a, f * 3 + b)),
        s"family $f variants $a,$b should be near-dups")
    assert(pairs.forall { case (a, b) => a / 3 === b / 3 },
      "no cross-family pair may survive the exact verify")
  }

  test("fuzz: arbitrary bytes never throw through either expression") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val blobs = (0 until 200).map { i =>
      val b = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(b)
      // half get plausible magic prefixes to reach deeper branches
      if (i % 2 == 0 && b.length >= 12) {
        "RIFF".getBytes.copyToArray(b, 0)
        "WAVE".getBytes.copyToArray(b, 8)
      }
      Tuple1(b)
    }
    val out = blobs.toDF("p").select(
      graft.operators.Multimodal.audioFingerprint(col("p")).as("f"),
      graft.operators.Multimodal.audioStats(col("p")).as("st"))
      .collect()
    assert(out.length === 200)
  }
}
