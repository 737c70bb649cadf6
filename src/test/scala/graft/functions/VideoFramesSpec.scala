package graft.functions

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** Frame hashes over real decoded AVI payloads: analytically known
  * per-frame dHashes, agreement with the BMP image hasher on
  * identical pixels, bottom-up/top-down and 24/32bpp layouts,
  * non-frame chunk skipping, refusal paths, and a never-throw fuzz
  * sweep.
  */
class VideoFramesSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  /** Hand-assembled uncompressed AVI: grayscale frames (B=G=R=luma,
    * so the decoded luma equals the input grid exactly), standard
    * hdrl/strl/strf layout, one 00db chunk per frame.
    */
  private def avi(frames: Seq[Array[Int]], w: Int, h: Int,
                  bpp: Int = 24, topDown: Boolean = false,
                  compression: Int = 0,
                  extraChunk: Option[Array[Byte]] = None)
      : Array[Byte] = {
    val px = bpp / 8
    val stride = ((bpp * w + 31) / 32) * 4
    val frameLen = stride * h
    val strh = new Array[Byte](56)
    "vids".getBytes("US-ASCII").copyToArray(strh, 0)
    val strf = java.nio.ByteBuffer.allocate(40)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strf.putInt(40).putInt(w).putInt(if (topDown) -h else h)
      .putShort(1).putShort(bpp.toShort).putInt(compression)
      .putInt(frameLen).putInt(0).putInt(0).putInt(0).putInt(0)
    val avih = new Array[Byte](56)
    val strlLen = 4 + (8 + 56) + (8 + 40)
    val hdrlLen = 4 + (8 + 56) + (8 + strlLen)
    val extra = extraChunk.map(c => 8 + c.length + (c.length & 1))
      .getOrElse(0)
    val moviLen = 4 + extra +
      frames.map(_ => 8 + frameLen).sum
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
    val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    ascii("RIFF"); bb.putInt(riffLen); ascii("AVI ")
    ascii("LIST"); bb.putInt(hdrlLen); ascii("hdrl")
    ascii("avih"); bb.putInt(56); bb.put(avih)
    ascii("LIST"); bb.putInt(strlLen); ascii("strl")
    ascii("strh"); bb.putInt(56); bb.put(strh)
    ascii("strf"); bb.putInt(40); bb.put(strf.array())
    ascii("LIST"); bb.putInt(moviLen); ascii("movi")
    extraChunk.foreach { c =>
      ascii("01wb"); bb.putInt(c.length); bb.put(c)
      if ((c.length & 1) == 1) bb.put(0.toByte)
    }
    for (f <- frames) {
      ascii("00db"); bb.putInt(frameLen)
      for (y <- 0 until h) {
        val srcRow = if (topDown) y else h - 1 - y
        for (x <- 0 until w) {
          val l = f(srcRow * w + x).toByte
          bb.put(l).put(l).put(l)
          if (px == 4) bb.put(0.toByte)
        }
        for (_ <- 0 until stride - px * w) bb.put(0.toByte)
      }
    }
    bb.array()
  }

  /** Independent dHash replay for a 9×8 luma grid (no downsample —
    * the grid IS the image).
    */
  private def dhash98(g: Array[Int]): Long =
    (for (y <- 0 until 8; x <- 0 until 8
          if g(y * 9 + x + 1) > g(y * 9 + x))
      yield 1L << (y * 8 + x)).foldLeft(0L)(_ | _)

  private def hashesOf(bytes: Array[Byte]): Option[Seq[(Int, Long)]] = {
    val s = spark
    import s.implicits._
    val r = Seq(Tuple1(bytes)).toDF("p")
      .select(graft.operators.Multimodal.videoFrameHashes(col("p"))
        .as("fh")).collect().head
    if (r.isNullAt(0)) None
    else Some(r.getSeq[org.apache.spark.sql.Row](0)
      .map(fr => (fr.getInt(0), fr.getLong(1))))
  }

  private def grid(seed: Int): Array[Int] =
    Array.tabulate(72)(i => ((seed * 37 + i * 13) % 199))

  test("analytic per-frame dHashes in stream order") {
    val frames = Seq(grid(1), grid(2), grid(1))
    assert(hashesOf(avi(frames, 9, 8)) ===
      Some(frames.zipWithIndex.map { case (g, i) => (i, dhash98(g)) }))
  }

  test("frame hashes agree with the BMP image hasher on identical " +
      "pixels; top-down and 32bpp layouts decode identically") {
    val s = spark
    import s.implicits._
    val g = grid(7)
    // the q179-style BMP: same 9x8 grayscale pixels
    def bmp(gr: Array[Int]): Array[Byte] = {
      val stride = ((24 * 9 + 31) / 32) * 4
      val bb = java.nio.ByteBuffer.allocate(54 + stride * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 8)
        .putInt(0).putInt(54).putInt(40).putInt(9).putInt(8)
        .putShort(1).putShort(24).putInt(0).putInt(stride * 8)
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      for (y <- 7 to 0 by -1) {
        for (x <- 0 until 9) {
          val l = gr(y * 9 + x).toByte
          bb.put(l).put(l).put(l)
        }
        for (_ <- 0 until stride - 27) bb.put(0.toByte)
      }
      bb.array()
    }
    val viaImage = Seq(Tuple1(bmp(g))).toDF("p")
      .select(graft.operators.Multimodal.imageDHash(col("p")))
      .collect().head.getLong(0)
    assert(hashesOf(avi(Seq(g), 9, 8)) === Some(Seq((0, viaImage))))
    assert(hashesOf(avi(Seq(g), 9, 8, topDown = true)) ===
      Some(Seq((0, viaImage))))
    assert(hashesOf(avi(Seq(g), 9, 8, bpp = 32)) ===
      Some(Seq((0, viaImage))))
  }

  test("non-frame chunks are walked over without consuming a frame " +
      "index") {
    val frames = Seq(grid(3), grid(4))
    val withAudio = avi(frames, 9, 8,
      extraChunk = Some(Array.fill(33)(0x55.toByte)))
    assert(hashesOf(withAudio) === hashesOf(avi(frames, 9, 8)))
  }

  test("refusals: compressed stream, missing movi, non-AVI bytes — " +
      "null, never a throw") {
    assert(hashesOf(avi(Seq(grid(1)), 9, 8, compression = 1)) === None)
    assert(hashesOf("RIFF....AVI but not really".getBytes("UTF-8"))
      === None)
    assert(hashesOf(Array[Byte]()) === None)
    // a well-formed container with ZERO frames is an empty array,
    // not null — the stream exists, it is just empty
    assert(hashesOf(avi(Seq.empty, 9, 8)) === Some(Seq.empty))
  }

  test("clip-level near-dup: shared-frame counting, looped frames " +
      "counted once, hot frames fall to the bucket guard") {
    val s = spark
    import s.implicits._
    // A and B share hashes 2,3 (B loops 3 — still one shared);
    // C shares only hash 2 with each; 90..92 are unique filler
    val frames = Seq(
      0L -> 1L, 0L -> 2L, 0L -> 3L,
      1L -> 2L, 1L -> 3L, 1L -> 3L, 1L -> 90L,
      2L -> 2L, 2L -> 91L, 2L -> 92L)
      .toDF("id", "dhash")
    val pairs = graft.operators.Dedup
      .videoNearDups(frames, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((0L, 1L, 2L)))
    // hash 2 sits in all three clips: with the guard at 2 it is a
    // hot frame (title-card analogue) and no pair survives on it
    val guarded = graft.operators.Dedup
      .videoNearDups(frames, minShared = 1, maxBucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(guarded.toSeq === Seq((0L, 1L, 1L))) // hash 3 only
  }

  test("fuzz: arbitrary bytes never throw") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val blobs = (0 until 200).map { i =>
      val b = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(b)
      if (i % 2 == 0 && b.length >= 12) {
        "RIFF".getBytes.copyToArray(b, 0)
        "AVI ".getBytes.copyToArray(b, 8)
      }
      Tuple1(b)
    }
    val out = blobs.toDF("p").select(
      graft.operators.Multimodal.videoFrameHashes(col("p")).as("fh"))
      .collect()
    assert(out.length === 200)
  }
}
