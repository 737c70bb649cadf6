package graft.functions

import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkSuite}

/** Perceptual hashes over real decoded BMP pixels: analytically
  * known dHash/aHash values, downsample exactness (2×2 block image
  * equals its 9×8 twin), bottom-up/top-down and 24/32bpp agreement,
  * refusal paths (non-BMP, compressed, too small, truncated), the
  * banded near-dup join's pigeonhole completeness, and a never-throw
  * fuzz sweep.
  */
class ImageHashSpec extends SparkSuite {
  override protected def session = LocalSession(2)

  /** Hand-assembled uncompressed BMP (BITMAPINFOHEADER) with
    * R=G=B=luma(x,y) — the decoder's (299R+587G+114B)/1000 then
    * recovers luma exactly.
    */
  private def bmp(w: Int, h: Int, luma: (Int, Int) => Int,
                  topDown: Boolean = false,
                  bpp: Int = 24): Array[Byte] = {
    val stride = ((bpp * w + 31) / 32) * 4
    val size = 54 + stride * h
    val buf = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(size)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(if (topDown) -h else h)
      .putShort(1).putShort(bpp.toShort).putInt(0)
      .putInt(stride * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    for (row <- 0 until h) {
      val y = if (topDown) row else h - 1 - row
      for (x <- 0 until w) {
        val v = (luma(x, y) & 0xff).toByte
        buf.put(v).put(v).put(v)
        if (bpp == 32) buf.put(0.toByte)
      }
      var pad = stride - w * (bpp / 8)
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
    }
    buf.array()
  }

  private def dhash(b: Array[Byte]): java.lang.Long =
    ImageHash.dhashBoxed(b)
  private def ahash(b: Array[Byte]): java.lang.Long =
    ImageHash.ahashBoxed(b)

  test("dHash: strictly increasing luma sets all 64 bits, " +
      "decreasing sets none, constant sets none") {
    assert(dhash(bmp(9, 8, (x, _) => x * 10)) === -1L)
    assert(dhash(bmp(9, 8, (x, _) => (8 - x) * 10)) === 0L)
    assert(dhash(bmp(9, 8, (_, _) => 128)) === 0L)
  }

  test("aHash: a left-dark/right-bright 8x8 pins the exact mask; " +
      "constant luma sets no bits") {
    // luma 30x: row sum 840, avg floor 6720/64 = 105; bits where
    // 30x > 105 <=> x >= 4 -> byte 0xF0 per row
    val expected =
      java.lang.Long.parseUnsignedLong("F0F0F0F0F0F0F0F0", 16)
    assert(ahash(bmp(8, 8, (x, _) => x * 30)) === expected)
    assert(ahash(bmp(8, 8, (_, _) => 77)) === 0L)
  }

  test("downsample exactness: an 18x16 image of 2x2 blocks dHashes " +
      "identically to its 9x8 twin (the 9x8 grid aligns with the " +
      "blocks; aHash's 8x8 boxes deliberately do not divide 18)") {
    def f(x: Int, y: Int): Int = (x * 37 + y * 13 + 5) % 200
    val small = bmp(9, 8, f)
    val big = bmp(18, 16, (x, y) => f(x / 2, y / 2))
    assert(dhash(big) === dhash(small))
  }

  test("orientation and depth invariance: top-down == bottom-up, " +
      "32bpp == 24bpp") {
    def f(x: Int, y: Int): Int = (x * 31 + y * 17) % 256
    val base = bmp(9, 8, f)
    assert(dhash(bmp(9, 8, f, topDown = true)) === dhash(base))
    assert(dhash(bmp(9, 8, f, bpp = 32)) === dhash(base))
    assert(ahash(bmp(9, 8, f, topDown = true)) === ahash(base))
  }

  test("refusals: non-BMP, compressed, smaller than the grid, and " +
      "truncated pixel data are null — aHash accepts 8x8 where " +
      "dHash needs 9 columns") {
    assert(dhash("not an image".getBytes) === null)
    val eightWide = bmp(8, 8, (x, _) => x * 10)
    assert(dhash(eightWide) === null)
    assert(ahash(eightWide) !== null)
    assert(ahash(bmp(7, 8, (x, _) => x)) === null)
    val compressed = bmp(9, 8, (_, _) => 1)
    compressed(30) = 1 // biCompression = BI_RLE8
    assert(dhash(compressed) === null)
    val truncated = bmp(9, 8, (_, _) => 1).take(60)
    assert(dhash(truncated) === null)
  }

  test("fuzz: arbitrary bytes never throw (native expression, " +
      "whole column)") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 300).map { i =>
      val n = rnd.nextInt(200)
      val arr = new Array[Byte](n)
      rnd.nextBytes(arr)
      // bias some towards the BMP magic so header paths get hit
      if (i % 3 == 0 && n >= 2) { arr(0) = 'B'; arr(1) = 'M' }
      Tuple1(arr)
    }
    val s = spark
    import s.implicits._
    val out = rows.toDF("b")
      .select(ImageHash.imageDHash(col("b")).as("d"),
        ImageHash.imageAHash(col("b")).as("a"))
      .collect()
    assert(out.length === 300)
  }

  test("imageNearDups: banded join + exact verify finds exactly the " +
      "pairs within the radius (pigeonhole completeness)") {
    val s = spark
    import s.implicits._
    val base = java.lang.Long.parseUnsignedLong("0123456789ABCDEF", 16)
    def flip(k: Int): Long = // flip the k lowest of 64 spread bits
      (0 until k).foldLeft(base)((h, i) => h ^ (1L << (i * 7)))
    // distances from id 0: 0, 1, 3, 4, 5, 6 bits
    val hs = Seq(0L -> base, 1L -> flip(1), 2L -> flip(3),
      3L -> flip(4), 4L -> flip(5), 5L -> flip(6))
      .toDF("id", "dhash")
    val got = graft.operators.Dedup.imageNearDups(hs, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // brute-force expectation
    val m = Seq(base, flip(1), flip(3), flip(4), flip(5), flip(6))
    val want = (for {
      i <- m.indices; j <- m.indices if i < j
      d = java.lang.Long.bitCount(m(i) ^ m(j)) if d <= 4
    } yield (i.toLong, j.toLong, d.toLong)).toSet
    assert(got === want)
    assert(want.exists(_._3 === 4)) // the radius boundary is hit
    assert(want.size < m.size * (m.size - 1) / 2) // and some pruned
  }

  test("imageHashes drops undecodable rows and keeps both hashes") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, bmp(9, 8, (x, y) => (x * 11 + y) % 256)),
      (2L, "plain text".getBytes),
      (3L, bmp(18, 16, (x, y) => ((x / 2) * 11 + y / 2) % 256)))
      .toDF("id", "payload")
    val got = graft.operators.Dedup
      .imageHashes(rows, col("id"), col("payload"))
      .orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(got.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }
}
