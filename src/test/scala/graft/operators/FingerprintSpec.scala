package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.SparkSuite

/** Winnowing (MOSS) fingerprints: the expression is pinned against a
  * plain-Scala reference implementation of the same recurrence, the
  * published guarantee (shared substring of length >= w+k-1 implies a
  * shared fingerprint) is exercised, and the pair join's threshold and
  * hot-bucket guard are tripped on controlled fixtures.
  */
class FingerprintSpec extends SparkSuite {
  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  /** The ORACLE's canon, formulated independently of the engine's
    * single-pass version: space-only trim (DuckDB `trim`), simple
    * per-codepoint lowercase (utf8proc `lower`), RE2's `\s` class
    * spelled out (`[\t\n\f\r ]` — no \x0B), then the `_` fold.
    */
  private def duckCanon(text: String): String = {
    val trimmed = text.dropWhile(_ == ' ')
      .reverse.dropWhile(_ == ' ').reverse
    val sb = new java.lang.StringBuilder(trimmed.length)
    trimmed.codePoints().forEach(cp =>
      sb.appendCodePoint(Character.toLowerCase(cp)))
    sb.toString
      .replaceAll("[\\t\\n\\f\\r ]+", " ")
      .replaceAll("[^a-z0-9 ]", "_")
  }

  /** The same algorithm in plain Scala: canon, Horner rolling hashes
    * of k-grams (mod at every step), window-min, distinct, sorted.
    */
  private def refFps(text: String, k: Int, w: Int): Seq[Long] = {
    val t = duckCanon(text)
    if (t.length < k + w - 1) Seq.empty
    else {
      val hs = (0 to t.length - k).map { i =>
        t.substring(i, i + k)
          .foldLeft(0L)((a, c) => (a * 257L + c.toInt) % 2147483647L)
      }
      (0 to hs.length - w).map(i => hs.slice(i, i + w).min)
        .distinct.sorted
    }
  }

  private def engineFps(text: String, k: Int, w: Int): Seq[Long] =
    docs(1L -> text)
      .select(TextFunctions.winnowFingerprints(col("text"), k, w)
        .as("fps"))
      .head().getSeq[Long](0)

  test("winnow fingerprints match the plain-Scala reference") {
    val samples = Seq(
      "The quick brown fox jumps over the lazy dog, twice!",
      "lorem ipsum DOLOR sit amet,   consectetur adipiscing elit",
      "abcdefghij" * 5,
      "numbers 123 and 456 mixed with text & symbols #@!",
      "exactly-fifteen.")
    for (s <- samples; (k, w) <- Seq((8, 4), (16, 8), (4, 2)))
      assert(engineFps(s, k, w) == refFps(s, k, w),
        s"mismatch for k=$k w=$w text='$s'")
  }

  test("canon matches the oracle engine's semantics at the edges " +
      "Java strings get wrong") {
    import graft.functions.WinnowFpExpr.canon
    // leading/trailing tabs and newlines survive trim (space-only)
    // and collapse to ONE space — Java trim would eat them
    assert(canon("\tHello\nWorld ") == " hello world")
    assert(canon("\n\nabc") == " abc")
    assert(canon("abc\t") == "abc ")
    // vertical tab is NOT RE2 whitespace -> '_', not collapsed
    assert(canon("a\u000bb") == "a_b")
    // non-ASCII uppercase: simple lowercase first, then the fold;
    // Turkish dotted capital I maps 1:1 to 'i' (Java's full
    // lowercasing emits i + combining dot and shifts every k-gram)
    assert(canon("İstanbul ÉCOLE") == "istanbul _cole")
    // Kelvin sign simple-lowercases to ASCII 'k'
    assert(canon("273K") == "273k")
    // all-whitespace input canons to a single space
    assert(canon(" \n ") == " ")
    // and the engine expression agrees with the independent oracle
    // mirror end-to-end on exactly these shapes
    for (t <- Seq("\tshared sentence with a leading tab here ok!",
        "a\u000bvertical tab breaks the run but not the gram wall",
        "İSTANBUL ÉCOLE sentence with non-ascii capitals"))
      assert(engineFps(t, 8, 4) == refFps(t, 8, 4), s"text='$t'")
  }

  test("documents shorter than k+w-1 canon chars get empty sets") {
    assert(engineFps("short doc", 8, 4).isEmpty) // 9 < 11
    assert(engineFps("", 8, 4).isEmpty)
    assert(engineFps("   ", 8, 4).isEmpty)
    // exactly k+w-1 chars -> exactly one window -> one fingerprint
    assert(engineFps("abcdefghijk", 8, 4).length == 1)
    val r = docs(1L -> null.asInstanceOf[String])
      .select(TextFunctions.winnowFingerprints(col("text"), 8, 4))
      .head().getSeq[Long](0)
    assert(r.isEmpty)
  }

  test("shared substring of length >= w+k-1 shares a fingerprint") {
    val shared = "this exact sentence appears verbatim in both docs"
    val a = "unique preamble alpha beta. " + shared + " tail one"
    val b = "completely different opening words! " + shared + " xyz"
    val Seq(fa, fb) =
      Seq(a, b).map(t => engineFps(t, 16, 8).toSet)
    assert(fa.intersect(fb).nonEmpty)
    // and canon-insensitivity: case/punct variants fingerprint equal
    assert(engineFps(shared.toUpperCase, 16, 8) ==
      engineFps(shared, 16, 8))
  }

  test("winnowPairs finds overlap pairs and honors minShared") {
    val boiler = ("all rights reserved copyright notice terms of " +
      "service apply to this document in full") // long shared block
    val df = docs(
      1L -> ("doc one original content here. " + boiler),
      2L -> ("second document, other words. " + boiler),
      3L -> "totally unrelated text with nothing shared at all okay")
    val pairs = Dedup.winnowPairs(df, col("doc_id"), col("text"),
      k = 16, w = 8, minShared = 3).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id1") == 1L)
    assert(pairs.head.getAs[Long]("id2") == 2L)
    val shared = pairs.head.getAs[Long]("shared")
    assert(shared >= 3L)
    // a threshold above the observed overlap filters the pair out
    assert(Dedup.winnowPairs(df, col("doc_id"), col("text"),
      k = 16, w = 8, minShared = shared.toInt + 1).isEmpty)
  }

  test("winnowPairs hot-bucket cap drops ubiquitous fingerprints") {
    val boiler = "shared boilerplate sentence appearing everywhere " +
      "in this tiny corpus of documents"
    val df = docs((1L to 4L).map(i => i -> s"doc $i says: $boiler"): _*)
    // cap 1: every fingerprint lives in >= 2 docs -> all dropped
    assert(Dedup.winnowPairs(df, col("doc_id"), col("text"),
      k = 16, w = 8, minShared = 1, maxBucketSize = 1L).isEmpty)
    // default cap: all C(4,2) pairs surface
    assert(Dedup.winnowPairs(df, col("doc_id"), col("text"),
      k = 16, w = 8, minShared = 1).count() == 6L)
  }

  test("winnowPairs refuses past the priced pair-row budget") {
    val boiler = "shared boilerplate sentence appearing everywhere " +
      "in this tiny corpus of documents"
    val df = docs((1L to 4L).map(i => i -> s"doc $i says: $boiler"): _*)
    val e = intercept[IllegalStateException] {
      Dedup.winnowPairs(df, col("doc_id"), col("text"),
        k = 16, w = 8, minShared = 1, maxPairRows = 1L)
    }
    assert(e.getMessage.contains("maxBucketSize"))
    // fingerprints over the bucket cap do not count toward the price
    // (they are dropped before the join) — cap 1 drops everything,
    // so even budget 1 passes
    assert(Dedup.winnowPairs(df, col("doc_id"), col("text"),
      k = 16, w = 8, minShared = 1, maxBucketSize = 1L,
      maxPairRows = 1L).isEmpty)
  }

  test("winnowPairsFromFps over a parquet-persisted index equals " +
      "the from-text scan") {
    val boiler = ("all rights reserved copyright notice terms of " +
      "service apply to this document in full")
    val df = docs(
      1L -> ("doc one original content here. " + boiler),
      2L -> ("second document, other words. " + boiler),
      3L -> ("third doc quotes it too: " + boiler + " and more"),
      4L -> "totally unrelated text with nothing shared at all okay")
    val dir = tempDir("winnow_idx").toString
    Dedup.winnowDocFps(df, col("doc_id"), col("text"), k = 16, w = 8)
      .write.mode("overwrite").parquet(dir)
    def rows(d: DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromText = rows(Dedup.winnowPairs(df, col("doc_id"),
      col("text"), k = 16, w = 8, minShared = 1))
    val fromIdx = rows(Dedup.winnowPairsFromFps(
      spark.read.parquet(dir), minShared = 1))
    assert(fromText == fromIdx)
    assert(fromText.nonEmpty)
  }

  test("winnowPairsAgainstFps equals the cross-split slice of the " +
      "full self-join and never pairs the corpus with itself") {
    val boiler = ("all rights reserved copyright notice terms of " +
      "service apply to this document in full")
    val df = docs(
      1L -> ("doc one original content here. " + boiler),
      2L -> ("second document, other words. " + boiler),
      3L -> ("third doc quotes it too: " + boiler + " and more"),
      4L -> "totally unrelated text with nothing shared at all okay",
      5L -> ("a fifth one also carries the block " + boiler))
    val isNew = (id: Long) => id % 2 == 1 // 1, 3, 5 new; 2, 4 corpus
    val newFps = Dedup.winnowDocFps(df.where(col("doc_id") % 2 === 1),
      col("doc_id"), col("text"), k = 16, w = 8)
    val oldFps = Dedup.winnowDocFps(df.where(col("doc_id") % 2 === 0),
      col("doc_id"), col("text"), k = 16, w = 8)
    val got = Dedup.winnowPairsAgainstFps(oldFps, newFps,
        minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.forall { case (n, o, _) => isNew(n) && !isNew(o) })
    val want = Dedup.winnowPairs(df, col("doc_id"), col("text"),
        k = 16, w = 8, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) => isNew(a) != isNew(b) }
      .map { case (a, b, s) =>
        if (isNew(a)) (a, b, s) else (b, a, s) }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("winnowPairsAgainstFps refuses past the priced new-vs-old " +
      "budget; over-cap buckets price as zero") {
    val boiler = "shared boilerplate sentence appearing everywhere " +
      "in this tiny corpus of documents"
    // identical texts: every fingerprint lives in EVERY doc of its
    // side, so a per-side cap of 1 drops them all pre-join
    val mk = (ids: Seq[Long]) => Dedup.winnowDocFps(
      docs(ids.map(i => i -> boiler): _*),
      col("doc_id"), col("text"), k = 16, w = 8)
    val newFps = mk(Seq(10L, 11L))
    val oldFps = mk(Seq(1L, 2L, 3L))
    val e = intercept[IllegalStateException] {
      Dedup.winnowPairsAgainstFps(oldFps, newFps, minShared = 1,
        maxPairRows = 1L)
    }
    assert(e.getMessage.contains("maxBucketSize"))
    // cap 1 drops every fingerprint on both sides pre-join, so the
    // priced total is zero and even budget 1 passes (empty result)
    assert(Dedup.winnowPairsAgainstFps(oldFps, newFps, minShared = 1,
      maxBucketSize = 1L, maxPairRows = 1L).isEmpty)
  }

  test("fingerprints are partitioning-independent") {
    val df = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota",
      2L -> "one two three four five six seven eight nine ten")
    val once = Dedup.winnowDocFps(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val re = Dedup.winnowDocFps(df.repartition(7), col("doc_id"),
      col("text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(once == re)
  }
}
