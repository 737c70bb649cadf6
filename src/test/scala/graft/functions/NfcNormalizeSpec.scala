package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** Native NFC normalization: the canonical composition cases, the
  * already-normalized fast path (must return the SAME UTF8String),
  * null flow through codegen, and a fuzz sweep against
  * java.text.Normalizer directly on arbitrary codepoint soup.
  */
class NfcNormalizeSpec extends SparkSuite {
  test("composes decomposed sequences, preserves NFC input") {
    // e + combining acute → é; A + ring → Å; plain ASCII untouched
    assert(NfcNormalizeExpr.compute(
      UTF8String.fromString("Café")).toString == "Café")
    assert(NfcNormalizeExpr.compute(
      UTF8String.fromString("Ångstrom")).toString ==
      "Ångstrom")
    val plain = UTF8String.fromString("plain ascii")
    // fast path: identical reference back, no reallocation
    assert(NfcNormalizeExpr.compute(plain) eq plain)
  }

  test("codegen path in a DataFrame: normalization + null flow") {
    val s = spark
    import s.implicits._
    val got = Seq(Some("Café"), Some("ok"), None)
      .toDF("t")
      .select(NfcNormalizeExpr.nfcNormalize(col("t")).as("n"),
        length(NfcNormalizeExpr.nfcNormalize(col("t"))).as("len"))
      .collect()
    assert(got(0).getString(0) == "Café" && got(0).getInt(1) == 4)
    assert(got(1).getString(0) == "ok")
    assert(got(2).isNullAt(0) && got(2).isNullAt(1))
  }

  test("fuzz: agrees with java.text.Normalizer on codepoint soup") {
    val cpGen: Gen[Int] = Gen.oneOf(
      Gen.choose(0x20, 0x7e),          // ASCII
      Gen.choose(0x300, 0x36f),        // combining diacriticals
      Gen.choose(0xc0, 0x17f),         // Latin-1/Extended-A (precomposed)
      Gen.choose(0x1e00, 0x1eff),      // Latin Extended Additional
      Gen.choose(0xac00, 0xd7a3),      // Hangul syllables (NFC-relevant)
      Gen.choose(0x1100, 0x1112),      // Hangul jamo leads
      Gen.choose(0x1161, 0x1175),      // Hangul jamo vowels
      Gen.choose(0x1f600, 0x1f64f))    // supplementary plane
    val strGen: Gen[String] = Gen.listOf(cpGen)
      .map(_.flatMap(Character.toChars(_)).mkString)
    (0 until 2000).foreach { i =>
      strGen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach {
        str =>
          val got = NfcNormalizeExpr.compute(
            UTF8String.fromString(str)).toString
          val want = Normalizer.normalize(str, Normalizer.Form.NFC)
          assert(got == want, s"mismatch on seed $i")
      }
    }
  }
}
