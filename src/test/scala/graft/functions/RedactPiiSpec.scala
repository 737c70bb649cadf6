package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The fused native redaction ([[RedactPiiExpr]]) is byte-identical
  * to the nested `regexp_replace` fold ([[TextFunctions
  * .redactPiiFold]] — what the oracle replays), including the
  * adversarial overlap cases where a combined-alternation regex
  * would DIFFER from the sequential fold (a later-priority pattern
  * starting before an earlier-priority match must not swallow its
  * prefix).
  */
class RedactPiiSpec extends SparkSuite {
  private val cases = Seq(
    "",
    "no pii at all",
    "mail me at user@example.com today",
    "ssn 123-45-6789 and phone +1 555 123 4567 and 10.0.0.1",
    // a phone-shaped digit run ends right where an email's digit
    // local part begins: the sequential fold redacts the email
    // FIRST, so the phone pass sees '012345678 [EMAIL]' — a naive
    // alternation would let the phone swallow the email's '9'
    "012345678 9@x.com",
    // SSN inside a longer phone-shaped run: emails, then SSNs claim
    // their span before phones see the rest
    "call 22 123-45-6789 22",
    // ip overlapping phone digits
    "1.2.3.4 5678901234",
    // adjacent matches and multiple occurrences per category
    "a@b.co c@d.ee 1.1.1.1 2.2.2.2 111-22-3333 444-55-6666",
    // unicode around matches (UTF-16 handling)
    "héllo user@example.com wörld 987-65-4321",
    // tags must not re-match (later passes see earlier tags)
    "[EMAIL] 123-45-6789 [PHONE]",
    // long digit runs with separators
    "+49 170 1234567 and 00 11 22 33 44 55")

  test("native fused redaction == nested regexp_replace fold") {
    val sp = spark; import sp.implicits._
    val df = cases.toDF("t")
    val bad = df.select(col("t"),
        TextFunctions.redactPii(col("t")).as("native"),
        TextFunctions.redactPiiFold(col("t")).as("fold"))
      .where(!(col("native") <=> col("fold")))
      .collect()
    assert(bad.isEmpty, bad.map(_.toString).mkString("\n"))
  }

  test("null passes through as null") {
    val sp = spark; import sp.implicits._
    val df = Seq[Option[String]](None).toDF("t")
    val r = df.select(TextFunctions.redactPii(col("t"))).head()
    assert(r.isNullAt(0))
  }

  test("driver-side fuzz: random digit/at/dot soup stays identical") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "0123456789@.- ab+"
    val soup = (0 until 300).map(_ =>
      (0 until rnd.nextInt(60)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = soup.toDF("t")
    val bad = df.select(
        TextFunctions.redactPii(col("t")).as("native"),
        TextFunctions.redactPiiFold(col("t")).as("fold"))
      .where(!(col("native") <=> col("fold")))
      .count()
    assert(bad == 0)
  }
}
