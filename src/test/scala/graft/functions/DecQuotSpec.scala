package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** DecQuotExpr == the legacy `(a - pmod(a, b)) / b` floor-division
  * spelling on its whole contract: non-negative operands (compact
  * longs AND past-long 38-digit decimals), zero divisor → null, and
  * a negative operand raises instead of silently truncating.
  */
class DecQuotSpec extends SparkSuite {
  private val Dec = "decimal(38,0)"

  test("matches the legacy spelling on non-negative decimals") {
    val df = spark.range(1, 2000).selectExpr(
      "cast(id * id * 911 as decimal(38,0)) as a",
      "cast((id % 37) + 1 as decimal(38,0)) as b")
    val legacy = ((col("a") - pmod(col("a"), col("b"))) / col("b"))
      .cast(Dec)
    val got = df.select(
        DecQuotExpr.decQuot(col("a"), col("b")).as("q"),
        legacy.as("l"))
      .where(col("q") =!= col("l") ||
        col("q").isNull =!= col("l").isNull)
    assert(got.count() === 0)
  }

  test("exact past the long fast path (>18-digit operands)") {
    val df = spark.range(1, 50).selectExpr(
      "cast(cast(id as decimal(38,0)) * " +
        "cast(12345678901234567890123456789 as decimal(38,0)) " +
        "as decimal(38,0)) as a",
      "cast(id * 7 + 3 as decimal(38,0)) as b")
    val legacy = ((col("a") - pmod(col("a"), col("b"))) / col("b"))
      .cast(Dec)
    val got = df.select(
        DecQuotExpr.decQuot(col("a"), col("b")).as("q"),
        legacy.as("l"))
      .where(col("q") =!= col("l"))
    assert(got.count() === 0)
  }

  test("zero divisor yields null (the non-ANSI contract)") {
    val row = spark.sql(
      "select cast(7 as decimal(38,0)) a, cast(0 as decimal(38,0)) b")
    val out = row.select(
      DecQuotExpr.decQuot(col("a"), col("b")).as("q")).collect()
    assert(out.head.isNullAt(0))
  }

  test("negative operand raises") {
    val row = spark.sql(
      "select cast(-7 as decimal(38,0)) a, cast(3 as decimal(38,0)) b")
    val e = intercept[Exception] {
      row.select(DecQuotExpr.decQuot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("dec_quot") ||
      Option(e.getCause).exists(_.getMessage.contains("dec_quot")))
  }
}
