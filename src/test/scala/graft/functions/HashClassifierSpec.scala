package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Feature-hashing classifier: the folded score equals a single-node
  * reimplementation token by token, is insensitive to surrounding
  * whitespace, and stays a projection (no exchange in the plan).
  */
class HashClassifierSpec extends SparkSuite {
  private def refWeight(tok: String, buckets: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(tok.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    val b = java.lang.Long.parseLong(hex, 16) % buckets
    (b * 2654435761L) % 2001L - 1000L
  }

  private def refScore(text: String, buckets: Long): Long =
    text.trim.split("\\s+", -1).map(refWeight(_, buckets)).sum

  test("score matches the single-node reference per document") {
    val s = spark
    import s.implicits._
    val texts = Seq("hello world foo", "zig", "one two three four",
      "  padded   tokens  ", "MiXeD Case tokens!")
    val got = texts.toDF("text")
      .select(col("text"),
        TextFunctions.hashClassifierScore(col("text"), 64)
          .as("score"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    texts.foreach { t =>
      assert(got(t) === refScore(t, 64L), s"text=[$t]")
    }
  }

  test("bucket count changes the model") {
    val s = spark
    import s.implicits._
    val df = Seq("hello world foo").toDF("text")
    val a = df.select(TextFunctions.hashClassifierScore(col("text"),
      64)).collect()(0).getLong(0)
    val b = df.select(TextFunctions.hashClassifierScore(col("text"),
      128)).collect()(0).getLong(0)
    assert(a === refScore("hello world foo", 64L))
    assert(b === refScore("hello world foo", 128L))
  }

  test("projection only: no exchange in the physical plan") {
    val s = spark
    import s.implicits._
    val plan = Seq("a b c").toDF("text")
      .select(TextFunctions.hashClassifierScore(col("text"), 64))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }
}
