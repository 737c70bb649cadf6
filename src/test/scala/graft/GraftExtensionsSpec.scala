package graft

import org.apache.spark.sql.functions._

/** SQL function registration via SparkSessionExtensions: every
  * registered name resolves in spark.sql, produces the SAME result
  * as the Column API (same Catalyst expression underneath), and the
  * literal-parameter guard rejects non-literal sizing args.
  */
class GraftExtensionsSpec extends SparkSuite {
  override protected def session =
    LocalSession(4).withExtensions(new GraftExtensions)

  test("every registered function resolves in SQL") {
    val s = spark
    import s.implicits._
    Seq("one small doc", "another doc here")
      .toDF("text").createOrReplaceTempView("exts_docs")
    val row = spark.sql(
      """SELECT simhash32(text) AS sh,
        |       nfc_normalize(text) AS nfc,
        |       html_extract(text) AS he,
        |       min_hash_sig(text, 2, 4) AS mh,
        |       winnow_fingerprints(text, 2, 3) AS wf,
        |       word_shingles(text, 2) AS ws,
        |       pos_shingle_digests(split(trim(text), '\\s+'), 2)
        |         AS ps,
        |       top_ngram(text, 2) AS tg
        |FROM exts_docs""".stripMargin).collect()
    assert(row.length == 2)
    val agg = spark.sql(
      """SELECT quartiles_agg(CAST(x AS DOUBLE)) AS q,
        |       space_saving(CAST(x AS STRING), 4) AS ss,
        |       char_class_agg(CAST(x AS STRING)) AS cc
        |FROM (VALUES (1), (2), (3), (4), (5)) AS t(x)""".stripMargin)
      .collect()
    assert(agg.length == 1)
  }

  test("SQL and Column API build the same expression") {
    val s = spark
    import s.implicits._
    val df = Seq("alpha beta gamma delta", "beta beta beta")
      .toDF("text")
    df.createOrReplaceTempView("exts_cmp")
    val viaSql = spark.sql(
      "SELECT simhash32(text) AS h FROM exts_cmp")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = df.select(
        graft.functions.SimHashExpr.simHashNative(col("text")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCol)
    // and the numeric binary one
    val dq = spark.sql(
      "SELECT dot_q(CAST(array(1.0, 2.0, 3.0) AS array<float>), " +
        "CAST(array(4.0, 5.0, 6.0) AS array<float>)) AS d")
      .collect().head
    assert(!dq.isNullAt(0))
  }

  test("sizing parameters must be literals") {
    val s = spark
    import s.implicits._
    Seq(("x y z", 2)).toDF("text", "k")
      .createOrReplaceTempView("exts_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT word_shingles(text, k) FROM exts_bad")
        .collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("integer literal"))
  }

  test("media headers parse through SQL") {
    // a minimal GIF89a header: 12x7 logical screen
    val gifHex = "474946383961" + "0c00" + "0700" + "000000"
    val r = spark.sql(
      s"SELECT image_meta(unhex('$gifHex')) AS m").collect().head
    val m = r.getStruct(0)
    assert(m.getAs[String]("format") == "gif")
    assert(m.getAs[Int]("width") == 12 && m.getAs[Int]("height") == 7)
  }
}
