package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** DSIR hashed importance weights: feature extraction (unigrams +
  * bigrams), the whole-bit log-ratio algebra on hand-built corpora,
  * and the target-like/raw-like sign behavior.
  */
class DsirSpec extends SparkSuite {
  test("feature rows: unigrams plus bigrams, singletons get no bigram, empties drop") {
    val s = spark
    import s.implicits._
    val rows = LangModel.hashedFeatureRows(
      Seq((1L, "a b c"), (2L, "solo"), (3L, ""), (4L, "   "))
        .toDF("id", "text"),
      col("text"), b = 64, Seq(col("id")))
    val byId = rows.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "a b c" → 3 unigrams + 2 bigrams; "solo" → 1 unigram;
    // "" and whitespace-only → nothing
    assert(byId == Map(1L -> 5L, 2L -> 1L))
    val buckets = rows.select("bucket").collect().map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 64))
  }

  test("target-vocab doc scores positive, raw-vocab doc negative") {
    val s = spark
    import s.implicits._
    // disjoint vocabularies so bucket collisions (b large) are
    // overwhelmingly unlikely to matter directionally
    val target = Seq("tt uu tt uu tt", "uu tt uu").toDF("text")
    val raw = Seq("rr ss rr ss", "ss rr ss rr rr").toDF("text")
    val scoredIn = Seq(
      (1L, "tt uu tt"),  // pure target vocab
      (2L, "rr ss rr")   // pure raw vocab
    ).toDF("id", "text")
    val got = LangModel.importanceBits(target, raw, scoredIn,
        Seq(col("id")), col("text"), b = 4096)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_features"), r.getAs[Long]("wbits"))).toMap
    assert(got(1L)._1 == 5L && got(2L)._1 == 5L)
    assert(got(1L)._2 > 0L, s"target-like doc got ${got(1L)._2}")
    assert(got(2L)._2 < 0L, s"raw-like doc got ${got(2L)._2}")
  }

  test("whole-bit algebra matches the hand formula on one feature") {
    val s = spark
    import s.implicits._
    // one-token docs → a single unigram feature each. Target has
    // "zq" 3 times, raw has "zq" once → for a scored doc "zq":
    // w = fl2(3+1) − fl2(1+1) + fl2(N_r+b) − fl2(N_t+b)
    //   = 2 − 1 + fl2(1+8) − fl2(3+8) = 1 + 3 − 3 = 1
    val target = Seq("zq", "zq", "zq").toDF("text")
    val raw = Seq("zq").toDF("text")
    val got = LangModel.importanceBits(target, raw,
        Seq((9L, "zq")).toDF("id", "text"),
        Seq(col("id")), col("text"), b = 8)
      .collect().head
    assert(got.getAs[Long]("n_features") == 1L)
    assert(got.getAs[Long]("wbits") == 1L)
  }
}
