package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Token-window chunking (q123). Pins: exact chunk boundaries and
  * text on a hand-built document; the overlap stitching law
  * (chunk i's trailing overlap tokens == chunk i+1's leading
  * ones); the census coverage/stitching gates; the single-token
  * and shorter-than-chunk edge cases; and parameter validation.
  */
class ChunkingSpec extends SparkSuite {
  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact chunk boundaries and text on a 10-token document, " +
      "chunkSize=4 overlap=1") {
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val got = Chunking.tokenChunks(docs(1L -> text), col("doc_id"),
        col("text"), chunkSize = 4, overlap = 1)
      .orderBy(col("chunk_idx"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toList
    assert(got == List(
      (0L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 3L, 4L, "t4 t5 t6 t7"),
      (2L, 6L, 4L, "t7 t8 t9 t10")))
  }

  test("the overlap stitching law holds on a long document") {
    val text = (1 to 157).map(i => s"w$i").mkString(" ")
    val chunks = Chunking.tokenChunks(docs(1L -> text),
        col("doc_id"), col("text"), chunkSize = 64, overlap = 16)
      .orderBy(col("chunk_idx"))
      .collect().map(_.getString(4).split(" ").toList).toList
    chunks.sliding(2).foreach {
      case List(a, b) => assert(a.takeRight(16) == b.take(16))
      case _          =>
    }
    // full coverage: stitching the chunks minus overlaps rebuilds
    // the document exactly
    val rebuilt = chunks.head ++
      chunks.tail.flatMap(_.drop(16))
    assert(rebuilt == text.split(" ").toList)
  }

  test("documents shorter than a chunk produce one exact chunk; " +
      "census gates hold") {
    val df = docs(1L -> "a b c", 2L -> "solo",
      3L -> (1 to 200).map(i => s"x$i").mkString(" "))
    val census = Chunking.chunkCensus(df.withColumn("src", lit("s")),
        col("src"), col("doc_id"), col("text"), 64, 16)
      .collect()(0)
    assert(census.getLong(1) == 3L)          // n_docs
    assert(census.getBoolean(4), "covered_ok")
    assert(census.getBoolean(5), "stitch_ok")
    val one = Chunking.tokenChunks(docs(1L -> "a b c"),
      col("doc_id"), col("text"), 64, 16).collect()
    assert(one.length == 1 && one(0).getString(4) == "a b c")
  }

  test("parameter validation rejects overlap >= chunkSize") {
    intercept[IllegalArgumentException] {
      Chunking.tokenChunks(docs(1L -> "a"), col("doc_id"),
        col("text"), chunkSize = 4, overlap = 4)
    }
  }
}
