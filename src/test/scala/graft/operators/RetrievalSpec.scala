package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** BM25 (deterministic rational variant): lockstep with a
  * single-node reference — same BIGINT products, one IEEE division
  * per term, fixed-order sum — bit-identical scores across
  * partitionings, rare terms outrank common ones, and the ranking
  * behaves like BM25 (tf saturation, length normalization).
  */
class RetrievalSpec extends SparkSuite {
  private def refBm25(corpus: Seq[(Long, String)],
                      terms: Seq[String], k: Int)
      : Seq[(Long, Double, Long)] = {
    val docs = corpus.map { case (id, text) =>
      (id, text.trim.split("\\s+").toSeq)
    }
    val n = docs.size.toLong
    val t = docs.map(_._2.size.toLong).sum
    val dfs = terms.map(term =>
      docs.count(_._2.contains(term)).toLong)
    docs.map { case (id, toks) =>
      val dl = toks.size.toLong
      val score = terms.zip(dfs).foldLeft(0.0) {
        case (acc, (term, df)) =>
          val tf = toks.count(_ == term).toLong
          if (tf == 0L) acc + 0.0
          else {
            val a = 22L * tf * (n - df + 1L) * t
            val b = (df + 1L) *
              (10L * tf * t + 3L * t + 9L * dl * n)
            acc + a.toDouble / b.toDouble
          }
      }
      (id, score, dl)
    }.sortBy { case (id, score, _) => (-score, id) }.take(k)
  }

  private val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(11)
    val common = Seq("data", "rows", "the", "table", "scan")
    (1L to 200L).map { i =>
      val words = (0 until 20 + rnd.nextInt(60)).map { _ =>
        val r = rnd.nextInt(100)
        if (r < 2) "needle"            // rare term
        else if (r < 20) "join"        // mid-frequency
        else common(rnd.nextInt(common.size))
      }
      (i, words.mkString(" "))
    }
  }

  test("scores and ranking match the reference bit-for-bit across " +
      "partitionings") {
    val s = spark
    import s.implicits._
    val terms = Seq("needle", "join", "missing_term")
    val want = refBm25(corpus, terms, 15)
    for (parts <- Seq(1, 3, 8)) {
      val got = Retrieval.bm25TopK(
          corpus.toDF("doc_id", "text").repartition(parts),
          "doc_id", "text", terms, 15)
        .collect().map(r => (r.getLong(0), r.getDouble(1),
          r.getLong(2))).toSeq
      assert(got === want, s"parts=$parts")
    }
  }

  test("a rare term outranks a common term at equal tf") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "needle data data data"),
      (2L, "data needle needle needle"),
      (3L, "data data data data"),
      (4L, "data data data data"),
      (5L, "data data data data")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq("needle", "data"), 5)
      .collect().map(_.getLong(0)).toSeq
    // docs containing the rare term rank first; more needle wins
    assert(got.take(2) === Seq(2L, 1L), got)
  }

  test("tf saturates: 100x term count does not give 100x score") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, (Seq.fill(1)("needle") ++ Seq.fill(99)("x")).mkString(" ")),
      (2L, (Seq.fill(100)("needle")).mkString(" ")),
      (3L, "y y y y")).toDF("doc_id", "text")
    val scores = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq("needle"), 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(2L) > scores(1L))
    assert(scores(2L) < scores(1L) * 5, scores)
  }
}
