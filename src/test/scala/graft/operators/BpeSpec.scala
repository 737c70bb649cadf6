package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** BPE trainer: lockstep with an independent single-node reference
  * implementation (canonical Sennrich-style: word-frequency table,
  * overlapping pair counts, greedy left-to-right merge application,
  * (cnt desc, lhs, rhs) tie-break), across partitionings and on
  * adversarial symbol runs.
  */
class BpeSpec extends SparkSuite {
  // ---- single-node reference -------------------------------------

  private def refChars(w: String): List[String] =
    w.codePoints().toArray.toList
      .map(cp => new String(Character.toChars(cp)))

  private def refApply(l: List[String], lhs: String,
                       rhs: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < l.length) {
      if (i + 1 < l.length && l(i) == lhs && l(i + 1) == rhs) {
        out += (lhs + rhs); i += 2
      } else { out += l(i); i += 1 }
    }
    out.toList
  }

  private def refTrain(corpus: Seq[String], numMerges: Int)
      : Seq[(Int, String, String, String, Long)] = {
    val wf = corpus.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    var vocab: Map[String, (List[String], Long)] =
      wf.map { case (w, f) => w -> (refChars(w), f) }
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 1
    var stop = false
    while (r <= numMerges && !stop) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      vocab.values.foreach { case (l, f) =>
        l.sliding(2).foreach {
          case Seq(a, b) =>
            counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (counts.isEmpty) stop = true
      else {
        val ((lhs, rhs), cnt) = counts.minBy {
          case ((a, b), c) => (-c, a, b)
        }
        rules += ((r, lhs, rhs, lhs + rhs, cnt))
        vocab = vocab.map { case (w, (l, f)) =>
          w -> (refApply(l, lhs, rhs), f)
        }
        r += 1
      }
    }
    rules.toSeq
  }

  // ---- fixtures ---------------------------------------------------

  // adversarial: identical-symbol runs (overlap-vs-greedy), an
  // alternating pattern whose occurrences share delimiters, the
  // classic low/lower/lowest cascade, and a supplementary-plane
  // code point that UTF-16 code-unit splitting would halve
  private val nasty = Seq(
    "low low low lower lower lowest",
    "aaaaa aaa ababab abab",
    "the the the then there them",
    "x😀y x😀y zz zz zz",
    "mississippi mississippi banana bandana",
    "  spaced   out\ttokens  ")

  private def trainDf(corpus: Seq[String], parts: Int, n: Int) = {
    val s = spark
    import s.implicits._
    Bpe.train(corpus.toDF("text").repartition(parts), col("text"), n)
      .orderBy("merge_rank")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSeq
  }

  test("train matches the reference merge table on adversarial " +
      "corpora across partitionings") {
    for (parts <- Seq(1, 3, 7)) {
      assert(trainDf(nasty, parts, 10) === refTrain(nasty, 10),
        s"parts=$parts")
    }
  }

  test("training stops early when no pair remains") {
    val tiny = Seq("a b c")
    // only 4 distinct pairs ever exist; asking for 50 merges ends
    // when every word is a single symbol
    val out = trainDf(tiny, 1, 50)
    assert(out === refTrain(tiny, 50))
    assert(out.size < 50)
    assert(out.map(_._1) === (1 to out.size))
  }

  test("minFreq prunes rare words before the loop") {
    val corpus = Seq("zz zz zz zz", "qq")
    val s = spark
    import s.implicits._
    val out = Bpe.train(corpus.toDF("text"), col("text"),
        numMerges = 3, minFreq = 2L)
      .collect().map(r => (r.getString(1), r.getString(2)))
    // qq appears once -> pruned; only the zz merge survives
    assert(out.toSeq === Seq(("z", "z")))
  }

  test("encode applies trained rules exactly like the reference") {
    val s = spark
    import s.implicits._
    val rules = refTrain(nasty, 8).map(r => (r._2, r._3))
    val got = nasty.toDF("text")
      .select(Bpe.encode(col("text"), rules).as("toks"))
      .collect().map(_.getSeq[String](0).toList)
    val want = nasty.map { line =>
      line.trim.split("\\s+").filter(_.nonEmpty).toList.flatMap { w =>
        rules.foldLeft(refChars(w)) { case (acc, (a, b)) =>
          refApply(acc, a, b)
        }
      }
    }
    assert(got.toSeq === want)
  }

  test("encode of the empty string is the empty token list") {
    val s = spark
    import s.implicits._
    val got = Seq("", "   ").toDF("text")
      .select(Bpe.encode(col("text"), Seq(("a", "b"))).as("toks"))
      .collect().map(_.getSeq[String](0))
    assert(got.forall(_.isEmpty), got.toSeq)
  }
}
