package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** EM vocabulary refinement in lockstep with an independent
  * single-node reference: substring counting, Viterbi with the
  * smallest-winning-k tie-break, frequency-weighted usage masses,
  * the single-piece coverage floor, and the smoothed re-score —
  * every map entry compared exactly.
  */
class UnigramEmSpec extends SparkSuite {
  // ---- independent single-node reference --------------------------
  private def bits(n: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(n)

  private def refWordFreqs(docs: Seq[String]): Map[String, Long] =
    docs.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  private def refV0(wf: Map[String, Long], maxK: Int,
                    minCount: Long): Map[String, Long] = {
    val cnt = collection.mutable.Map.empty[String, Long]
    wf.foreach { case (w, f) =>
      for (i <- 0 until w.length; k <- 1 to maxK
           if i + k <= w.length)
        cnt(w.substring(i, i + k)) =
          cnt.getOrElse(w.substring(i, i + k), 0L) + f
    }
    val kept = cnt.filter(_._2 >= minCount)
    val t = kept.values.sum
    kept.map { case (p, c) =>
      p -> ((bits(t) - bits(c) + 1L) * 64L + 1L)
    }.toMap
  }

  /** Viterbi with the pinned tie-break: scan k ascending, strict
    * improvement only.
    */
  private def refSegment(w: String, vocab: Map[String, Long],
                         maxK: Int): Option[Seq[String]] = {
    val n = w.length
    val INF = Long.MaxValue
    val best = Array.fill(n + 1)(INF)
    val back = new Array[Int](n + 1)
    best(0) = 0L
    for (i <- 1 to n; k <- 1 to math.min(maxK, i)) {
      if (best(i - k) != INF) {
        vocab.get(w.substring(i - k, i)).foreach { c =>
          if (best(i - k) + c < best(i)) {
            best(i) = best(i - k) + c
            back(i) = k
          }
        }
      }
    }
    if (best(n) == INF) None
    else {
      var j = n
      val out = Seq.newBuilder[String]
      while (j > 0) { out += w.substring(j - back(j), j); j -= back(j) }
      Some(out.result().reverse)
    }
  }

  private def refEmRound(wf: Map[String, Long],
                         v0: Map[String, Long], maxK: Int,
                         emMinMass: Long): Map[String, Long] = {
    val usage = collection.mutable.Map.empty[String, Long]
    wf.foreach { case (w, f) =>
      if (w.length <= 60)
        refSegment(w, v0, maxK).foreach(_.foreach(p =>
          usage(p) = usage.getOrElse(p, 0L) + f))
    }
    val kept = v0.keys.filter(p =>
      usage.getOrElse(p, 0L) >= emMinMass ||
        p.codePointCount(0, p.length) == 1).toSeq
    val masses = kept.map(p => p -> (usage.getOrElse(p, 0L) + 1L))
    val t1 = masses.map(_._2).sum
    masses.map { case (p, m) =>
      p -> ((bits(t1) - bits(m) + 1L) * 64L + 1L)
    }.toMap
  }

  // a corpus engineered so EM actually prunes: overlapping substring
  // counts admit pieces ("bc", "cd") the Viterbi never uses once
  // "abcd"/"ab" dominate
  private val docs: Seq[String] = Seq(
    "abcd abcd abcd abcd abcd ab ab ab cd cd",
    "abcd ab cd abcd ab xyxy xyxy xy xy",
    "zz zz zz zq zq zq qqq qqq")

  test("one EM round equals the single-node reference exactly") {
    val s = spark
    import s.implicits._
    val df = docs.toDF("text")
    val words = Unigram.wordFreqs(df, col("text"))
    for (em <- 0 to 2) {
      val engine = Unigram.vocabulary(words, maxPieceLen = 4,
        minCount = 2L, emRounds = em, emMinMass = 2L)
      val wf = refWordFreqs(docs)
      var ref = refV0(wf, 4, 2L)
      for (_ <- 1 to em) ref = refEmRound(wf, ref, 4, 2L)
      assert(engine === ref, s"emRounds=$em")
    }
  }

  test("EM prunes unused pieces but keeps the single-char floor, " +
      "and refined segmentations stay optimal under the new costs") {
    val s = spark
    import s.implicits._
    val df = docs.toDF("text")
    val words = Unigram.wordFreqs(df, col("text"))
    val v0 = Unigram.vocabulary(words, maxPieceLen = 4,
      minCount = 2L, emRounds = 0, emMinMass = 2L)
    val v1 = Unigram.vocabulary(words, maxPieceLen = 4,
      minCount = 2L, emRounds = 1, emMinMass = 2L)
    assert(v1.keySet.subsetOf(v0.keySet))
    assert(v1.size < v0.size, "EM pruned nothing on the fixture")
    // every single-char v0 piece survives (the coverage floor)
    assert(v0.keySet.filter(_.length == 1).subsetOf(v1.keySet))
    // and words stay segmentable
    val seg = Unigram.segmented(words, col("w"), v1, 4, 60)
      .where(col("seg").isNull).count()
    assert(seg == 0L)
  }

  test("segmentCensus defaults to the EM-refined vocabulary") {
    val s = spark
    import s.implicits._
    val df = docs.toDF("text")
    val words = Unigram.wordFreqs(df, col("text"))
    val v1 = Unigram.vocabulary(words, maxPieceLen = 4,
      minCount = 2L, emRounds = 1, emMinMass = 2L)
    val wf = refWordFreqs(docs)
    val expected = wf.toSeq.map { case (w, f) =>
      (refSegment(w, v1, 4).map(_.length), f)
    }.groupBy(_._1).map { case (np, g) =>
      np -> (g.size.toLong, g.map(_._2).sum)
    }
    val got = Unigram.segmentCensus(df, col("text"),
        maxPieceLen = 4, minCount = 2L)
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0).toInt)) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
  }
}
