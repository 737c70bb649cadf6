package graft.core

import java.time.Instant

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential properties: the heap-based `mostCommonEnds` and the
  * max-count `Stats.unique` equal what a full `mostCommon` sort gives,
  * on generated counters full of ties — equal counts, and distinct keys
  * that `ValueOrdering` calls equal (`true` and `1L`, an `Instant` and
  * its ISO string), where only iteration order decides.
  */
class ValueCounterEndsSpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 400)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  /** Small numerics of three types: `true`/`false` tie with `1`/`0`,
    * `1.0` with `1L` (a `Map` keeps only one of those two).
    */
  private val numericKey: Gen[Any] = Gen.oneOf(
    Gen.chooseNum(-4L, 4L),
    Gen.chooseNum(-8, 8).map(_ / 2.0),
    Gen.oneOf(true, false),
    Gen.const(null))

  /** Strings and whole-second `Instant`s: `ValueOrdering` compares the
    * two through `toString`, so an instant ties with its ISO string.
    */
  private val textKey: Gen[Any] = {
    val instant = Gen.chooseNum(0L, 40L)
      .map(h => Instant.parse("2020-01-01T00:00:00Z").plusSeconds(h * 3600))
    Gen.oneOf(
      Gen.oneOf("a", "b", "ab", "ba", "z", ""),
      instant,
      instant.map(_.toString))
  }

  private val counterGen: Gen[ValueCounter] = for {
    key <- Gen.oneOf(numericKey, textKey)
    distinct <- Gen.chooseNum(0, 50)
    keys <- Gen.listOfN(distinct, key)
    allOnes <- Gen.oneOf(true, false)
    counts <- Gen.listOfN(keys.length,
      if (allOnes) Gen.const(1L) else Gen.chooseNum(1L, 4L))
  } yield ValueCounter(keys.zip(counts).toMap)

  test("mostCommonEnds equals the ends of the full mostCommon sort") {
    forAll(counterGen) { c =>
      val common = c.mostCommon
      (1 to 4).foreach { n =>
        val expected =
          if (common.length > 2 * n)
            (common.take(n), common.takeRight(n))
          else (common, Seq.empty)
        assert(c.mostCommonEnds(n) == expected, s"n=$n counts=${c.counts}")
      }
    }
  }

  test("the display switch stays at more than six distinct values") {
    forAll(counterGen) { c =>
      val (head, tail) = c.mostCommonEnds(3)
      if (c.distinct > 6) assert(head.length == 3 && tail.length == 3)
      else assert(head.length == c.distinct && tail.isEmpty)
    }
  }

  test("Stats.unique is whether the most common count is 1") {
    forAll(counterGen.suchThat(!_.isEmpty)) { c =>
      assert(Stats.fromCounter(c).unique ==
        c.mostCommon.headOption.forall(_._2 == 1L), c.counts)
    }
  }
}
