package graft.core

import java.time.Instant

import scala.collection.mutable

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential properties: the array-held [[ValueCounter]] and
  * [[Stats]] give exactly what the `Map`-held counter they replace gave
  * — every `Stats` field, `mostCommon`, `mostCommonEnds`, `merge`,
  * `mapKeys`, `remove` and equality — on generated counters of one key
  * kind and of mixed kinds, where `ValueOrdering` ties distinct keys
  * (`true` with `1L`, an `Instant` with its ISO string) or is not
  * transitive (strings against numbers), so only the map's iteration
  * order decides. The oracle is the earlier code, kept below verbatim.
  */
class ValueCounterDiffSpec extends AnyFunSuite {
  import ValueCounterDiffSpec._

  private def forAll[A](gen: Gen[A], n: Int = 400)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val t0 = Instant.parse("2020-01-01T00:00:00Z")

  /** Key pools: one kind each, and mixtures. */
  private val pools: Seq[Vector[Any]] = {
    val longs = (-6L to 6L).toVector
    val doubles = (-8 to 8).map(_ / 2.0).toVector
    val strings = Vector("a", "b", "ab", "ba", "z", "", "1", "10", "9",
      "true", "2020-01-01T01:00:00Z")
    val instants = (0L to 12L).map(h => t0.plusSeconds(h * 3600)).toVector
    val bigs = Vector(BigInt(3), BigInt(2).pow(70), -BigInt(2).pow(64),
      BigInt(Long.MaxValue) + 1)
    val bools = Vector(true, false)
    Seq(longs, doubles, strings, instants, bools, bigs,
      longs :+ null, strings :+ null,
      longs ++ bools, longs ++ doubles ++ bools :+ null,
      longs ++ bigs ++ doubles, doubles :+ Double.NaN,
      strings ++ instants, strings ++ longs, instants ++ instants.map(_.toString),
      longs ++ doubles ++ bools ++ strings ++ instants ++ bigs :+ null)
  }

  /** The values of a counter: 0–50 distinct keys of one pool, each
    * repeated 1–4 times (or all once), shuffled.
    */
  private val valuesGen: Gen[Vector[Any]] = for {
    pool <- Gen.oneOf(pools)
    distinct <- Gen.chooseNum(0, 50)
    keys <- Gen.listOfN(distinct, Gen.oneOf(pool))
    allOnes <- Gen.oneOf(true, false)
    counts <- Gen.listOfN(keys.length,
      if (allOnes) Gen.const(1) else Gen.chooseNum(1, 4))
    seed <- Gen.long
  } yield new scala.util.Random(seed).shuffle(
    keys.zip(counts).flatMap { case (k, c) => Seq.fill(c)(k) }).toVector

  private val pairGen: Gen[(Vector[Any], Vector[Any])] = for {
    a <- valuesGen
    same <- Gen.oneOf(true, false, false)
    b <- if (same) Gen.const(a.reverse) else valuesGen
  } yield (a, b)

  /** The new counter against the oracle's, through every reader.
    * `strict` keys also match in class (`1L` is not `1.0`, `BigInt(3)`
    * not `3L`); without it they match under `==`.
    */
  private def check(got: ValueCounter, want: OldCounter, what: String,
                    strict: Boolean = true): Unit = {
    def same(a: Any, b: Any): Boolean =
      a == b && (!strict || a == null || a.getClass == b.getClass)
    def sameEntries(a: Seq[(Any, Long)], b: Seq[(Any, Long)]) =
      a.length == b.length && a.zip(b).forall {
        case ((k1, c1), (k2, c2)) => same(k1, k2) && c1 == c2 }
    val clue = s"$what: ${want.counts}"
    assert(got.counts == want.counts, clue)
    assert(got.distinct == want.counts.size && got.total == want.total,
      clue)
    assert(sameEntries(got.mostCommon, want.mostCommon), clue)
    (1 to 4).foreach { n =>
      val (h1, t1) = got.mostCommonEnds(n)
      val (h2, t2) = want.mostCommonEnds(n)
      assert(sameEntries(h1, h2) && sameEntries(t1, t2), s"n=$n $clue")
    }
    if (!want.counts.isEmpty) {
      val s = Stats.fromCounter(got)
      val o = OldStats.fromCounter(want)
      assert(s.card == o.card && same(s.min, o.min) && same(s.q1, o.q1) &&
        same(s.q2, o.q2) && same(s.q3, o.q3) && same(s.max, o.max) &&
        s.unique == o.unique, s"$clue\n$s\n$o")
    }
  }

  test("from and apply agree with the map-held counter") {
    forAll(valuesGen) { vs =>
      val want = OldCounter.from(vs)
      check(ValueCounter.from(vs), want, "from")
      check(ValueCounter(want.counts), want, "apply")
    }
  }

  test("merge (and Stats.merge) agree with the map-held counter") {
    forAll(pairGen) { case (a, b) =>
      val (na, nb) = (ValueCounter.from(a), ValueCounter.from(b))
      val (oa, ob) = (OldCounter.from(a), OldCounter.from(b))
      check(na.merge(nb), oa.merge(ob), "merge")
      check(nb.merge(na), ob.merge(oa), "merge reversed")
      check(na.merge(nb).merge(na), oa.merge(ob).merge(oa), "merge thrice")
      if (a.nonEmpty && b.nonEmpty) {
        // Stats.merge of exact samples is fromCounter of the merged one
        val s = Stats.fromCounter(na).merge(Stats.fromCounter(nb))
        assert(s == Stats.fromCounter(na.merge(nb)))
        assert(OldStats.merge(OldStats.fromCounter(oa),
          OldStats.fromCounter(ob)) == OldStats.fromCounter(oa.merge(ob)))
      }
    }
  }

  test("mapKeys and remove agree with the map-held counter") {
    val fs: Seq[Any => Any] = Seq(
      identity,
      k => if (k == null) null else k.toString,
      k => if (k == null) null else k.toString.length.toLong)
    // keys that collide under `==` across classes (a halved 2L and a
    // key 1.0) sum under the first in key order, where the map-held
    // counter kept the first in its iteration order
    val halve: Any => Any = {
      case l: Long => l / 2
      case s: String => s.take(1)
      case other => other
    }
    forAll(valuesGen) { vs =>
      val (n, o) = (ValueCounter.from(vs), OldCounter.from(vs))
      fs.zipWithIndex.foreach { case (f, i) =>
        check(n.mapKeys(f), o.mapKeys(f), s"mapKeys #$i")
      }
      check(n.mapKeys(halve), o.mapKeys(halve), "mapKeys halve",
        strict = false)
      (vs.take(2) :+ null :+ "absent").foreach { k =>
        check(n.remove(k), o.remove(k), s"remove $k")
      }
    }
  }

  test("equality and hashCode agree with the map-held counter") {
    forAll(pairGen) { case (a, b) =>
      val (na, nb) = (ValueCounter.from(a), ValueCounter.from(b))
      val (oa, ob) = (OldCounter.from(a), OldCounter.from(b))
      assert((na == nb) == (oa == ob), s"${oa.counts} vs ${ob.counts}")
      if (na == nb) assert(na.hashCode == nb.hashCode)
      assert(na == ValueCounter(oa.counts))
      assert(na.hashCode == ValueCounter(oa.counts).hashCode)
      if (a.nonEmpty && b.nonEmpty)
        assert((Stats.fromCounter(na) == Stats.fromCounter(nb)) ==
          (oa == ob))
    }
  }
}

object ValueCounterDiffSpec {

  /** The counter as a boxed immutable `Map`, as it was held before. */
  final case class OldCounter(counts: Map[Any, Long]) {
    def total: Long = counts.valuesIterator.sum

    def merge(other: OldCounter): OldCounter = {
      val m = scala.collection.mutable.HashMap.from(counts)
      other.counts.foreach { case (k, v) =>
        m.update(k, m.getOrElse(k, 0L) + v)
      }
      OldCounter(m.toMap)
    }

    def remove(value: Any): OldCounter = OldCounter(counts - value)

    def mostCommon: Seq[(Any, Long)] =
      counts.toSeq.sortBy { case (v, c) => (-c, v) }(
        Ordering.Tuple2(Ordering.Long, ValueOrdering))

    def mostCommonEnds(n: Int): (Seq[(Any, Long)], Seq[(Any, Long)]) =
      if (counts.size <= 2 * n) (mostCommon, Seq.empty)
      else {
        val first = mutable.PriorityQueue.empty[Ranked](rank)
        val last = mutable.PriorityQueue.empty[Ranked](rank.reverse)
        def offer(q: mutable.PriorityQueue[Ranked], r: Ranked): Unit =
          if (q.size < n) q += r
          else if (q.ord.lt(r, q.head)) { q.dequeue(); q += r }
        var i = 0
        counts.foreach { e =>
          val r = (e, i)
          offer(first, r)
          offer(last, r)
          i += 1
        }
        def inOrder(q: mutable.PriorityQueue[Ranked]) =
          q.toSeq.sorted(rank).map(_._1)
        (inOrder(first), inOrder(last))
      }

    def sortedKeys: Seq[Any] = counts.keys.toSeq.sorted(ValueOrdering)

    def mapKeys(f: Any => Any): OldCounter = {
      val m = scala.collection.mutable.HashMap.empty[Any, Long]
      counts.foreach { case (k, v) =>
        val k2 = f(k)
        m.update(k2, m.getOrElse(k2, 0L) + v)
      }
      OldCounter(m.toMap)
    }
  }

  object OldCounter {
    def from(values: IterableOnce[Any]): OldCounter = {
      val m = scala.collection.mutable.HashMap.empty[Any, Long]
      values.iterator.foreach { v => m.update(v, m.getOrElse(v, 0L) + 1L) }
      OldCounter(m.toMap)
    }
  }

  private type Ranked = ((Any, Long), Int)
  private val rank: Ordering[Ranked] = (a, b) => {
    val byCount = java.lang.Long.compare(b._1._2, a._1._2)
    if (byCount != 0) byCount
    else {
      val byValue = ValueOrdering.compare(a._1._1, b._1._1)
      if (byValue != 0) byValue else Integer.compare(a._2, b._2)
    }
  }

  final case class OldStats(sample: Option[OldCounter], card: Long,
                            min: Any, q1: Any, q2: Any, q3: Any,
                            max: Any, unique: Boolean)

  object OldStats {
    def fromCounter(sample: OldCounter): OldStats = {
      val keys = sample.sortedKeys
      val card = sample.total
      val indexes = Array(0L, card / 4, card / 2, 3 * card / 4)
      val summary = scala.collection.mutable.ArrayBuffer.empty[Any]
      var index = 0L
      val it = keys.iterator
      while (it.hasNext && summary.length < indexes.length) {
        val key = it.next()
        while (summary.length < indexes.length &&
               index >= indexes(summary.length)) {
          summary += key
        }
        index += sample.counts(key)
      }
      while (summary.length < 4) summary += keys.last
      val unique = sample.counts.valuesIterator.max == 1L
      OldStats(Some(sample), card, summary(0), summary(1), summary(2),
        summary(3), keys.last, unique)
    }

    def merge(a: OldStats, b: OldStats): OldStats =
      fromCounter(a.sample.get.merge(b.sample.get))
  }
}
