package graft.core

import java.time.Instant

import scala.collection.mutable

/** Ordering over the dynamic scalar values the engine tracks: Long,
  * Double (numerics compare cross-type), Boolean, String, Instant, null
  * (sorts first). Mirrors Python's comparison semantics used by the
  * reference's sorted() calls over homogeneous samples.
  */
object ValueOrdering extends Ordering[Any] {
  private def numeric(a: Any): Option[Double] = a match {
    case b: Boolean => Some(if (b) 1d else 0d)
    case i: Int     => Some(i.toDouble)
    case l: Long    => Some(l.toDouble)
    case f: Float   => Some(f.toDouble)
    case d: Double  => Some(d)
    case b: BigInt  => Some(b.doubleValue)
    case _          => None
  }

  def compare(a: Any, b: Any): Int = (a, b) match {
    case (null, null)             => 0
    case (null, _)                => -1
    case (_, null)                => 1
    case (x: Long, y: Long)       => java.lang.Long.compare(x, y)
    // exact integer comparisons for unbounded ints (Python-int parity)
    case (x: BigInt, y: BigInt)   => x.compare(y)
    case (x: BigInt, y: Long)     => x.compare(BigInt(y))
    case (x: Long, y: BigInt)     => BigInt(x).compare(y)
    case (x: String, y: String)   => x.compareTo(y)
    case (x: Instant, y: Instant) => x.compareTo(y)
    case _ =>
      (numeric(a), numeric(b)) match {
        case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
        case _                  => a.toString.compareTo(b.toString)
      }
  }
}

/** An immutable value → frequency multiset — the universal carrier of
  * samples in the engine, equivalent in role to the reference's
  * FrozenCounter (structa collections.py:11-101). Addition merges
  * counts; `mostCommon` orders by descending count (ties: by value, for
  * determinism — the reference inherits dict insertion order, which is
  * not reproducible under distributed merges, so we canonicalize).
  */
final case class ValueCounter(counts: Map[Any, Long]) {
  def isEmpty: Boolean = counts.isEmpty
  def distinct: Int = counts.size
  def total: Long = counts.valuesIterator.sum

  def merge(other: ValueCounter): ValueCounter = {
    val m = scala.collection.mutable.HashMap.from(counts)
    other.counts.foreach { case (k, v) =>
      m.update(k, m.getOrElse(k, 0L) + v)
    }
    ValueCounter(m.toMap)
  }

  def add(value: Any, count: Long = 1): ValueCounter =
    ValueCounter(counts.updated(value, counts.getOrElse(value, 0L) + count))

  def remove(value: Any): ValueCounter = ValueCounter(counts - value)

  def mostCommon: Seq[(Any, Long)] =
    counts.toSeq.sortBy { case (v, c) => (-c, v) }(
      Ordering.Tuple2(Ordering.Long, ValueOrdering))

  /** What a sample display shows of [[mostCommon]]: every entry as the
    * first half when there are at most `2 * n`, else its first `n` and
    * its last `n` entries. Two heaps of `n` pick the ends in one pass,
    * so no display sorts the whole counter. Ties under `ValueOrdering`
    * (which calls `1L`, `1.0` and `true` equal) keep iteration order,
    * as the stable sort in `mostCommon` does.
    */
  def mostCommonEnds(n: Int): (Seq[(Any, Long)], Seq[(Any, Long)]) =
    if (counts.size <= 2 * n) (mostCommon, Seq.empty)
    else {
      import ValueCounter.{Ranked, rank}
      val first = mutable.PriorityQueue.empty[Ranked](rank)
      val last = mutable.PriorityQueue.empty[Ranked](rank.reverse)
      // a heap's head is the kept entry farthest from the heap's end of
      // the order; an entry nearer to that end replaces it
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

  def mapKeys(f: Any => Any): ValueCounter = {
    val m = scala.collection.mutable.HashMap.empty[Any, Long]
    counts.foreach { case (k, v) =>
      val k2 = f(k)
      m.update(k2, m.getOrElse(k2, 0L) + v)
    }
    ValueCounter(m.toMap)
  }
}

object ValueCounter {
  val empty: ValueCounter = ValueCounter(Map.empty)

  /** An entry and its iteration index, ordered as [[mostCommon]] lists
    * entries: descending count, then `ValueOrdering`, then index.
    */
  private type Ranked = ((Any, Long), Int)
  private val rank: Ordering[Ranked] = (a, b) => {
    val byCount = java.lang.Long.compare(b._1._2, a._1._2)
    if (byCount != 0) byCount
    else {
      val byValue = ValueOrdering.compare(a._1._1, b._1._1)
      if (byValue != 0) byValue else Integer.compare(a._2, b._2)
    }
  }

  def from(values: IterableOnce[Any]): ValueCounter = {
    val m = scala.collection.mutable.HashMap.empty[Any, Long]
    values.iterator.foreach { v => m.update(v, m.getOrElse(v, 0L) + 1L) }
    ValueCounter(m.toMap)
  }
}
