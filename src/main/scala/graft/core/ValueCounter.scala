package graft.core

import java.time.Instant
import java.util.Comparator

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

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
  *
  * Held as two flat arrays: the distinct keys in `ValueOrdering` order
  * and their counts, with the total and the top count computed once.
  * Every reader works off that order: `Stats.fromCounter` reads its
  * order statistics in one scan, `merge` is a linear merge of two
  * sorted runs, `mostCommon` a stable sort by count. Keys compare and
  * merge as `Map[Any, _]` keys do (`1L == 1.0`, the first key seen
  * stays).
  *
  * `ValueOrdering` is a strict order only on keys of one kind and on
  * numerics that a double holds exactly. Elsewhere it ties distinct
  * keys (`true` with `1L`, an `Instant` with its ISO string) and is not
  * transitive (strings against numbers compare by `toString`), so a
  * sort's result depends on the order it is fed. Such a counter is
  * "mixed": it keeps the immutable `Map` built exactly as this class
  * has always built it, takes its key order from that map's iteration
  * order, and answers `mostCommon` from it, so every result stays the
  * one a `Map`-held counter gave.
  */
final class ValueCounter private (
    private val keyArr: Array[Any],
    private val cntArr: Array[Long],
    /** The [[ValueCounter.Kind]] bits of the keys. */
    private[graft] val kinds: Int,
    /** Non-null only for a mixed counter (see above). */
    private val mixed: Map[Any, Long]) extends Serializable {
  import ValueCounter._

  val total: Long = {
    var s = 0L
    var i = 0
    while (i < cntArr.length) { s += cntArr(i); i += 1 }
    s
  }

  /** The largest count; 0 when empty. */
  private[core] val topCount: Long = {
    var m = 0L
    var i = 0
    while (i < cntArr.length) { m = math.max(m, cntArr(i)); i += 1 }
    m
  }

  def isEmpty: Boolean = keyArr.isEmpty
  def distinct: Int = keyArr.length

  /** The distinct keys in `ValueOrdering` order. */
  def keys: IndexedSeq[Any] = ArraySeq.unsafeWrapArray(keyArr)

  private[core] def keyAt(i: Int): Any = keyArr(i)
  private[core] def countAt(i: Int): Long = cntArr(i)

  def foreachEntry(f: (Any, Long) => Unit): Unit = {
    var i = 0
    while (i < keyArr.length) { f(keyArr(i), cntArr(i)); i += 1 }
  }

  /** The count of `key`, 0 when absent. */
  def countOf(key: Any): Long = {
    val i = keyArr.indexWhere(_ == key)
    if (i < 0) 0L else cntArr(i)
  }

  /** A `Map` view, built on each call — for cold callers. */
  def counts: Map[Any, Long] =
    if (mixed != null) mixed
    else {
      val b = Map.newBuilder[Any, Long]
      foreachEntry((k, c) => b += k -> c)
      b.result()
    }

  def merge(other: ValueCounter): ValueCounter =
    if (other.isEmpty) this
    else if (isEmpty) other
    else {
      val linear =
        if (mixed != null || other.mixed != null) null
        else orderFor(kinds | other.kinds) match {
          case null => null
          case order => mergeRuns(other, order)
        }
      if (linear != null) linear
      else {
        val m = mutable.HashMap.from(counts)
        other.counts.foreach { case (k, v) =>
          m.update(k, m.getOrElse(k, 0L) + v)
        }
        ValueCounter(m.toMap)
      }
    }

  /** Linear merge of two sorted runs; null when a key of one side ties
    * a different key of the other (the result is mixed).
    */
  private def mergeRuns(other: ValueCounter,
                        order: Comparator[Any]): ValueCounter = {
    val (ka, ca, kb, cb) = (keyArr, cntArr, other.keyArr, other.cntArr)
    val keys = new Array[Any](ka.length + kb.length)
    val cnts = new Array[Long](keys.length)
    var i = 0
    var j = 0
    var o = 0
    while (i < ka.length && j < kb.length) {
      val c = order.compare(ka(i), kb(j))
      if (c < 0) { keys(o) = ka(i); cnts(o) = ca(i); i += 1 }
      else if (c > 0) { keys(o) = kb(j); cnts(o) = cb(j); j += 1 }
      else if (ka(i) == kb(j)) {
        keys(o) = ka(i); cnts(o) = ca(i) + cb(j); i += 1; j += 1
      } else return null
      o += 1
    }
    while (i < ka.length) { keys(o) = ka(i); cnts(o) = ca(i); i += 1; o += 1 }
    while (j < kb.length) { keys(o) = kb(j); cnts(o) = cb(j); j += 1; o += 1 }
    new ValueCounter(trim(keys, o), trim(cnts, o), kinds | other.kinds,
      null)
  }

  def remove(value: Any): ValueCounter =
    if (mixed != null) ValueCounter(mixed - value)
    else {
      val i = keyArr.indexWhere(_ == value)
      if (i < 0) this
      else {
        val keys = keyArr.patch(i, Nil, 1)
        new ValueCounter(keys, cntArr.patch(i, Nil, 1), kindsOf(keys), null)
      }
    }

  def mostCommon: Seq[(Any, Long)] =
    if (mixed != null)
      mixed.toSeq.sortBy { case (v, c) => (-c, v) }(
        Ordering.Tuple2(Ordering.Long, ValueOrdering))
    else
      // keys are strictly ordered, so a stable sort by count alone
      // breaks ties by value
      keyArr.indices.sortBy(i => -cntArr(i)).map(i => keyArr(i) -> cntArr(i))

  /** What a sample display shows of [[mostCommon]]: every entry as the
    * first half when there are at most `2 * n`, else its first `n` and
    * its last `n` entries. Two heaps of `n` pick the ends in one pass,
    * so no display sorts the whole counter.
    */
  def mostCommonEnds(n: Int): (Seq[(Any, Long)], Seq[(Any, Long)]) =
    if (distinct <= 2 * n) (mostCommon, Seq.empty)
    else if (mixed != null) {
      // ties under `ValueOrdering` keep iteration order, as the stable
      // sort in `mostCommon` does
      val (first, last) = ends(n, mixed.iterator.zipWithIndex, mixedRank)
      (first.map(_._1), last.map(_._1))
    } else {
      val byCount: Ordering[Int] = (a, b) => {
        val c = java.lang.Long.compare(cntArr(b), cntArr(a))
        if (c != 0) c else Integer.compare(a, b)
      }
      val (first, last) = ends(n, keyArr.indices.iterator, byCount)
      (first.map(i => keyArr(i) -> cntArr(i)),
        last.map(i => keyArr(i) -> cntArr(i)))
    }

  /** Keys `f` maps to equal values sum their counts under the first
    * of them in key order.
    */
  def mapKeys(f: Any => Any): ValueCounter = {
    val b = newBuilder(distinct)
    foreachEntry((k, c) => b.add(f(k), c))
    b.result()
  }

  /** Multiset equality, as between the `Map`s of the two counters. */
  override def equals(o: Any): Boolean = o match {
    case that: ValueCounter =>
      (this eq that) || (distinct == that.distinct &&
        total == that.total && (
          if (mixed != null || that.mixed != null) counts == that.counts
          else {
            // equal keys sit at equal positions of two ordered runs
            var i = 0
            while (i < keyArr.length && keyArr(i) == that.keyArr(i) &&
                   cntArr(i) == that.cntArr(i)) i += 1
            i == keyArr.length
          }))
    case _ => false
  }

  override def hashCode: Int = {
    var a, b = 0
    var c = 1
    var i = 0
    while (i < keyArr.length) {
      val h = MurmurHash3.mix(keyArr(i).##, cntArr(i).##)
      a += h; b ^= h; c *= h | 1
      i += 1
    }
    MurmurHash3.finalizeHash(
      MurmurHash3.mixLast(MurmurHash3.mix(MurmurHash3.mix(
        0x3c8f1e2d, a), b), c), keyArr.length)
  }

  override def toString: String = s"ValueCounter($counts)"
}

object ValueCounter {

  /** Key kinds, one bit each; `Wide` marks a Long or BigInt that a
    * double does not hold exactly.
    */
  private[graft] object Kind {
    final val Null = 1
    final val Bool = 2
    final val Long = 4
    final val Double = 8
    final val BigInt = 16
    final val Instant = 32
    final val String = 64
    final val Other = 128
    final val Wide = 256
    final val Numeric = Bool | Long | Double | BigInt
  }

  private final val MaxExact = 1L << 53

  private def kindOf(v: Any): Int = v match {
    case null => Kind.Null
    case s: String => Kind.String
    case l: Long =>
      if (l > MaxExact || l < -MaxExact) Kind.Long | Kind.Wide else Kind.Long
    case _: Double => Kind.Double
    case _: Boolean => Kind.Bool
    case _: Instant => Kind.Instant
    case b: BigInt =>
      if (b.bitLength > 53) Kind.BigInt | Kind.Wide else Kind.BigInt
    case _ => Kind.Other
  }

  private def kindsOf(keys: Array[Any]): Int = {
    var k = 0
    keys.foreach(v => k |= kindOf(v))
    k
  }

  /** Keys all of one of these kinds (and null) sort in their natural
    * order, which is `ValueOrdering`'s on them.
    */
  private final val NaturalKinds = Kind.String | Kind.Long |
    Kind.Instant | Kind.Double | Kind.Bool | Kind.BigInt

  private val natural: Comparator[Any] = (a, b) =>
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** The order to sort keys of `kinds` with, null when `ValueOrdering`
    * is no strict order on them. Only distinct doubles (NaN) and mixed
    * numerics can still tie under the order returned, so sorts and
    * merges check for ties.
    */
  private def orderFor(kinds: Int): Comparator[Any] = {
    val body = kinds & ~(Kind.Null | Kind.Wide)
    if ((body & (body - 1)) == 0 && (body & ~NaturalKinds) == 0) natural
    else if ((body & ~Kind.Numeric) != 0) null
    else if ((kinds & Kind.Wide) != 0 && (body & Kind.Double) != 0) null
    else ValueOrdering
  }

  private def trim[T](a: Array[T], n: Int): Array[T] =
    if (n == a.length) a else a.take(n)

  /** Sorts `keys` (distinct under `==`) in place and builds the counter;
    * null when `ValueOrdering` has no strict order on them.
    */
  private def sortedCounter(keys: Array[Any], kinds: Int,
                            countOf: Any => Long): ValueCounter = {
    val order = orderFor(kinds)
    if (order == null) return null
    val refs = keys.asInstanceOf[Array[AnyRef]]
    var from = 0
    if ((kinds & Kind.Null) != 0) {
      val at = keys.indexWhere(_ == null)
      keys(at) = keys(0)
      keys(0) = null
      from = 1
    }
    if (order eq natural) java.util.Arrays.sort(refs, from, keys.length)
    else java.util.Arrays.sort(refs, from, keys.length, ValueOrdering)
    val cnts = new Array[Long](keys.length)
    var i = 0
    while (i < keys.length) {
      if (i > 0 && order.compare(keys(i - 1), keys(i)) == 0) return null
      cnts(i) = countOf(keys(i))
      i += 1
    }
    new ValueCounter(keys, cnts, kinds, null)
  }

  /** A counter cell: one hash lookup per key added. */
  private final class Tally(var n: Long)

  /** Counts keys in one hash pass at one lookup per key (`Map[Any, _]`
    * key equality), then sorts the distinct keys once.
    */
  private[core] final class Builder(sizeHint: Int) {
    private val m = new mutable.HashMap[Any, Tally](
      sizeHint.max(16).min(1 << 10), mutable.HashMap.defaultLoadFactor)

    def add(key: Any, n: Long): this.type = {
      m.getOrElseUpdate(key, new Tally(0L)).n += n
      this
    }

    def result(): ValueCounter = {
      val keys = m.keysIterator.toArray[Any]
      val sorted = sortedCounter(keys, kindsOf(keys), m(_).n)
      if (sorted != null) sorted
      else {
        // the map this class built before it held arrays: the same
        // keys, inserted one by one into a default-sized table in first
        // seen order, which fixes its iteration order
        val old = mutable.HashMap.empty[Any, Long]
        m.foreachEntry((k, t) => old.update(k, t.n))
        ValueCounter(old.toMap)
      }
    }
  }

  private[core] def newBuilder(sizeHint: Int): Builder =
    new Builder(sizeHint)

  val empty: ValueCounter =
    new ValueCounter(Array.empty[Any], Array.empty[Long], 0, null)

  def apply(counts: Map[Any, Long]): ValueCounter = {
    val keys = counts.keys.toArray[Any]
    val sorted = sortedCounter(keys, kindsOf(keys), counts)
    if (sorted != null) sorted
    else {
      val keys = counts.keys.toSeq.sorted(ValueOrdering).toArray[Any]
      new ValueCounter(keys, keys.map(counts), kindsOf(keys), counts)
    }
  }

  def from(values: IterableOnce[Any]): ValueCounter = {
    val b = newBuilder(values.knownSize)
    values.iterator.foreach(b.add(_, 1L))
    b.result()
  }

  /** An entry and its iteration index, ordered as [[mostCommon]] lists
    * a mixed counter's entries: descending count, then `ValueOrdering`,
    * then index.
    */
  private type Ranked = ((Any, Long), Int)
  private val mixedRank: Ordering[Ranked] = (a, b) => {
    val byCount = java.lang.Long.compare(b._1._2, a._1._2)
    if (byCount != 0) byCount
    else {
      val byValue = ValueOrdering.compare(a._1._1, b._1._1)
      if (byValue != 0) byValue else Integer.compare(a._2, b._2)
    }
  }

  /** The first and the last `n` of `items` under `rank`, each in rank
    * order, picked with two heaps of `n`.
    */
  private def ends[T](n: Int, items: Iterator[T], rank: Ordering[T])
      : (Seq[T], Seq[T]) = {
    val first = mutable.PriorityQueue.empty[T](rank)
    val last = mutable.PriorityQueue.empty[T](rank.reverse)
    // a heap's head is the kept entry farthest from the heap's end of
    // the order; an entry nearer to that end replaces it
    def offer(q: mutable.PriorityQueue[T], r: T): Unit =
      if (q.size < n) q += r
      else if (q.ord.lt(r, q.head)) { q.dequeue(); q += r }
    items.foreach { r => offer(first, r); offer(last, r) }
    (first.toSeq.sorted(rank), last.toSeq.sorted(rank))
  }
}
