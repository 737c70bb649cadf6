package graft.core

/** Per-node descriptive statistics: cardinality, min, positional
  * quartiles, max, uniqueness, and (when exact) the full value-frequency
  * sample.
  *
  * Quartile rule (structa types.py:182-207, verified by
  * tests/test_types.py:36-50): over the sorted expanded multiset
  * `x[0..card-1]`, min = x[0], q1 = x[card/4], q2 = x[card/2] (the
  * "high" median), q3 = x[3·card/4] (0-based integer division), max =
  * x[card-1]. `unique` is true iff the most common value has count 1
  * (types.py:93-95).
  *
  * Stats is a monoid: merging sums the two counters (types.py:177-180),
  * a linear merge of their ordered keys, and reads the order statistics
  * off the sum in one scan. That makes partial-aggregate merges
  * order-insensitive — the property Spark's distributed aggregation
  * requires. When the exact sample has been dropped (scale mode), the
  * merge degrades gracefully: counts/min/max stay exact, quartiles are
  * taken from the larger side (documented approximation).
  */
final case class Stats(
    sample: Option[ValueCounter],
    card: Long,
    min: Any,
    q1: Any,
    q2: Any,
    q3: Any,
    max: Any,
    unique: Boolean,
    /** True when `sample` is a bounded top-K frequency sketch rather
      * than the exact counter (scale mode past the distinct cap) —
      * display-only: it must never feed quartile recomputation.
      */
    sampleIsPartial: Boolean = false) {

  def median: Any = q2

  def merge(other: Stats): Stats = (sample, other.sample) match {
    case (Some(a), Some(b))
        if !sampleIsPartial && !other.sampleIsPartial =>
      Stats.fromCounter(a.merge(b))
    case _ =>
      val (lo, hi) =
        if (ValueOrdering.compare(min, other.min) <= 0) (this, other)
        else (other, this)
      val big = if (card >= other.card) this else other
      Stats(
        sample = None,
        card = card + other.card,
        min = lo.min,
        q1 = big.q1, q2 = big.q2, q3 = big.q3,
        max = if (ValueOrdering.compare(max, other.max) >= 0) max
              else other.max,
        unique = false)
  }

  /** Structural equality used by the type algebra ignores the sample
    * (reference compares samples too, but only in tests).
    */
  def sameSummary(other: Stats): Boolean =
    card == other.card && min == other.min && q1 == other.q1 &&
      q2 == other.q2 && q3 == other.q3 && max == other.max
}

object Stats {

  /** types.py:182-207 — walk the counter's ordered keys accumulating
    * counts: one scan, no sort.
    */
  def fromCounter(sample: ValueCounter): Stats = {
    require(!sample.isEmpty, "Stats of empty sample")
    val n = sample.distinct
    val card = sample.total
    val indexes = Array(0L, card / 4, card / 2, 3 * card / 4)
    val summary = new Array[Any](4)
    var got = 0
    var index = 0L
    var i = 0
    while (i < n && got < 4) {
      val key = sample.keyAt(i)
      while (got < 4 && index >= indexes(got)) {
        summary(got) = key
        got += 1
      }
      index += sample.countAt(i)
      i += 1
    }
    val last = sample.keyAt(n - 1)
    while (got < 4) { summary(got) = last; got += 1 }
    Stats(Some(sample), card, summary(0), summary(1), summary(2),
      summary(3), last, sample.topCount == 1L)
  }

  def fromValues(values: IterableOnce[Any]): Stats =
    fromCounter(ValueCounter.from(values))

  /** types.py:209-224 — stats over lengths of the sampled items. */
  def fromLengths(lengths: IterableOnce[Int]): Stats =
    fromCounter(ValueCounter.from(lengths.iterator.map(_.toLong)))

  /** Exact summary assembled from distributed aggregates (no resident
    * sample) — the scale-mode constructor.
    */
  def summary(card: Long, min: Any, q1: Any, q2: Any, q3: Any, max: Any,
              unique: Boolean): Stats =
    Stats(None, card, min, q1, q2, q3, max, unique)

  /** Scale-mode summary carrying a bounded top-K frequency sketch so
    * sample display survives past the distinct cap (SURVEY §8).
    */
  def summaryWithSample(card: Long, min: Any, q1: Any, q2: Any,
                        q3: Any, max: Any, unique: Boolean,
                        topK: ValueCounter): Stats =
    Stats(if (topK.isEmpty) None else Some(topK), card, min, q1, q2,
      q3, max, unique, sampleIsPartial = true)
}
