package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.SparkSuite

/** SpaceSaving heavy-hitters sketch: exact in the no-eviction regime,
  * guarantee-bounded under eviction, deterministic under
  * repartitioning (the merge path), and correct through
  * serialize/deserialize (exercised by any distributed run).
  */
class SpaceSavingSpec extends SparkSuite {
  /** Zipf-ish stream over `vocab` item labels: item i appears
    * proportionally more the smaller i is, shuffled deterministically.
    */
  private def skewedItems(vocab: Int, scale: Int): Seq[String] = {
    val items = (0 until vocab).flatMap { i =>
      Seq.fill(scale * (vocab - i))(f"item$i%03d")
    }
    new scala.util.Random(7).shuffle(items)
  }

  private def toDf(items: Seq[String], parts: Int): DataFrame = {
    val s = spark
    import s.implicits._
    items.toDF("item").repartition(parts)
  }

  private def sketch(df: DataFrame, k: Int): Map[String, Long] =
    df.agg(SpaceSavingAgg.spaceSaving(col("item"), k).as("hh"))
      .selectExpr("explode(hh) AS (item, est)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def exact(items: Seq[String]): Map[String, Long] =
    items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("exact regime: distinct <= k reproduces true counts") {
    val items = skewedItems(vocab = 12, scale = 3)
    assert(sketch(toDf(items, 5), k = 16) === exact(items))
  }

  test("exact regime is partitioning-invariant") {
    val items = skewedItems(vocab = 12, scale = 3)
    val a = sketch(toDf(items, 1), k = 16)
    val b = sketch(toDf(items, 7), k = 16)
    assert(a === b)
  }

  test("eviction regime: |est - truth| <= n/k for tracked items " +
      "and every item with truth > 2n/k is tracked") {
    // a 40-item tail (forces eviction at k=10) plus one item holding
    // half the stream — the non-vacuous heavy hitter
    val tail = skewedItems(vocab = 40, scale = 2)
    val items = new scala.util.Random(13).shuffle(
      tail ++ Seq.fill(tail.size)("hotitem"))
    val n = items.size.toLong
    val k = 10
    val truth = exact(items)
    for (parts <- Seq(1, 3, 8)) {
      val est = sketch(toDf(items, parts), k)
      assert(est.size <= k)
      est.foreach { case (item, e) =>
        val t = truth.getOrElse(item, 0L)
        assert(math.abs(e - t) <= n / k,
          s"parts=$parts item=$item est=$e truth=$t bound=${n / k}")
      }
      truth.filter(_._2 * k > 2 * n).keys.foreach { hh =>
        assert(est.contains(hh),
          s"parts=$parts heavy item $hh missing from sketch")
      }
    }
  }

  test("null items are ignored, not counted") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("a"), None, Some("a"), Some("b"), None)
      .toDF("item")
    assert(sketch(df, 4) === Map("a" -> 2L, "b" -> 1L))
  }

  test("merge guarantees hold buffer-level under deep sequential " +
      "merge trees (one-sided error, n/k bound, heavy tracking)") {
    // drives update/merge directly — the shape Spark uses when it
    // folds one partial per upstream partition into the final
    // buffer sequentially. The pointwise-sum merge this replaced
    // UNDERestimated items whose mass an evicted partial absorbed;
    // the Misra-Gries subtract-combine must stay one-sided and
    // within each item's recorded error.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val k = 8
    val agg = SpaceSavingAgg(
      BoundReference(0, StringType, nullable = true), k)
    def partial(items: Seq[String]): SpaceSavingBuffer = {
      val b = agg.createAggregationBuffer()
      items.foreach { it =>
        agg.update(b, InternalRow(UTF8String.fromString(it)))
      }
      b
    }
    for (seed <- Seq(1, 2, 3); parts <- Seq(4, 16, 48)) {
      val rnd = new scala.util.Random(seed)
      // one dominant item + a long shuffled tail, unevenly split so
      // some partials never see the heavy item at all
      val items = rnd.shuffle(
        Seq.fill(600)("HOT") ++
          (0 until 200).flatMap(i =>
            Seq.fill(1 + rnd.nextInt(5))(f"t$i%03d")))
      val truth = exact(items)
      val n = items.size.toLong
      val splits = items.grouped(
        math.max(1, items.size / parts)).toSeq
      // serialize round-trip every partial, as the shuffle would
      val merged = splits.map(p =>
        agg.deserialize(agg.serialize(partial(p))))
        .reduceLeft { (acc, o) => agg.merge(acc, o) }
      assert(merged.n === n)
      assert(merged.counts.size <= k)
      merged.counts.foreach { case (item, est) =>
        val t = truth.getOrElse(item, 0L)
        val err = merged.errs(item)
        assert(est >= t,
          s"seed=$seed parts=$parts $item underestimated: $est < $t")
        assert(est - t <= err,
          s"seed=$seed parts=$parts $item over err: $est-$t > $err")
        assert(err <= merged.off,
          s"seed=$seed parts=$parts $item err $err > off=${merged.off}")
      }
      // update-only partials folded through merge-only combines:
      // deficit offset <= sum(n_i/k) + n/(k+1) < 2n/k
      assert(merged.off <= 2 * n / k,
        s"seed=$seed parts=$parts off=${merged.off} > 2n/k=${2 * n / k}")
      // untracked items are bounded by the min tracked counter
      val minKept =
        if (merged.counts.isEmpty) 0L
        else merged.counts.valuesIterator.min
      truth.foreach { case (item, t) =>
        if (!merged.counts.contains(item))
          assert(t <= minKept,
            s"seed=$seed parts=$parts absent $item truth $t > " +
              s"min counter $minKept")
      }
      // the actually-heavy item always survives
      assert(merged.counts.contains("HOT"),
        s"seed=$seed parts=$parts heavy item lost")
    }
  }

  test("heavyHitters emits per-group topN ranked (est desc, item)") {
    val s = spark
    import s.implicits._
    val df = (Seq.fill(5)(("g1", "x")) ++ Seq.fill(3)(("g1", "y")) ++
      Seq.fill(3)(("g1", "z")) ++ Seq.fill(2)(("g2", "w")))
      .toDF("g", "item")
    val out = Sketches.heavyHitters(df, col("g"), col("item"),
        k = 8, topN = 2)
      .orderBy(col("group"), col("est").desc, col("item"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2)))
    // g1's y/z tie at 3 → item-asc keeps y; g2 has only w
    assert(out.toSeq === Seq(("g1", "x", 5L), ("g1", "y", 3L),
      ("g2", "w", 2L)))
  }
}
