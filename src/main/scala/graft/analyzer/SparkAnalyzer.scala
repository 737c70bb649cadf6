package graft.analyzer

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._

/** The distributed structure analyzer.
  *
  * Re-expresses the reference's whole-dataset recursion (structa
  * analyzer.py:400-770) as Spark aggregations with the execution shape
  * chosen for 100 TB (SURVEY.md §4.2):
  *
  *  - **One wide aggregation per nesting level** — every leaf column's
  *    count/nulls/min/max/approx-distinct plus ~26 string-ladder witness
  *    counts are conditional aggregates in a single codegen'd pass, not
  *    the reference's O(data × depth) per-path re-walks.
  *  - **One tally kernel** — columns whose approx distinct count is
  *    under `exactDistinctCap` get their full value→frequency counters
  *    from ONE counter job per level: every (column, value) pair
  *    becomes a typed-slot struct and a single explode + groupBy
  *    counts them all, whatever their types ([[tally]]). The counters
  *    feed the exact reference ladder ([[TreeAnalyzer]] internals), so
  *    low-cardinality columns are bit-for-bit reference-faithful. The
  *    bounded top-K sample sketch of over-cap columns is the same
  *    kernel with a per-column rank.
  *  - **One wide summary pass over the cap** — high-cardinality columns
  *    have their representation DECIDED from the pass-1 witness counts
  *    alone (no extra jobs), then every over-cap column's summary
  *    aggregates — exact `percentile` at rank-aligned fractions
  *    (p = k/(n-1) hits x[k] exactly), min/max/count/uniqueness, length
  *    stats, and the fixed-length CharClass pattern miner — run together
  *    in a SECOND single wide aggregation per level. Job count per level
  *    is O(1) in column count (a 200-column table costs the same number
  *    of scheduler round-trips as a 2-column one).
  *  - **One length route** — string lengths and array/map sizes take
  *    the same way through those passes: pass-1 witnesses
  *    (count/distinct/min/max), then the counter job when the length
  *    distinct count is under the cap, else the summary pass and the
  *    top-K job.
  *  - **Nested data = projections, not re-scans** — struct fields are
  *    analyzed in the parent's wide agg via dotted columns; ALL of a
  *    level's scalar-element arrays and map keys/values fold into ONE
  *    tagged `explode(concat(...))` frame analyzed by a single
  *    recursive level, and array/map sizes ride the level's own
  *    passes — k sibling collections cost the same jobs as one
  *    (filter/column pruning pushed to the parquet scan by Catalyst).
  *
  * Driver memory holds only config + counters under the cap + the
  * result ADT.
  */
final class SparkAnalyzer(val config: AnalyzerConfig = AnalyzerConfig(),
                          val exactDistinctCap: Long =
                            SparkAnalyzer.defaultDistinctCap,
                          /** Recurse into JSON-encoded string columns
                            * (beyond-reference; see assembleScalar). */
                          val parseJsonStrings: Boolean = true,
                          /** Over-cap columns keep a bounded top-K
                            * frequency sketch as their display sample
                            * (SURVEY §8); 0 disables the level's
                            * top-K job.
                            */
                          val sampleTopK: Int =
                            SparkAnalyzer.defaultSampleTopK,
                          /** Rows per column above which positional
                            * quartiles degrade from exact `percentile`
                            * to the approx_percentile GK sketch (the
                            * 100 TB path; exact percentile holds a
                            * group's values in executor memory).
                            */
                          val exactPctCap: Long =
                            SparkAnalyzer.exactPercentileCap,
                          /** Driver-memory budget (bytes, estimated)
                            * for collected exact counters across a
                            * level: a distinct-cap check alone would
                            * happily collect 50k × 10 KB documents;
                            * columns whose estimated counter size
                            * (approx-distinct × max value width)
                            * blows the remaining budget demote to the
                            * summary path. Deterministic: columns
                            * claim budget in leaf-id order.
                            */
                          val counterByteBudget: Long =
                            SparkAnalyzer.defaultCounterByteBudget) {

  private val tree = new TreeAnalyzer(config)

  /** Analyze a relation the way the reference analyzes a list of
    * records: returns `SList(SDict(record fields...))`.
    */
  def analyzeTable(df: DataFrame): SType = {
    val dict = analyzeLevel(df, RootLevel)
    SList(Stats.fromCounter(ValueCounter(Map((1L: Any) -> 1L))), dict)
  }

  /** Incremental analysis: fold a DELTA into a PRIOR [[analyzeTable]]
    * result via the anti-unification monoid ([[SType.merge]], the
    * ScalaCheck-law-tested `+`), so daily ingest against a 100 TB
    * corpus re-analyzes ONLY the delta — the distributed jobs touch
    * the new rows, the prior is a driver-side value (persist it
    * however the pipeline persists small state).
    *
    * Contract: columns whose per-side analyses stayed on the
    * exact-counter path merge EXACTLY — `analyzeIncremental(
    * analyzeTable(a), b) == analyzeTable(a union b)` including
    * quartiles, uniqueness, and renders (spec-pinned). Columns on the
    * over-cap summary path merge with the reference's own summary
    * convention (exact card/min/max; quartiles carried from the
    * larger side — the identical approximation the reference applies
    * when merging analyses). A delta whose inferred field type
    * CONTRADICTS the prior (e.g. a numeric column turning
    * free-string) throws the algebra's IllegalArgumentException,
    * exactly like the reference's `+`; re-analyze from scratch when
    * the schema genuinely drifts.
    */
  def analyzeIncremental(prior: SType, delta: DataFrame): SType = {
    val d = analyzeTable(delta)
    (prior, d) match {
      // merge the record structures; keep the constant one-table
      // outer wrapper (merging the wrappers would count tables, not
      // rows, and diverge from the whole-corpus analyze)
      case (p: SList, dl: SList) =>
        dl.withContent(SType.merge(p.content, dl.content))
      case _ => SType.merge(prior, d)
    }
  }

  /** Analyze one nesting level (a relation of records).
    *
    * `srcTagged` marks the merged sibling-explode frame built by
    * [[analyzeNestedBatch]]: a `__src` column names each row's source
    * slot and every other column is null outside its own slot's rows.
    * In that mode each leaf's row total is its slot's row count
    * (aggregated in the same pass-1 job), so null-fraction decisions
    * see exactly the rows the per-column explode would have produced.
    */
  private def analyzeLevel(df: DataFrame,
                           level: String,
                           jsonDepth: Int = 0,
                           srcTagged: Boolean = false): SType = {
    val schema = df.schema
    if (schema.isEmpty) return SDict(
      Stats.fromCounter(ValueCounter(Map((0L: Any) -> 1L))), Vector.empty)

    // -------- pass 1: one wide aggregation over every leaf column and
    // the sizes of every array/map column
    val leaves = collectLeaves(schema)
      .filterNot(l => srcTagged && l.path == Vector("__src"))
    val nestedLeaves = collectNested(schema)
    val slotTotals =
      if (!srcTagged) Seq.empty
      else leaves.map(l => count(when(col("__src") === l.path.head,
        1)).as(s"${l.id}__tot"))
    val aggExprs = leaves.flatMap(l => wideAggExprs(l)) ++
      nestedLeaves.flatMap { l =>
        count(sizeOf(l)).as(s"${l.id}__cnt") +:
          lengthWitnessExprs(l.id, sizeOf(l))
      } ++ slotTotals :+ count(lit(1)).as("__total")
    val row = described(df, s"graft: witness pass at $level " +
      s"(${leaves.size} columns)") {
      df.agg(aggExprs.head, aggExprs.tail: _*).head()
    }
    val total = row.getAs[Long]("__total")
    val totalFor: String => Long =
      if (!srcTagged) _ => total
      else id => row.getAs[Long](s"${id}__tot")

    // -------- plan: decide every over-cap column's representation from
    // the pass-1 witnesses (driver-side, no jobs)
    val underCap = leaves.filter { l =>
      row.getAs[Long](s"${l.id}__adist") <= exactDistinctCap &&
        isCounterable(l.dataType)
    }
    // driver-memory guard: estimated counter bytes (approx distinct ×
    // max value width) claim a shared budget in deterministic leaf-id
    // order; over-budget columns fall back to the summary path
    var budget = counterByteBudget
    val counterCols = underCap.sortBy(_.id).filter { l =>
      val adist = row.getAs[Long](s"${l.id}__adist")
      val width = l.dataType match {
        case StringType =>
          // lmax is null-free only when the column has rows; a column
          // with cnt == 0 never reaches the counter path's consumers
          if (row.getAs[Long](s"${l.id}__cnt") == 0) 0L
          else row.getAs[Int](s"${l.id}__lmax").toLong.max(1L)
        case _ => 16L
      }
      val est = adist * width
      if (est <= budget) { budget -= est; true } else false
    }
    val counterIds = counterCols.map(_.id).toSet
    val plans = leaves.filterNot(l => counterIds(l.id))
      .flatMap(l => planSummary(l, row, totalFor(l.id), jsonDepth))
    // all-JSON columns will recurse instead; keep their fallback
    // plans out of the shared passes
    val active = plans.filterNot(_.deferred)
    // the length route: over-cap strings' lengths and every array/map
    // size; all-null ones need no pass (their Stats read {0: 1})
    val (exactLengths, overLengths) = (active.flatMap(_.lengths) ++
      nestedLeaves.map(l => lengthRoute(l.id, sizeOf(l), row)))
      .filter(_.n > 0).partition(_.exact)

    // -------- pass 2: ONE counter job for the values under the cap
    // and the lengths under the cap (length counters stay outside the
    // byte budget: a length is one long)
    val counterPairs = counterCols.map(l => valueKey(l.id) -> l.col) ++
      exactLengths.map(r => lengthKey(r.id) -> r.len)
    val counters = described(df, s"graft: exact counter batch at " +
      s"$level (${counterPairs.size} columns)") {
      tally(df, counterPairs)
    }

    // -------- pass 3: ONE wide summary aggregation for all over-cap
    // columns and lengths (quartiles, length stats, CharClass patterns
    // together). Exact-percentile buffers share the executor-memory
    // cap: each of the pctConsumers columns gets exactPctCap /
    // pctConsumers rows before degrading to the GK sketch, so the
    // ONE-pass batching cannot multiply peak aggregation memory by the
    // column count.
    val pctConsumers =
      (active.count(_.numeric) + overLengths.size).max(1)
    val summaryRow: Row =
      if (active.isEmpty && overLengths.isEmpty) null
      else described(df, s"graft: summary pass at $level " +
        s"(${active.size + overLengths.size} over-cap columns)") {
        val exprs = active.flatMap(p => summaryAggExprs(p, pctConsumers)) ++
          overLengths.flatMap(r => lengthAggExprs(r, pctConsumers))
        df.agg(exprs.head, exprs.tail: _*).head()
      }

    // -------- pass 4: ONE top-K display-sample job for every
    // non-unique over-cap column and length whose Stats keep a sample
    val samplePairs =
      if (summaryRow == null || sampleTopK <= 0) Vector.empty
      else topKPairs(active, overLengths, summaryRow)
    val samples =
      if (samplePairs.isEmpty) Map.empty[String, ValueCounter]
      else described(df, s"graft: top-K sample batch at $level " +
        s"(${samplePairs.size} over-cap columns)") {
        tally(df, samplePairs, sampleTopK)
      }

    // -------- pass 5: every scalar-element explode (array items, map
    // keys, map values) folds into ONE tagged-explode frame analyzed
    // by a single recursive level — so k sibling arrays cost the same
    // jobs as one (previously k explode passes of 2-6 jobs each).
    val slots = nestedLeaves.flatMap { l =>
      l.dataType match {
        case ArrayType(et, _) if isScalarType(et) =>
          Vector((l.id + SlotItems, l.col, et))
        case MapType(kt, vt, _) =>
          (if (isScalarType(kt))
            Vector((l.id + SlotKeys, map_keys(l.col), kt))
          else Vector.empty) ++
          (if (isScalarType(vt))
            Vector((l.id + SlotVals, map_values(l.col), vt))
          else Vector.empty)
        case _ => Vector.empty
      }
    }
    val nestedItems = analyzeNestedBatch(df, level, slots, jsonDepth)

    // -------- assemble the record dict
    val ctx = LevelCtx(df, level, row, counters,
      plans.map(p => p.leaf.id -> p).toMap, summaryRow, samples,
      total, totalFor, jsonDepth, nestedItems)
    described(df, s"graft: assemble at $level (nested levels / top-K)") {
      val fields = schema.fields.toVector
        .filterNot(f => srcTagged && f.name == "__src")
        .sortBy(_.name).map { f =>
          val t = analyzeField(ctx, Vector(f.name), f.dataType)
          SDictField(SField(f.name, total, optional = false), t)
        }
      SDict(Stats.fromCounter(ValueCounter(Map(
        (schema.fields.length.toLong: Any) -> total))), fields)
    }
  }

  /** Label this block's Spark jobs (surfaced by the CLI progress line
    * and the Spark UI); restores the previous label so nested levels
    * re-label correctly.
    */
  private def described[T](df: DataFrame, desc: String)(f: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** Level paths for job labels, JSONPath-like: `$` is the table, a
    * field path under a level is dotted, `[]` marks array items,
    * `{keys}`/`{values}` a map's, `(json)` a parsed JSON-string column,
    * and `[*]` the tagged batch of a level's scalar items.
    */
  private val RootLevel = "$"

  private def childLevel(level: String, path: Vector[String]): String =
    path.mkString(level + ".", ".", "")

  // ------------------------------------------------------------ schema

  private final case class Leaf(path: Vector[String], dataType: DataType) {
    def id: String = path.mkString("\u0000")
    def col: Column = path.tail.foldLeft(functions.col(
      quote(path.head)))((c, f) => c.getField(f))
    private def quote(n: String) = s"`${n.replace("`", "``")}`"
  }
  private val functions = org.apache.spark.sql.functions

  /** Everything one nesting level's assembly needs: the pass-1 witness
    * row, the pass-2 counters and pass-4 samples (keyed by
    * [[valueKey]] / [[lengthKey]]), and the over-cap summary plans +
    * their single wide-agg result row.
    */
  private final case class LevelCtx(df: DataFrame, level: String,
                                    row: Row,
                                    counters: Map[String, ValueCounter],
                                    plans: Map[String, SummaryPlan],
                                    summaryRow: Row,
                                    samples: Map[String, ValueCounter],
                                    total: Long,
                                    /** Per-leaf row total: the level
                                      * total normally; the leaf's own
                                      * slot count on the merged
                                      * sibling-explode frame.
                                      */
                                    totalFor: String => Long,
                                    jsonDepth: Int,
                                    /** Pass-5 results: SType for every
                                      * scalar slot.
                                      */
                                    nestedItems: Map[String, SType])

  /** An over-cap column's decided representation: which expression to
    * aggregate in the wide summary pass, the count its rank-aligned
    * percentile fractions use, which extras it needs (length stats /
    * CharClass pattern), and how to build the final SType from the
    * aggregated pieces.
    */
  private final case class SummaryPlan(leaf: Leaf, value: Column,
                                       numeric: Boolean, n: Long,
                                       build: SummaryCtx => SType,
                                       lengths: Option[LengthRoute] = None,
                                       needPattern: Boolean = false,
                                       /** All-JSON string columns
                                         * normally recurse instead;
                                         * their plan is only the
                                         * corrupt-JSON fallback and
                                         * stays OUT of the shared
                                         * passes — built on demand by
                                         * a per-column aggregation.
                                         */
                                       deferred: Boolean = false,
                                       /** Whether the built SType
                                         * drops the value sample, read
                                         * off the summary row: pass 4
                                         * then skips the column.
                                         */
                                       dropsSample: Row => Boolean =
                                         _ => false)

  private final case class SummaryCtx(values: Stats, lengths: () => Stats,
                                      pattern: Option[Vector[CharClass]])

  /** One column's lengths (string lengths, array/map sizes): `len` is
    * the long length expression, `n` its non-null count, and `exact`
    * whether its distinct count is under the cap (counter in pass 2)
    * or not (summary in pass 3, sample in pass 4).
    */
  private final case class LengthRoute(id: String, len: Column, n: Long,
                                       exact: Boolean)

  private def lengthRoute(id: String, len: Column, row: Row): LengthRoute =
    LengthRoute(id, len, row.getAs[Long](s"${id}__cnt"),
      row.getAs[Long](s"${id}__ladist") <= exactDistinctCap)

  private def sizeOf(l: Leaf): Column = size(l.col).cast(LongType)

  /** Tally keys of a leaf's values and of its lengths. */
  private def valueKey(id: String): String = "v" + id
  private def lengthKey(id: String): String = "l" + id

  /** Leaf scalar columns, descending struct fields inline (no extra
    * job needed for structs — they're projections).
    */
  private def collectLeaves(schema: StructType): Vector[Leaf] = {
    def walk(prefix: Vector[String], dt: DataType): Vector[Leaf] =
      dt match {
        case s: StructType =>
          s.fields.toVector.flatMap(f => walk(prefix :+ f.name,
            f.dataType))
        case _: ArrayType | _: MapType => Vector.empty // next level
        case other => Vector(Leaf(prefix, other))
      }
    schema.fields.toVector.flatMap(f => walk(Vector(f.name), f.dataType))
  }

  private def isCounterable(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType | BinaryType => false
    case _ => true
  }

  /** Array/map columns at this level (descending struct fields): their
    * sizes take the length route, their scalar content the pass-5
    * nested batch.
    */
  private def collectNested(schema: StructType): Vector[Leaf] = {
    def walk(prefix: Vector[String], dt: DataType): Vector[Leaf] =
      dt match {
        case s: StructType =>
          s.fields.toVector.flatMap(f => walk(prefix :+ f.name,
            f.dataType))
        case a: ArrayType => Vector(Leaf(prefix, a))
        case m: MapType => Vector(Leaf(prefix, m))
        case _ => Vector.empty
      }
    schema.fields.toVector.flatMap(f => walk(Vector(f.name), f.dataType))
  }

  private def isScalarType(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType => false
    case _ => true
  }

  /** Slot-key suffixes for the pass-5 merged explode (NUL-separated
    * like leaf ids, so they can never collide with a field name).
    */
  private val SlotItems = "\u0000__items"
  private val SlotKeys = "\u0000__keys"
  private val SlotVals = "\u0000__vals"

  // ----------------------------------------------------- wide agg pass

  /** Per-leaf aggregate expressions for the single wide pass. */
  private def wideAggExprs(l: Leaf): Seq[Column] = {
    val c = l.col
    val id = l.id
    val base = Seq(
      count(c).as(s"${id}__cnt"),
      approx_count_distinct(c).as(s"${id}__adist"))
    val ordered = l.dataType match {
      case _: NumericType | TimestampType | DateType | StringType |
           BooleanType =>
        Seq(min(c).as(s"${id}__min"), max(c).as(s"${id}__max"))
      case _ => Seq.empty
    }
    val stringy = l.dataType match {
      case StringType =>
        // Per-row length gate on the numeric/bool/datetime probes:
        // the ladder only consults these witnesses when the column's
        // GLOBAL lmax ≤ maxNumericLen (planStringSummary), so gating
        // each row changes no decision — but it lets codegen skip
        // ~20 regex/timestamp parses per row on long text columns
        // (conditional branches evaluate lazily), which is where the
        // wide agg spends its time on document corpora.
        val short = length(c) <= config.maxNumericLen
        def probe(cond: Column): Column = count(when(short && cond, 1))
        Seq(count(when(c === "", 1)).as(s"${id}__empty")) ++
          lengthWitnessExprs(id, length(c)) ++ Seq(
          count(when(c.startsWith("http://")
            .or(c.startsWith("https://")), 1)).as(s"${id}__url"),
          count(when(c.rlike("^\\s*[\\[{]"), 1)).as(s"${id}__json")) ++
          TreeAnalyzer.BoolPatterns.zipWithIndex.map { case (p, i) =>
            val Array(f, t) = p.split("\\|", -1)
            probe(lower(trim(c)).isin(f, t)).as(s"${id}__b$i")
          } ++ Seq(
          probe(c.rlike("^[+-]?(0[oO])?[0-7]+$")).as(s"${id}__io"),
          probe(c.rlike("^[+-]?[0-9]+$")).as(s"${id}__id"),
          probe(c.rlike("^[+-]?(0[xX])?[0-9A-Fa-f]+$"))
            .as(s"${id}__ix"),
          probe(c.try_cast(DoubleType).isNotNull).as(s"${id}__f")) ++ {
          // first-char dispatch on the datetime probes: every
          // distributed format starts with yyyy, so a successful
          // parse must begin with a digit (or a sign — Java's
          // EXCEEDS_PAD years). The guard changes no witness count,
          // but try_to_timestamp is the witness pass's dominant cost
          // (measured 4.1 s of q71's 6.1 s at sf0.1) and non-numeric
          // strings — enums, JSON, prose — skip all of it lazily.
          val dtCandidate = short && c.rlike("^[0-9+-]")
          def probeDt(cond: Column): Column =
            count(when(dtCandidate && cond, 1))
          sparkDateTimeFormats.zipWithIndex.map { case ((_, fmt), i) =>
            probeDt(try_to_timestamp(c, lit(fmt)).isNotNull)
              .as(s"${id}__dt$i")
          }
        }
      case _ => Seq.empty
    }
    base ++ ordered ++ stringy
  }

  /** strptime formats that translate cleanly to Spark patterns, in
    * reference probe order (fixed formats: analyzer.py:64-72).
    */
  private val sparkDateTimeFormats: Seq[(String, String)] =
    Conversions.FixedDateTimePatterns
      .flatMap(p => Conversions.strptimeToSpark.get(p).map(p -> _)) ++
      Conversions.VarDateTimePatterns
        .flatMap(p => Conversions.strptimeToSpark.get(p).map(p -> _))

  /** Pass-1 witnesses of a length route: min/max feed an over-cap
    * length summary, and the distinct estimate decides whether the
    * lengths are counted (pass 2) or summarized (passes 3-4).
    */
  private def lengthWitnessExprs(id: String, len: Column): Seq[Column] =
    Seq(min(len).as(s"${id}__lmin"), max(len).as(s"${id}__lmax"),
      approx_count_distinct(len).as(s"${id}__ladist"))

  // -------------------------------------------------------- tally kernel

  /** The typed slots of a [[tally]] struct, in sort order. */
  private val tallySlots =
    Vector("l" -> LongType, "d" -> DoubleType, "s" -> StringType,
      "b" -> BooleanType)

  /** The tally kernel: value→frequency counters for many (key, value)
    * pairs in ONE explode + groupBy job. Each pair becomes
    * `struct(k, l, d, s, b)` with only its own typed slot set — ints,
    * lengths and timestamp micros in `l`, floats and decimals cast to
    * `d`, strings in `s`, booleans in `b` — so pairs of any types share
    * one array, one scan and one shuffle. Null values are dropped;
    * timestamp/date values come back as `Instant`s; pairs of other
    * types are skipped.
    *
    * With `topK > 0` each key keeps only its K most frequent values
    * (ties: smallest value first), ranked by a two-stage window: a
    * salted pre-rank bounds any single reducer task, then the final
    * per-key rank sorts at most 64·K rows per key, so one over-cap
    * column's distinct values never funnel into a single task at
    * corpus scale. Only one slot is non-null within a key, so ordering
    * by the slots orders by the value.
    */
  private def tally(df: DataFrame, pairs: Vector[(String, Column)],
                    topK: Int = 0): Map[String, ValueCounter] = {
    if (pairs.isEmpty) return Map.empty
    import org.apache.spark.sql.expressions.Window
    val types = df.select(pairs.map(_._2): _*).schema.map(_.dataType)
    val typed = pairs.zip(types).flatMap { case ((k, v), dt) =>
      (dt match {
        case ByteType | ShortType | IntegerType | LongType => Some("l")
        case TimestampType | TimestampNTZType | DateType => Some("t")
        case DoubleType | FloatType | _: DecimalType => Some("d")
        case StringType => Some("s")
        case BooleanType => Some("b")
        case _ => None
      }).map(slot => (k, slot, v))
    }
    if (typed.isEmpty) return Map.empty
    val structs = typed.map { case (k, slot, v) =>
      // timestamps count as micros (NTZ/date need an explicit cast;
      // session tz = UTC)
      val (into, value) =
        if (slot == "t") ("l", unix_micros(v.cast(TimestampType)))
        else (slot, v)
      struct(lit(k).as("k") +: tallySlots.map { case (nm, t) =>
        (if (nm == into) value.cast(t) else lit(null).cast(t)).as(nm)
      }: _*)
    }
    val slots = tallySlots.map { case (nm, _) => col(nm) }
    val counted = df
      .select(explode(array(structs: _*)).as("e"))
      .select(col("e.k").as("k") +:
        tallySlots.map { case (nm, _) => col(s"e.$nm").as(nm) }: _*)
      .where(slots.map(_.isNotNull).reduce(_ || _))
      .groupBy(col("k") +: slots: _*)
      .agg(count(lit(1)).as("n"))
    val kept =
      if (topK <= 0) counted
      else {
        val order = col("n").desc +: slots.map(_.asc_nulls_first)
        val w1 = Window.partitionBy(col("k"), pmod(hash(slots: _*), lit(64)))
          .orderBy(order: _*)
        val w2 = Window.partitionBy(col("k")).orderBy(order: _*)
        counted
          .withColumn("r1", row_number().over(w1))
          .where(col("r1") <= topK)
          .withColumn("r", row_number().over(w2))
          .where(col("r") <= topK)
      }
    val isTime = typed.collect { case (k, "t", _) => k }.toSet
    kept.collect().groupBy(_.getString(0)).map { case (k, rs) =>
      k -> ValueCounter(rs.map { r =>
        val v = tallySlots.indices.collectFirst {
          case i if !r.isNullAt(i + 1) => r.get(i + 1) }.get
        (if (isTime(k)) microsToInstant(v.asInstanceOf[Long]) else v) ->
          r.getAs[Long]("n")
      }.toMap)
    }
  }

  /** The pass-4 pairs: the values and lengths the summary row proved
    * non-unique (unique ones show no sample), less the values whose
    * built SType rebuilds its Stats without a sample.
    */
  private def topKPairs(plans: Vector[SummaryPlan],
                        lengths: Vector[LengthRoute], srow: Row)
      : Vector[(String, Column)] =
    plans.filterNot(p => srow.getAs[Boolean](s"${p.leaf.id}__suniq") ||
        p.dropsSample(srow))
      .map(p => valueKey(p.leaf.id) -> p.value) ++
      lengths.filterNot(r => srow.getAs[Boolean](s"${r.id}__sluniq"))
        .map(r => lengthKey(r.id) -> r.len)

  // --------------------------------------------------- summary planning

  /** Decide an over-cap column's representation from the pass-1 witness
    * counts alone — the reference ladder (analyzer.py:598-740) as
    * threshold tests over pre-computed conditional aggregates. Returns
    * the aggregation plan; no Spark jobs are launched here.
    */
  private def planSummary(leaf: Leaf, row: Row, total: Long,
                          jsonDepth: Int): Option[SummaryPlan] = {
    val id = leaf.id
    val cnt = row.getAs[Long](s"${id}__cnt")
    if (cnt == 0) return None
    if (total > 0 && (total - cnt).toDouble / total > config.nullThreshold)
      return None
    val c = leaf.col
    leaf.dataType match {
      case BooleanType =>
        Some(SummaryPlan(leaf, c.cast(LongType), numeric = true, cnt,
          ctx => SBool(ctx.values)))
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType =>
        Some(SummaryPlan(leaf, c, numeric = true, cnt,
          ctx => tree.matchPossibleDateTime(SInt(ctx.values))))
      case DoubleType | FloatType | _: DecimalType =>
        Some(SummaryPlan(leaf, c.cast(DoubleType), numeric = true, cnt,
          ctx => tree.matchPossibleDateTime(SFloat(ctx.values))))
      case TimestampType | TimestampNTZType | DateType =>
        Some(SummaryPlan(leaf, unix_micros(c.cast(TimestampType)),
          numeric = true, cnt,
          ctx => SDateTime(instantStats(ctx.values)),
          dropsSample = _ => true))
      case StringType => planStringSummary(leaf, row, cnt, jsonDepth)
      case _ => None
    }
  }

  /** String plan, with the all-JSON special case: such columns
    * recurse in assembly (spark.read.json) and consult the plan only
    * when the parse turns up corrupt records — so the plan is marked
    * `deferred` and costs nothing in the shared passes.
    */
  private def planStringSummary(leaf: Leaf, row: Row, cnt: Long,
                                jsonDepth: Int)
      : Option[SummaryPlan] = {
    val id = leaf.id
    val p0 = planString0(leaf, row, cnt)
    val jsonW = row.getAs[Long](s"${id}__json")
    val empty = row.getAs[Long](s"${id}__empty")
    val jsonCandidate = parseJsonStrings &&
      jsonDepth < config.maxDepth && jsonW > 0 &&
      jsonW == cnt - empty
    if (jsonCandidate)
      // deferred plans compute their own lengths in their fallback agg
      p0.map(p => p.copy(deferred = true,
        lengths = p.lengths.map(_.copy(exact = false))))
    else p0
  }

  /** The string ladder from witness counts (analyzer.py:642-740). */
  private def planString0(leaf: Leaf, row: Row, cnt: Long)
      : Option[SummaryPlan] = {
    val id = leaf.id
    val c = leaf.col
    val empty = row.getAs[Long](s"${id}__empty")
    val lmin = row.getAs[Int](s"${id}__lmin")
    val lmax = row.getAs[Int](s"${id}__lmax")
    val lengths = Some(lengthRoute(id, length(c).cast(LongType), row))
    if (cnt > 0 && empty.toDouble / cnt > config.emptyThreshold)
      return Some(SummaryPlan(leaf, c, numeric = false, cnt,
        ctx => SStr(ctx.values, ctx.lengths(), None), lengths))
    val nonEmpty = cnt - empty
    val bad = math.ceil(cnt * config.badThreshold).toLong
    def ok(witness: Long): Boolean =
      witness > 0 && witness >= nonEmpty - bad

    if (lmax <= config.maxNumericLen) {
      // bools
      TreeAnalyzer.BoolPatterns.zipWithIndex.foreach { case (p, i) =>
        if (ok(row.getAs[Long](s"${id}__b$i")))
          return Some(SummaryPlan(leaf,
            when(lower(trim(c)) === p.split("\\|", -1)(1), 1L)
              .otherwise(0L),
            numeric = true, nonEmpty,
            ctx => SStrRepr(SBool(ctx.values), p)))
      }
      // ints (o, d, x probe order — analyzer.py:63)
      Seq(("o", 8, s"${id}__io"), ("d", 10, s"${id}__id"),
          ("x", 16, s"${id}__ix")).foreach { case (pat, base, key) =>
        if (ok(row.getAs[Long](key))) {
          val conv = base match {
            case 10 => c.try_cast(LongType)
            case _ => conv10(c, base)
          }
          return Some(SummaryPlan(leaf, conv, numeric = true, nonEmpty,
            ctx => {
              val res = SStrRepr(SInt(ctx.values), pat)
              if (pat == "d") promoteSummaryEpoch(res) else res
            },
            dropsSample = srow =>
              pat == "d" && summaryInEpochRange(srow, id)))
        }
      }
      // float
      if (ok(row.getAs[Long](s"${id}__f")))
        return Some(SummaryPlan(leaf, c.try_cast(DoubleType),
          numeric = true, nonEmpty,
          ctx => promoteSummaryEpoch(SStrRepr(SFloat(ctx.values), "f")),
          dropsSample = summaryInEpochRange(_, id)))
      // datetimes
      sparkDateTimeFormats.zipWithIndex.foreach { case ((py, fmt), i) =>
        if (ok(row.getAs[Long](s"${id}__dt$i")))
          return Some(SummaryPlan(leaf,
            unix_micros(try_to_timestamp(c, lit(fmt))),
            numeric = true, nonEmpty,
            ctx => SStrRepr(SDateTime(instantStats(ctx.values)), py),
            dropsSample = _ => true))
      }
    }
    // plain string: lengths + fixed-length CharClass pattern + URL
    val urlAll = row.getAs[Long](s"${id}__url") == cnt
    Some(SummaryPlan(leaf, c, numeric = false, cnt,
      ctx => {
        if (ctx.pattern.isEmpty && lmin != lmax && urlAll)
          SURL.fromSummary(ctx.values, ctx.lengths())
        else SStr(ctx.values, ctx.lengths(), ctx.pattern)
      }, lengths, needPattern = lmin == lmax && lmax > 0 && lmax <= 64))
  }

  // ------------------------------------------------ summary agg pass 3

  /** A plan's slice of the single wide summary aggregation: value
    * min/max/count/uniqueness (+ exact positional quartiles for
    * numerics) and the CharClassAgg buffer for fixed-length patterns.
    */
  private def summaryAggExprs(p: SummaryPlan,
                              pctConsumers: Int): Seq[Column] = {
    val id = p.leaf.id
    val v = p.value
    val base = Seq(
      min(v).as(s"${id}__smn"), max(v).as(s"${id}__smx"),
      count(v).as(s"${id}__scnt"),
      (approx_count_distinct(v) >= (count(v) * 98 / 100))
        .as(s"${id}__suniq"))
    val qs =
      if (p.numeric)
        Seq(quartileExpr(v, p.n, pctConsumers).as(s"${id}__sqs"))
      else Seq.empty
    val pat =
      if (p.needPattern)
        Seq(graft.functions.CharClassAgg.charClasses(p.leaf.col, 64)
          .as(s"${id}__spat"))
      else Seq.empty
    base ++ qs ++ pat
  }

  /** An over-cap length route's slice of the summary aggregation:
    * uniqueness and positional quartiles (count/min/max are pass-1
    * witnesses).
    */
  private def lengthAggExprs(r: LengthRoute,
                             pctConsumers: Int): Seq[Column] =
    Seq((approx_count_distinct(r.len) >= (count(r.len) * 98 / 100))
        .as(s"${r.id}__sluniq"),
      quartileExpr(r.len, r.n, pctConsumers).as(s"${r.id}__slqs"))

  /** Exact positional quartiles: percentile at p = k/(n-1) evaluates
    * order statistic x[k] with no interpolation (§1.3 rule: k = n/4,
    * n/2, 3n/4, 0-based int div). Exact percentile holds the group's
    * values in executor memory; past the cap (100 TB territory) degrade
    * to the GK sketch.
    */
  private def quartileExpr(v: Column, n: Long,
                           pctConsumers: Int = 1): Column = {
    val ps = Seq(n / 4, n / 2, 3 * n / 4).map(k =>
      if (n <= 1) 0.0 else k.toDouble / (n - 1))
    // the cap bounds TOTAL buffered rows across all exact-percentile
    // columns sharing one aggregation, not each column independently
    if (n <= exactPctCap / pctConsumers.max(1))
      percentile(v, typedLit(ps))
    else approx_percentile(v.cast(DoubleType), typedLit(ps),
      lit(10000)).cast(ArrayType(DoubleType))
  }

  /** Build a plan's value Stats from the wide summary row + its
    * top-K sample.
    */
  private def summaryStatsFromRow(p: SummaryPlan, srow: Row,
                                  sample: Option[ValueCounter]): Stats = {
    val id = p.leaf.id
    val cnt = srow.getAs[Long](s"${id}__scnt")
    val uniq = srow.getAs[Boolean](s"${id}__suniq")
    val mn = normalize(srow.get(srow.fieldIndex(s"${id}__smn")))
    val mx = normalize(srow.get(srow.fieldIndex(s"${id}__smx")))
    val s0 =
      if (!p.numeric)
        // strings over the distinct cap: quartiles pinned to min — a
        // documented scale-mode approximation (the reference would
        // sort the whole sample)
        Stats.summary(cnt, mn, mn, mn, mn, mx, uniq)
      else {
        val qs = srow.getSeq[Double](srow.fieldIndex(s"${id}__sqs"))
        Stats.summary(cnt, mn, qs(0), qs(1), qs(2), mx, uniq)
      }
    withSample(s0, sample)
  }

  /** Attach a top-K sample counter to a summary Stats: no sample for
    * unique columns, a disabled sketch, or an empty counter. Marked
    * partial so it can never feed quartile recomputation on merge.
    */
  private def withSample(s: Stats, sample: Option[ValueCounter])
      : Stats =
    sample match {
      case Some(vc) if sampleTopK > 0 && !s.unique && !vc.isEmpty =>
        Stats.summaryWithSample(s.card, s.min, s.q1, s.q2, s.q3,
          s.max, s.unique, vc)
      case _ => s
    }

  /** Length Stats of a route: exact from the pass-2 counter when the
    * length cardinality is under the cap (the common case; all-null
    * columns read {0: 1}), else from the pass-1 witnesses, the summary
    * row and the top-K sample.
    */
  private def lengthStats(r: LengthRoute, row: Row, srow: Row,
                          counters: Map[String, ValueCounter],
                          samples: Map[String, ValueCounter]): Stats =
    if (r.exact)
      Stats.fromCounter(counters.getOrElse(lengthKey(r.id),
        ValueCounter(Map((0L: Any) -> 1L))))
    else {
      val mn = normalize(row.get(row.fieldIndex(s"${r.id}__lmin")))
      val mx = normalize(row.get(row.fieldIndex(s"${r.id}__lmax")))
      val uniq = srow.getAs[Boolean](s"${r.id}__sluniq")
      val qs = srow.getSeq[Double](srow.fieldIndex(s"${r.id}__slqs"))
      withSample(Stats.summary(r.n, mn, qs(0), qs(1), qs(2), mx, uniq),
        samples.get(lengthKey(r.id)))
    }

  private def buildFromPlan(ctx: LevelCtx, p: SummaryPlan): SType = {
    // deferred plans (all-JSON fallbacks) were excluded from the
    // shared passes; build their summary row and samples on demand —
    // one aggregation and one tally in the rare corrupt-JSON case only
    val (srow, samples) =
      if (!p.deferred) (ctx.summaryRow, ctx.samples)
      else {
        val exprs = summaryAggExprs(p, pctConsumers = 1) ++
          p.lengths.toSeq.flatMap(lengthAggExprs(_, pctConsumers = 1))
        val srow = ctx.df.agg(exprs.head, exprs.tail: _*).head()
        (srow, if (sampleTopK <= 0) Map.empty[String, ValueCounter]
          else tally(ctx.df, topKPairs(Vector(p), p.lengths.toVector,
            srow), sampleTopK))
      }
    val values = summaryStatsFromRow(p, srow,
      samples.get(valueKey(p.leaf.id)))
    val lengths = () => lengthStats(p.lengths.get, ctx.row, srow,
      ctx.counters, samples)
    val pattern =
      if (!p.needPattern) None
      else {
        val idx = srow.fieldIndex(s"${p.leaf.id}__spat")
        if (srow.isNullAt(idx)) None
        else {
          val classes = srow.getSeq[String](idx).toVector.map(ch =>
            Chars(ch.toSet): CharClass)
          Some(generalizePattern(classes))
        }
      }
    p.build(SummaryCtx(values, lengths, pattern))
  }

  // ------------------------------------------------------ per-field asm

  private def analyzeField(ctx: LevelCtx, path: Vector[String],
                           dt: DataType): SType =
    dt match {
    case s: StructType =>
      // struct = nested record; fields were analyzed in the same pass
      val cnt = ctx.total // struct presence not separately tracked
      val fields = s.fields.toVector.sortBy(_.name).map { f =>
        SDictField(SField(f.name, cnt, optional = false),
          analyzeField(ctx, path :+ f.name, f.dataType))
      }
      SDict(Stats.fromCounter(ValueCounter(Map(
        (s.fields.length.toLong: Any) -> cnt))), fields)
    case ArrayType(et, _) =>
      // lengths come from the level's length route and scalar items
      // from the pass-5 batch; only struct/nested elements still
      // explode per column (they recurse into full sub-levels of their
      // own)
      val leaf = Leaf(path, dt)
      val lengths = sizeStats(ctx, leaf)
      val itemType = ctx.nestedItems.get(leaf.id + SlotItems) match {
        case Some(t) => t
        case None =>
          val items = ctx.df.select(explode(leaf.col).as("item"))
          analyzeNested(items, et, ctx.jsonDepth,
            childLevel(ctx.level, path) + "[]")
      }
      SList(lengths, itemType)
    case MapType(kt, vt, _) =>
      val leaf = Leaf(path, dt)
      val c = leaf.col
      val lengths = sizeStats(ctx, leaf)
      val keys = ctx.nestedItems.get(leaf.id + SlotKeys) match {
        case Some(t) => t
        case None => analyzeNested(ctx.df.select(explode(map_keys(c))
          .as("item")), kt, ctx.jsonDepth,
          childLevel(ctx.level, path) + "{keys}")
      }
      val values = ctx.nestedItems.get(leaf.id + SlotVals) match {
        case Some(t) => t
        case None => analyzeNested(ctx.df.select(explode(map_values(c))
          .as("item")), vt, ctx.jsonDepth,
          childLevel(ctx.level, path) + "{values}")
      }
      SDict(lengths, Vector(SDictField(keys, values)))
    case other =>
      assembleScalar(ctx, Leaf(path, other))
  }

  private def sizeStats(ctx: LevelCtx, leaf: Leaf): Stats =
    lengthStats(lengthRoute(leaf.id, sizeOf(leaf), ctx.row), ctx.row,
      ctx.summaryRow, ctx.counters, ctx.samples)

  /** Analyze exploded array/map content as its own level. */
  private def analyzeNested(items: DataFrame, et: DataType,
                            jsonDepth: Int, level: String): SType =
    et match {
      case s: StructType =>
        analyzeLevel(items.select(s.fields.toVector.map(f =>
          col("item").getField(f.name).as(f.name)): _*), level, jsonDepth)
      case _ =>
        // scalars and deeper nesting: one level over the single "item"
        // column, unwrapped
        analyzeLevel(items, level, jsonDepth) match {
          case d: SDict if d.content.length == 1 => d.content.head.value
          case other => other
        }
    }

  /** Pass 5: ONE tagged-explode frame for every scalar slot at a
    * level (array items, map keys, map values). Each source array
    * contributes structs carrying a `__src` tag and its value in its
    * own slot field (null elsewhere); a single `explode(concat(...))`
    * generator unions them, and ONE recursive [[analyzeLevel]] in
    * `srcTagged` mode analyzes every slot through the same O(1)
    * batched passes — where k sibling arrays previously cost k
    * separate explode levels. Aggregates skip the cross-slot nulls,
    * and the per-slot totals from pass 1 keep null-fraction decisions
    * identical to the per-column explode they replace.
    */
  private def analyzeNestedBatch(df: DataFrame, level: String,
      slots: Vector[(String, Column, DataType)],
      jsonDepth: Int): Map[String, SType] = {
    if (slots.isEmpty) return Map.empty
    val names = slots.indices.map(i => s"__s$i")
    val structT = StructType(
      StructField("__src", StringType, nullable = false) +:
        slots.zip(names).map { case ((_, _, et), nm) =>
          StructField(nm, et, nullable = true) })
    val arrT = ArrayType(structT)
    val tagged = slots.zipWithIndex.map { case ((_, arr, _), i) =>
      // null source arrays must not null the whole concat
      coalesce(transform(arr, x => struct(
        lit(names(i)).as("__src") +: slots.indices.map { j =>
          (if (j == i) x
           else lit(null).cast(slots(j)._3)).as(names(j))
        }: _*)), array().cast(arrT))
    }
    val merged = df
      .select(explode(
        if (tagged.size == 1) tagged.head
        else concat(tagged: _*)).as("__e"))
      .select(col("__e.__src").as("__src") +:
        names.map(nm => col(s"__e.$nm").as(nm)): _*)
    val dict = analyzeLevel(merged, level + "[*]", jsonDepth,
      srcTagged = true)
    val byName: Map[String, SType] = dict match {
      case d: SDict => d.content.map(f =>
        f.key.asInstanceOf[SField].value.toString -> f.value).toMap
      case _ => Map.empty
    }
    slots.zipWithIndex.map { case ((key, _, _), i) =>
      key -> byName.getOrElse(names(i), SValue(Vector.empty))
    }.toMap
  }

  /** Spark row value → dynamic value model. */
  private def normalize(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case d: java.math.BigDecimal => d.doubleValue
    case t: java.sql.Timestamp => t.toInstant
    case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC)
    case d: java.sql.Date =>
      d.toLocalDate.atStartOfDay.toInstant(java.time.ZoneOffset.UTC)
    case d: java.time.LocalDate =>
      d.atStartOfDay.toInstant(java.time.ZoneOffset.UTC)
    case other => other
  }

  private def microsToInstant(m: Long): Instant = Instant.ofEpochSecond(
    Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L)

  /** micros-epoch summary Stats → Instant-valued Stats (the approx
    * path yields Double micros).
    */
  private def instantStats(s: Stats): Stats = {
    def toInst(v: Any): Any = v match {
      case m: Long => microsToInstant(m)
      case d: Double => SType.epochToInstant(d / 1e6)
      case other => other
    }
    Stats.summary(s.card, toInst(s.min), toInst(s.q1), toInst(s.q2),
      toInst(s.q3), toInst(s.max), s.unique)
  }

  /** Build the scalar's SType: exact ladder over the counter when
    * available (reference-faithful), else the pre-planned summary built
    * from the single wide summary pass.
    */
  private def assembleScalar(ctx: LevelCtx, leaf: Leaf): SType = {
    val id = leaf.id
    val row = ctx.row
    val cnt = row.getAs[Long](s"${id}__cnt")
    val total = ctx.totalFor(id)
    val nulls = total - cnt
    if (cnt == 0) return SValue(Vector.empty)
    if (total > 0 && nulls.toDouble / total > config.nullThreshold)
      return SValue(Vector.empty)

    // Spark-first extension beyond the reference: a string column
    // whose values are all JSON containers is a string REPRESENTATION
    // of nested structure — parse it distributed (spark.read.json
    // schema-merges across executors) and recurse, yielding
    // `str of {…} pattern=json`. The reference leaves such columns as
    // plain Str (it never parses strings as documents).
    if (parseJsonStrings && leaf.dataType == StringType &&
        ctx.jsonDepth < config.maxDepth) {
      val empty = row.getAs[Long](s"${id}__empty")
      val jsonW = row.getAs[Long](s"${id}__json")
      if (jsonW > 0 && jsonW == cnt - empty) {
        val spark = ctx.df.sparkSession
        import spark.implicits._
        val strings = ctx.df.select(leaf.col.as("v"))
          .where(col("v").isNotNull && col("v") =!= "").as[String]
        val parsed = spark.read.json(strings)
        if (!parsed.columns.contains("_corrupt_record"))
          return SStrRepr(analyzeLevel(parsed,
            childLevel(ctx.level, leaf.path) + "(json)",
            ctx.jsonDepth + 1), "json")
      }
    }

    ctx.counters.get(valueKey(id)) match {
      case Some(counter) => exactLadder(counter, leaf.dataType)
      case None =>
        ctx.plans.get(id).map(buildFromPlan(ctx, _))
          .getOrElse(SValue(Vector.empty))
    }
  }

  /** Reference-exact ladder on a collected counter (reuses the
    * TreeAnalyzer string pipeline — analyzer.py:598-740).
    */
  private def exactLadder(counter: ValueCounter, dt: DataType): SType =
    dt match {
      case BooleanType => SBool(Stats.fromCounter(counter))
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType =>
        tree.matchPossibleDateTime(SInt(Stats.fromCounter(counter)))
      case DoubleType | FloatType | _: DecimalType =>
        tree.matchPossibleDateTime(SFloat(Stats.fromCounter(counter)))
      case TimestampType | TimestampNTZType | DateType =>
        SDateTime(Stats.fromCounter(counter))
      case StringType => tree.matchStr(counter)
      case _ => SValue(Vector.empty)
    }

  /** Same digit-base promotion + identifier generalization as the
    * in-memory miner (analyzer.py:686-718).
    */
  private def generalizePattern(positions: Vector[CharClass])
      : Vector[CharClass] = {
    import CharClass._
    var base = 0
    val marked: Vector[Either[Unit, CharClass]] = positions.map { cc =>
      if (cc.size > 1 && cc.subsetOf(hexDigit)) {
        if (cc.subsetOf(octDigit)) base = math.max(base, 8)
        else if (cc.subsetOf(decDigit)) base = math.max(base, 10)
        else base = math.max(base, 16)
        Left(())
      } else Right(cc)
    }
    val digitClass = base match {
      case 8 => Some(octDigit); case 10 => Some(decDigit)
      case 16 => Some(hexDigit); case _ => None
    }
    val pattern0 = marked.map {
      case Left(_) => digitClass.get
      case Right(cc) => cc
    }
    val digits = Set(octDigit, decDigit, hexDigit)
    if (pattern0.head.subsetOf(identFirst) &&
        pattern0.tail.forall(_.subsetOf(identChar)))
      (if (pattern0.head.size == 1) pattern0.head else identFirst) +:
        pattern0.tail.map(c =>
          if (c.size == 1 || digits(c)) c else identChar)
    else pattern0.map(c =>
      if (c.size == 1 || digits(c)) c else (AnyChar: CharClass))
  }

  /** Base-8/16 string → long via conv() (handles 0x/0o prefixes). */
  private def conv10(c: Column, base: Int): Column = {
    val stripped = regexp_replace(c, "^([+-]?)0[xXoO]", "$1")
    functions.conv(stripped, base, 10).try_cast(LongType)
  }

  /** Whether numbers from `min` to `max` read as epoch seconds in the
    * configured window: the test [[promoteSummaryEpoch]] promotes on.
    */
  private def inEpochRange(min: Any, max: Any): Boolean =
    config.minTimestamp <= SType.asDouble(min) &&
      SType.asDouble(max) <= config.maxTimestamp

  /** [[inEpochRange]] on a plan's summary-row min and max, as
    * [[summaryStatsFromRow]] reads them.
    */
  private def summaryInEpochRange(srow: Row, id: String): Boolean = {
    val mn = normalize(srow.get(srow.fieldIndex(s"${id}__smn")))
    val mx = normalize(srow.get(srow.fieldIndex(s"${id}__smx")))
    mn != null && mx != null && inEpochRange(mn, mx)
  }

  /** Summary-mode epoch promotion (analyzer.py:742-770 over summary
    * stats instead of counters).
    */
  private def promoteSummaryEpoch(t: SType): SType = t match {
    case sr @ SStrRepr(content: SScalar, pat)
        if content.isInstanceOf[SInt] || content.isInstanceOf[SFloat] =>
      if (inEpochRange(content.values.min, content.values.max)) {
        def conv(v: Any): Any = SType.epochToInstant(
          SType.asDouble(v) * config.timestampScale +
            config.timestampOffset)
        val s = content.values
        SStrRepr(SNumRepr(SDateTime(Stats.summary(s.card, conv(s.min),
          conv(s.q1), conv(s.q2), conv(s.q3), conv(s.max), s.unique)),
          content.isInstanceOf[SFloat], config.timestampScale,
          config.timestampOffset), pat)
      } else sr
    case other => other
  }
}

object SparkAnalyzer {
  /** Counter-collection budget: columns with more (approx) distinct
    * values than this skip exact counters and use the summary path.
    * Override with SPARK_GRAFT_DISTINCT_CAP for scale tuning (set low
    * to force the 100 TB code path in tests).
    */
  def defaultDistinctCap: Long =
    sys.env.get("SPARK_GRAFT_DISTINCT_CAP").map(_.toLong)
      .getOrElse(65536L)

  /** Rows per column above which positional quartiles switch from
    * exact `percentile` (in-memory sort of the group) to the
    * approx_percentile sketch. Override: SPARK_GRAFT_EXACT_PCT_CAP.
    */
  def exactPercentileCap: Long =
    sys.env.get("SPARK_GRAFT_EXACT_PCT_CAP").map(_.toLong)
      .getOrElse(100000000L)

  /** Top-K sketch size for over-cap sample display. Override:
    * SPARK_GRAFT_SAMPLE_TOPK (0 disables).
    */
  def defaultSampleTopK: Int =
    sys.env.get("SPARK_GRAFT_SAMPLE_TOPK").map(_.toInt).getOrElse(8)

  /** Driver budget for collected counters per level (estimated
    * bytes). Override: SPARK_GRAFT_COUNTER_BYTES.
    */
  def defaultCounterByteBudget: Long =
    sys.env.get("SPARK_GRAFT_COUNTER_BYTES").map(_.toLong)
      .getOrElse(256L * 1024 * 1024)
}
