package graft.analyzer

import java.time.Instant

import graft.core._

/** The in-memory structure analyzer — a faithful re-expression of the
  * reference's recursive inference (structa analyzer.py:400-770) over a
  * dynamic Scala value model (Map = dict, Vector = list, [[VTuple]] =
  * tuple, scalars = Boolean/Long/Double/String/Instant/null).
  *
  * This layer is the behavioral spec (unit tests port the reference's
  * pytest suite against it) and the driver-side path for small data
  * (YAML, sniffed CSV/JSON heads). The distributed path
  * ([[graft.analyzer.SparkAnalyzer]]) reproduces the same semantics as
  * wide DataFrame aggregations and reuses this class's scalar-matching
  * ladder on collected counters.
  */
/** A value failing validation against the inferred pattern during
  * extraction (structa errors.py:7-11 ValidationWarning) — collected
  * rather than silently dropped, so callers can report counts.
  */
final case class ValidationWarning(message: String)

final class TreeAnalyzer(val config: AnalyzerConfig = AnalyzerConfig()) {

  import TreeAnalyzer._

  private val warningsBuf =
    scala.collection.mutable.Buffer.empty[ValidationWarning]

  /** Warnings collected by extractions since construction (or the
    * last [[clearWarnings]]) — the reference emits these via the
    * warnings module (analyzer.py:515-523); we accumulate them.
    */
  def warnings: Vector[ValidationWarning] = warningsBuf.toVector

  def clearWarnings(): Unit = warningsBuf.clear()

  private def warnInvalid(value: Any, against: SType): Unit =
    warningsBuf += ValidationWarning(
      s"failed to validate $value against ${against.render}")

  // ------------------------------------------------------------ analyze

  /** analyzer.py:281-288 */
  def analyze(data: Any): SType = analyzeAt(data, Vector.empty, None, 1L)

  /** analyzer.py:238-279 — node count for progress accounting. */
  def measure(data: Any): Long = flatten(data).size.toLong

  private def analyzeAt(it: Any, path: Vector[PathStep],
                        threshold: Option[Int], card: Long): SType = {
    // depth cap (§7.6): pathological nesting degrades to ⊤ instead
    // of unbounded recursion
    if (path.length > config.maxDepth) return SValue(Vector.empty)
    val items = extract(it, path)
    val pattern = matchItems(items, path, threshold, card)
    pattern match {
      case d: SDict => analyzeDict(it, path, d)
      case t: STuple if t.content.isEmpty => analyzeTuple(it, path, t)
      case l: SList =>
        val item = analyzeAt(it, path :+ PList, None, l.lengths.card)
        l.withContent(item)
      case other => other
    }
  }

  /** analyzer.py:422-443 */
  private def analyzeDict(it: Any, path: Vector[PathStep],
                          pattern: SDict): SType = {
    val card = pattern.lengths.card
    val fields = analyzeAt(it, path :+ PDictKeys,
      Some(config.fieldThreshold), card)
    fields match {
      case fs: SFields =>
        pattern.copy(content = fs.sorted.map { f =>
          SDictField(f, analyzeAt(
            it, path :+ PDictField(f.value, f.optional), None, card))
        })
      case keyType =>
        pattern.copy(content = Vector(SDictField(keyType,
          analyzeAt(it, path :+ PDictValues(keyType), None, card))))
    }
  }

  /** analyzer.py:445-470 */
  private def analyzeTuple(it: Any, path: Vector[PathStep],
                           pattern: STuple): SType = {
    val card = pattern.lengths.card
    val fields = analyzeAt(it, path :+ PTupleIndices,
      Some(config.fieldThreshold), card)
    fields match {
      case fs: SFields =>
        pattern.copy(content = fs.sorted.map { f =>
          STupleField(f, analyzeAt(it,
            path :+ PTupleField(SType.asLong(f.value).toInt, f.optional),
            None, card))
        })
      case indexType =>
        pattern.copy(content = Vector(STupleField(indexType,
          analyzeAt(it, path :+ PTupleValues(indexType), None, card))))
    }
  }

  // ----------------------------------------------------------- extract

  /** analyzer.py:472-554 — stream every value at `path`. */
  private[analyzer] def extract(it: Any, path: Vector[PathStep])
      : Vector[Any] = {
    val out = Vector.newBuilder[Any]
    def walk(v: Any, i: Int): Unit = {
      if (i >= path.length) { out += v; return }
      path(i) match {
        case PList => seqOf(v).foreach(walk(_, i + 1))
        case PDictKeys => mapOf(v).keys.foreach(walk(_, i + 1))
        case PDictField(key, optional) =>
          mapOf(v).get(key) match {
            case Some(value) => walk(value, i + 1)
            case None =>
              require(optional, s"mandatory key $key missing")
          }
        case PDictValues(keyType) =>
          mapOf(v).foreach { case (k, value) =>
            if (keyType.validates(k)) walk(value, i + 1)
            else warnInvalid(k, keyType) // analyzer.py:515-523
          }
        case PTupleIndices =>
          tupOf(v).indices.foreach(ix => walk(ix.toLong, i + 1))
        case PTupleField(index, optional) =>
          val t = tupOf(v)
          if (index < t.length) walk(t(index), i + 1)
          else require(optional, s"mandatory field $index missing")
        case PTupleValues(indexType) =>
          tupOf(v).zipWithIndex.foreach { case (value, ix) =>
            if (indexType.validates(ix.toLong)) walk(value, i + 1)
            else warnInvalid(ix.toLong, indexType)
          }
      }
    }
    walk(it, 0)
    out.result()
  }

  private def seqOf(v: Any): Vector[Any] = v match {
    case VSources(items) => items
    case s: Seq[_] => s.toVector
    case VTuple(items) => items
    case other =>
      throw new IllegalArgumentException(s"not a sequence: $other")
  }

  private def mapOf(v: Any): scala.collection.Map[Any, Any] = v match {
    case m: scala.collection.Map[_, _] =>
      m.asInstanceOf[scala.collection.Map[Any, Any]]
    case other =>
      throw new IllegalArgumentException(s"not a mapping: $other")
  }

  private def tupOf(v: Any): Vector[Any] = v match {
    case VTuple(items) => items
    case s: Seq[_] => s.toVector
    case other =>
      throw new IllegalArgumentException(s"not a tuple: $other")
  }

  // ------------------------------------------------------------- match

  /** analyzer.py:556-640 — classify a sample of same-level values. */
  private[analyzer] def matchItems(items: Vector[Any],
                                   path: Vector[PathStep],
                                   thresholdOpt: Option[Int],
                                   parentCard: Long): SType = {
    val threshold = thresholdOpt.getOrElse(config.fieldThreshold)
    val underKeys = path.lastOption.exists(p =>
      p == PDictKeys || p == PTupleIndices)
    if (items.isEmpty) return SEmpty
    // one census pass: which container kinds occur among the items
    var seen = 0
    items.foreach(v => seen |= itemKind(v))
    val only = (kind: Int) => seen == kind
    if (only(ISources)) {
      val sizes = items.map(_.asInstanceOf[VSources].items.length)
      return SSourcesList(Stats.fromLengths(sizes), SEmpty, items)
    }
    // Tuples (deferred when they're the keys of a dict: field
    // threshold applies first — analyzer.py:569-575, 613-617)
    if (!underKeys && only(ITuple))
      return tuplePattern(items)
    if (only(ISeq)) {
      // list-of-lists table heuristic (analyzer.py:576-589)
      val first = items.head.asInstanceOf[Seq[_]]
      if (items.length > first.length && first.nonEmpty &&
          first.length < threshold &&
          items.forall(_.asInstanceOf[Seq[_]].length == first.length))
        return tuplePattern(items)
      val sizes = items.map(_.asInstanceOf[Seq[_]].length)
      return SList(Stats.fromLengths(sizes), SEmpty, items)
    }
    if (only(IMap)) {
      val sizes = items.map(_.asInstanceOf[scala.collection.Map[_, _]].size)
      return SDict(Stats.fromLengths(sizes), Vector.empty, raw = items)
    }
    // Scalars (and hashable tuples): counter-based ladder. Mixed
    // dict/list content is the reference's Counter-TypeError path →
    // Value (analyzer.py:594-597); tuples are hashable and stay.
    if ((seen & (IMap | ISeq | ISources)) != 0)
      return SValue(items)
    var sample = ValueCounter.from(items)
    if (underKeys) {
      if (sample.distinct < threshold) {
        val fields = Set.newBuilder[SField]
        sample.foreachEntry((k, c) =>
          fields += SField(k, c, optional = c < parentCard))
        return SFields(fields.result())
      } else if (only(ITuple))
        return tuplePattern(items)
    }
    if ((seen & ITuple) != 0)
      return SValue(items) // tuples mixed with scalars
    // null discount (analyzer.py:618-621)
    val nulls = sample.countOf(null)
    if (nulls > 0) {
      if (nulls.toDouble / items.length > config.nullThreshold)
        return SValue(items)
      sample = sample.remove(null)
    }
    // the key kinds the counter found while it sorted its keys
    import ValueCounter.Kind
    val keysWithin = (kinds: Int) => (sample.kinds & ~kinds) == 0
    if (keysWithin(Kind.Bool))
      SBool(Stats.fromCounter(sample))
    else if (keysWithin(Kind.Long | Kind.Wide | Kind.Bool))
      matchPossibleDateTime(SInt(Stats.fromCounter(sample)))
    else if (keysWithin(Kind.Long | Kind.Wide | Kind.Double | Kind.Bool))
      matchPossibleDateTime(SFloat(Stats.fromCounter(sample)))
    else if (keysWithin(Kind.Instant))
      SDateTime(Stats.fromCounter(sample))
    else if (keysWithin(Kind.String)) {
      val s = if (config.stripWhitespace)
        sample.mapKeys(v => v.asInstanceOf[String].trim) else sample
      matchStr(s)
    } else SValue(items)
  }

  private def tuplePattern(items: Vector[Any]): STuple = {
    val sizes = items.map {
      case VTuple(t) => t.length
      case s: Seq[_] => s.length
    }
    STuple(Stats.fromLengths(sizes), Vector.empty, items)
  }

  // ----------------------------------------------------- string ladder

  /** analyzer.py:642-669 */
  private[analyzer] def matchStr(items0: ValueCounter): SType = {
    var items = items0
    val total = items.total
    val empty = items.countOf("")
    if (empty > 0) {
      if (empty.toDouble / total > config.emptyThreshold)
        return SStr.fromCounter(items)
      items = items.remove("")
    }
    val badThreshold = math.ceil(total * config.badThreshold).toLong
    val lengths = items.keys.map(_.asInstanceOf[String].length)
    val maxLen = lengths.max
    val minLen = lengths.min
    if (maxLen <= config.maxNumericLen) {
      matchNumericStr(items, badThreshold) match {
        case Some(result) => return matchPossibleDateTime(result)
        case None =>
      }
    }
    if (minLen == maxLen)
      return matchFixedLenStr(items, badThreshold)
    if (items.keys.forall { v =>
      val s = v.asInstanceOf[String]
      s.startsWith("http://") || s.startsWith("https://")
    }) SURL.fromCounter(items)
    else SStr.fromCounter(items)
  }

  /** analyzer.py:722-740 — ordered conversion ladder. */
  private[analyzer] def matchNumericStr(items: ValueCounter,
                                        badThreshold: Long)
      : Option[SType] = {
    for (pattern <- BoolPatterns) {
      val Array(f, t) = pattern.split("\\|", -1)
      Conversions.tryConversion(items,
        s => Conversions.parseBool(s, f, t), badThreshold)
        .foreach { c =>
          return Some(SStrRepr(SBool(Stats.fromCounter(c)), pattern))
        }
    }
    for (pattern <- IntPatterns) {
      val base = Map("o" -> 8, "d" -> 10, "x" -> 16)(pattern)
      Conversions.tryConversion(items,
        s => Conversions.parseInt(s, base), badThreshold)
        .foreach { c =>
          return Some(SStrRepr(SInt(Stats.fromCounter(c)), pattern))
        }
    }
    Conversions.tryConversion(items,
      s => Conversions.parseFloat(s), badThreshold)
      .foreach { c =>
        return Some(SStrRepr(SFloat(Stats.fromCounter(c)), "f"))
      }
    for (pattern <- Conversions.VarDateTimePatterns) {
      Conversions.tryConversion(items,
        s => Conversions.parseDateTime(s, pattern), badThreshold)
        .foreach { c =>
          return Some(SStrRepr(SDateTime(Stats.fromCounter(c)), pattern))
        }
    }
    None
  }

  /** analyzer.py:671-720 — per-position char classes with digit-base
    * promotion and identifier generalization.
    */
  private[analyzer] def matchFixedLenStr(items: ValueCounter,
                                         badThreshold: Long): SType = {
    for (pattern <- Conversions.FixedDateTimePatterns) {
      Conversions.tryConversion(items,
        s => Conversions.parseDateTime(s, pattern), badThreshold)
        .foreach { c =>
          return SStrRepr(SDateTime(Stats.fromCounter(c)), pattern)
        }
    }
    val strings = items.keys.map(_.asInstanceOf[String])
    val width = strings.head.length
    import CharClass._
    // transpose over distinct values
    val positions: Vector[CharClass] = (0 until width).toVector.map {
      i => Chars(strings.map(_.charAt(i)).toSet): CharClass
    }
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
    val pattern0: Vector[CharClass] = marked.map {
      case Left(_) => digitClass.get
      case Right(cc) => cc
    }
    val digits = Set(octDigit, decDigit, hexDigit)
    val pattern =
      if (pattern0.head.subsetOf(identFirst) &&
          pattern0.tail.forall(_.subsetOf(identChar))) {
        (if (pattern0.head.size == 1) pattern0.head else identFirst) +:
          pattern0.tail.map(c =>
            if (c.size == 1 || digits(c)) c else identChar)
      } else pattern0.map(c =>
        if (c.size == 1 || digits(c)) c else (AnyChar: CharClass))
    SStr.fromCounter(items, Some(pattern))
  }

  /** analyzer.py:742-770 — numeric plausible-epoch heuristic. With
    * `extendedEpochUnits`, additionally probes ms/µs/ns encodings
    * (beyond-reference; the configured unit is always probed first).
    */
  private[analyzer] def matchPossibleDateTime(pattern: SType): SType = {
    def inRange(v: Any): Boolean = {
      val n = SType.asDouble(v)
      config.minTimestamp <= n && n <= config.maxTimestamp
    }
    def extendedScale(values: Stats): Option[Double] =
      if (!config.extendedEpochUnits) None
      else Seq(1e-3, 1e-6, 1e-9).find { s =>
        val mn = SType.asDouble(values.min) * s
        val mx = SType.asDouble(values.max) * s
        // extended probes compare against the base (seconds) window
        config.minTimestamp * config.timestampScale <= mn &&
          mx <= config.maxTimestamp * config.timestampScale
      }
    def promote(num: SScalar, isFloat: Boolean,
                scale: Double): SType = {
      def conv(v: Any): Any = SType.epochToInstant(
        SType.asDouble(v) * scale + config.timestampOffset)
      val dtStats = num.values.sample match {
        case Some(c) => Stats.fromCounter(c.mapKeys(conv))
        case None =>
          // summary mode (no counter): epoch conversion is monotonic,
          // so positional quartiles map through directly
          val s = num.values
          Stats.summary(s.card, conv(s.min), conv(s.q1), conv(s.q2),
            conv(s.q3), conv(s.max), s.unique)
      }
      SNumRepr(SDateTime(dtStats), isFloat, scale,
        config.timestampOffset)
    }
    def tryPromote(num: SScalar, isFloat: Boolean): Option[SType] =
      if (inRange(num.values.min) && inRange(num.values.max))
        Some(promote(num, isFloat, config.timestampScale))
      else extendedScale(num.values).map(s =>
        promote(num, isFloat, s))
    pattern match {
      case n: SInt => tryPromote(n, isFloat = false).getOrElse(n)
      case n: SFloat => tryPromote(n, isFloat = true).getOrElse(n)
      case sr @ SStrRepr(content: SScalar, pat)
          if (content.isInstanceOf[SInt] && pat == "d" &&
              !content.isInstanceOf[SBool]) ||
             content.isInstanceOf[SFloat] =>
        tryPromote(content, content.isInstanceOf[SFloat] &&
          !content.isInstanceOf[SInt])
          .map(p => SStrRepr(p, pat)).getOrElse(sr)
      case other => other
    }
  }

  // ------------------------------------------------------------- merge

  /** analyzer.py:290-308 + ui/cli.py:256-264 — merge to fix-point. */
  def mergeToFixpoint(struct: SType): SType = {
    var current = struct
    var done = false
    while (!done) {
      val merged = merge(current)
      if (merged.size == current.size) done = true
      current = merged
    }
    current
  }

  /** analyzer.py:290-308 */
  def merge(struct: SType): SType =
    mergeWalk(setThreshold(struct))

  private def setThreshold(s: SType): SType = s match {
    case d: SDict =>
      d.copy(similarityThreshold = config.mergeThreshold,
        content = d.content.map(f =>
          SDictField(f.key, setThreshold(f.value))))
    case t: STuple =>
      t.copy(content = t.content.map(f =>
        STupleField(f.index, setThreshold(f.value))))
    case l: SList => l.withContent(setThreshold(l.content))
    case other => other
  }

  /** analyzer.py:310-335 */
  private def mergeWalk(path: SType): SType = path match {
    case d: SDict => mergeDict(d)
    case t: STuple =>
      t.copy(content = t.content.map(f =>
        STupleField(f.index, mergeWalk(f.value))))
    case l: SList => l.withContent(mergeWalk(l.content))
    case other => other
  }

  /** analyzer.py:337-374 — collapse record-Dicts whose field values
    * are all structurally equal into one key-type → structure mapping.
    */
  private def mergeDict(path: SDict): SType = {
    val c = path.content
    val collapsible = c.length > 1 &&
      c.head.key.isInstanceOf[SField] &&
      isContainer(c.head.value) &&
      c.tail.forall(f => SType.matches(f.value, c.head.value))
    if (collapsible) {
      val keyValues = c.flatMap { f =>
        val field = f.key.asInstanceOf[SField]
        Vector.fill(math.min(field.count, Int.MaxValue).toInt)(
          field.value)
      }
      val keys = matchItems(keyValues, Vector(PDictKeys), Some(0),
        path.lengths.card)
      val summedValue = c.tail.map(_.value)
        .foldLeft(c.head.value)((acc, v) => SType.merge(acc, v))
      val result = path.copy(content = Vector(
        SDictField(mergeWalk(keys), mergeWalk(summedValue))))
      val redone = mergeRedo(result)
      redone match {
        case d: SDict =>
          d.copy(content = SType.sortDictContent(d.content))
        case other => other
      }
    } else {
      path.copy(content = c.map(f =>
        SDictField(f.key, mergeWalk(f.value))))
    }
  }

  /** analyzer.py:376-398 — re-analyze SRedo markers. */
  private def mergeRedo(path: SType): SType = path match {
    case d: SDict =>
      d.copy(content = d.content.map { f =>
        f.value match {
          case r: SRedo =>
            val reanalyzed =
              analyzeAt(r.raw, Vector.empty, Some(0), 1L)
            val inner = reanalyzed match {
              case l: SList => l.content
              case other => other
            }
            SDictField(f.key, inner)
          case other => SDictField(f.key, mergeRedo(other))
        }
      })
    case t: STuple =>
      t.copy(content = t.content.map(f =>
        STupleField(f.index, mergeRedo(f.value))))
    case l: SList => l.withContent(mergeRedo(l.content))
    case other => other
  }

  private def isContainer(t: SType): Boolean = t match {
    case _: SDict | _: STuple | _: SList => true
    case _ => false
  }

  // ----------------------------------------------------------- helpers

  private def flatten(it: Any): Vector[Any] = {
    val out = Vector.newBuilder[Any]
    def walk(v: Any): Unit = {
      v match {
        case m: scala.collection.Map[_, _] =>
          m.foreach { case (k, value) => walk(k); walk(value) }
        case VTuple(items) => items.foreach(walk)
        case VSources(items) => items.foreach(walk)
        case s: Seq[_] => s.foreach(walk)
        case _ =>
      }
      out += v
    }
    walk(it)
    out.result()
  }
}

object TreeAnalyzer {

  /** analyzer.py:54-63 — ordered: first match wins. */
  val BoolPatterns: Seq[String] =
    Seq("0|1", "f|t", "n|y", "false|true", "no|yes", "off|on", "|x")
  val IntPatterns: Seq[String] = Seq("o", "d", "x")

  /** Item kinds for `matchItems`' census, one bit each. */
  private final val ISources = 1
  private final val ITuple = 2
  private final val ISeq = 4
  private final val IMap = 8
  private final val IScalar = 16

  /** Class tests come first: a failed test against a trait scans the
    * value's class's whole list of interfaces, which for a Scala
    * collection is long.
    */
  private def itemKind(v: Any): Int = v match {
    case null | _: String | _: Long | _: Double | _: Boolean => IScalar
    case _: scala.collection.immutable.AbstractSeq[_] => ISeq
    case _: scala.collection.AbstractMap[_, _] => IMap
    case _: VSources => ISources
    case _: VTuple => ITuple
    case _: Seq[_] => ISeq
    case _: scala.collection.Map[_, _] => IMap
    case _ => IScalar
  }

  /** Extraction path steps (replaces the reference's overloaded
    * pattern-objects-as-path idiom, analyzer.py:472-554).
    */
  sealed trait PathStep
  case object PList extends PathStep
  case object PDictKeys extends PathStep
  final case class PDictField(key: Any, optional: Boolean)
      extends PathStep
  final case class PDictValues(keyType: SType) extends PathStep
  case object PTupleIndices extends PathStep
  final case class PTupleField(index: Int, optional: Boolean)
      extends PathStep
  final case class PTupleValues(indexType: SType) extends PathStep
}
