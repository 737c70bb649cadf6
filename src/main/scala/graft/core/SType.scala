package graft.core

import java.time.Instant

/** Tuple value wrapper in the dynamic value model: distinguishes
  * heterogeneous records (CSV rows, tuple keys) from homogeneous lists.
  */
final case class VTuple(items: Vector[Any])

/** Marker for the top-level multi-source list (structa
  * types.py:674-675): one element per input file.
  */
final case class VSources(items: Vector[Any])

/** The inferred-structure type algebra.
  *
  * A Scala ADT re-expressing the reference's type lattice (structa
  * types.py:234-1650): containers (dict/tuple/list), scalars with a
  * numeric-widening chain (bool ⊂ int ⊂ float), datetimes, strings with
  * optional per-position character-class patterns, string/numeric
  * representations of other types (`StrRepr`/`NumRepr`), literal record
  * fields, the top type `SValue` (anything) and bottom `SEmpty` (no
  * data).
  *
  * Two operations define the algebra:
  *
  *  - [[SType.matches]] — the compatibility relation ("one is a subclass
  *    of the other", types.py:276-291), with `SValue`/`SEmpty` matching
  *    everything and record-Dicts using a key-overlap similarity
  *    threshold (types.py:1592-1624).
  *  - [[SType.merge]] — anti-unification `+` (types.py passim): sums
  *    samples/stats, widens numerics, unions string patterns, zips
  *    container content (missing keys pair against `SEmpty` → optional
  *    fields), and handles the record-Dict + table-Dict special case by
  *    producing an [[SRedo]] marker for re-analysis (types.py:428-462).
  *
  * Merge is associative/commutative up to canonicalization (content kept
  * sorted; parent class wins on widening) — load-bearing for distributed
  * correctness since Spark merges partial aggregation buffers in
  * arbitrary order.
  */
sealed trait SType {
  /** Node count — the fix-point metric for merging (types.py:293-295). */
  def size: Int

  /** Reference-grammar rendering (types.py __str__ forms). */
  def render: String

  /** Driver-side validation (types.py validate methods): true if
    * `value` conforms to this type.
    */
  def validates(value: Any): Boolean

  override def toString: String = render
}

/** ⊥ — no data / empty container (types.py:1508-1576). */
case object SEmpty extends SType {
  def size = 0
  def render = ""
  def validates(value: Any) = true
}

/** ⊤ — any/mixed type (types.py:1441-1489). `raw` is auxiliary
  * re-analysis bookkeeping and excluded from equality (merge order must
  * not affect structural identity).
  */
final case class SValue(raw: Vector[Any] = Vector.empty) extends SType {
  def size = 1
  def render = "value"
  def validates(value: Any) = true
  override def equals(o: Any): Boolean = o.isInstanceOf[SValue]
  override def hashCode: Int = classOf[SValue].hashCode
}

/** Internal marker: values need re-analysis after merge
  * (types.py:1491-1505). `raw` excluded from equality (see SValue).
  */
final case class SRedo(raw: Vector[Any]) extends SType {
  def size = 1
  def render = throw new IllegalStateException("render of SRedo")
  def validates(value: Any) = true
  override def equals(o: Any): Boolean = o.isInstanceOf[SRedo]
  override def hashCode: Int = classOf[SRedo].hashCode
}

/** Scalar base: carries value statistics (types.py:682-728). */
sealed trait SScalar extends SType {
  def values: Stats
  def size = 1
}

/** types.py:827-879. NB: bool ⊂ int ⊂ float widening chain. */
final case class SBool(values: Stats) extends SScalar {
  def render = "bool"
  def validates(v: Any) = v match {
    case _: Boolean => true
    case i: Long    => i == 0L || i == 1L
    case i: Int     => i == 0 || i == 1
    case _          => false
  }
}

/** types.py:773-824. */
final case class SInt(values: Stats) extends SScalar {
  def render =
    s"int range=${Format.formatBigInt(SType.asBigInt(values.min))}.." +
      Format.formatBigInt(SType.asBigInt(values.max))
  def validates(v: Any) = v match {
    case _: Long | _: Int | _: BigInt =>
      ValueOrdering.compare(values.min, v) <= 0 &&
        ValueOrdering.compare(v, values.max) <= 0
    case _ => false
  }
}

/** types.py:731-770. */
final case class SFloat(values: Stats) extends SScalar {
  def render =
    s"float range=${Format.formatFloat(SType.asDouble(values.min))}.." +
      Format.formatFloat(SType.asDouble(values.max))
  def validates(v: Any) = v match {
    case _: Double | _: Float | _: Long | _: Int | _: BigInt =>
      ValueOrdering.compare(values.min, v) <= 0 &&
        ValueOrdering.compare(v, values.max) <= 0
    case _ => false
  }
}

/** types.py:882-963. Values are java.time.Instant (UTC). */
final case class SDateTime(values: Stats) extends SScalar {
  def render =
    s"datetime range=${Format.formatSample(values.min).stripPrefix("\"").stripSuffix("\"")}.." +
      Format.formatSample(values.max).stripPrefix("\"").stripSuffix("\"")
  def validates(v: Any) = v match {
    case t: Instant =>
      ValueOrdering.compare(values.min, t) <= 0 &&
        ValueOrdering.compare(t, values.max) <= 0
    case _ => false
  }
}

/** types.py:966-1054. `pattern` is per-position char classes for
  * fixed-length strings, None for variable-length/pattern-free.
  */
class SStr(val values: Stats, val lengths: Stats,
           val pattern: Option[Vector[CharClass]]) extends SScalar {
  def render = pattern match {
    case None => "str"
    case Some(p) =>
      "str pattern=" + SType.shorten(p.map(_.render).mkString, 60)
  }
  def validates(v: Any) = v match {
    case s: String =>
      ValueOrdering.compare(values.min, s) <= 0 &&
        ValueOrdering.compare(s, values.max) <= 0 &&
        pattern.forall { p =>
          // positions past the shorter of the two are not checked
          val n = math.min(s.length, p.length)
          var i = 0
          while (i < n && p(i).contains(s.charAt(i))) i += 1
          i == n
        }
    case _ => false
  }
  override def equals(o: Any): Boolean = o match {
    case s: SStr => values == s.values && lengths == s.lengths &&
      pattern == s.pattern && getClass == s.getClass
    case _ => false
  }
  override def hashCode: Int = (values, lengths, pattern).hashCode
}

object SStr {
  def apply(values: Stats, lengths: Stats,
            pattern: Option[Vector[CharClass]] = None): SStr =
    new SStr(values, lengths, pattern)
  def fromCounter(sample: ValueCounter,
                  pattern: Option[Vector[CharClass]] = None): SStr = {
    // same-length values sum their counts
    val lengths = sample.mapKeys(_.asInstanceOf[String].length.toLong)
    new SStr(Stats.fromCounter(sample), Stats.fromCounter(lengths), pattern)
  }
}

/** types.py:1257-1283 — URL specialization of Str. */
final class SURL(values: Stats, lengths: Stats,
                 pattern: Option[Vector[CharClass]])
    extends SStr(values, lengths, pattern) {
  override def render = "URL"
  override def validates(v: Any) = super.validates(v) && (v match {
    case s: String =>
      s.startsWith("http://") || s.startsWith("https://")
    case _ => false
  })
}

object SURL {
  def fromCounter(sample: ValueCounter): SURL = {
    val s = SStr.fromCounter(sample)
    new SURL(s.values, s.lengths, s.pattern)
  }
  def fromSummary(values: Stats, lengths: Stats): SURL =
    new SURL(values, lengths, None)
}

/** String representation of an inner type (types.py:1113-1194).
  * `pattern`: int base "o"/"d"/"x", float "f", bool "false|true", or a
  * strptime-style datetime format.
  */
final case class SStrRepr(content: SType, pattern: String) extends SType {
  def size = 1
  def render = s"str of ${content.render} pattern=$pattern"
  def validates(v: Any) = v match {
    case s: String =>
      SType.parseStrRepr(s, content, pattern).exists(content.validates)
    case _ => false
  }
}

/** Numeric representation of a datetime (types.py:1197-1253).
  * `isFloat` records whether the carrier numbers were floats; scale and
  * offset describe the epoch encoding (seconds-based).
  */
final case class SNumRepr(content: SType, isFloat: Boolean,
                          scale: Double, offset: Double) extends SType {
  def size = 1
  def render = {
    val t = if (isFloat) "float" else "int"
    s"$t ${Format.formatTimestampNumRepr(offset, scale)} of ${content.render}"
  }
  def validates(v: Any) = v match {
    case n @ (_: Long | _: Int | _: Double | _: Float) =>
      content.validates(
        SType.epochToInstant(SType.asDouble(n) * scale + offset))
    case _ => false
  }
}

/** A literal record key (types.py:1320-1438). */
final case class SField(value: Any, count: Long,
                        optional: Boolean = false) extends SType {
  def size = 1
  def render = SType.pyRepr(value) + (if (optional) "*" else "")
  def validates(v: Any) = v == value
}

/** Internal: the set of fields of a record during analysis
  * (types.py:1286-1317).
  */
final case class SFields(fields: Set[SField]) extends SType {
  def size = fields.size
  def sorted: Vector[SField] =
    fields.toVector.sortBy(_.value)(ValueOrdering)
  def render =
    "<" + SType.shorten(sorted.map(_.render).mkString("|"), 60) + ">"
  def validates(v: Any) = fields.exists(_.validates(v))
}

/** One key → value mapping inside a Dict (types.py:482-531). */
final case class SDictField(key: SType, value: SType) {
  def size: Int = key.size + value.size
  def render: String = s"${key.render}: ${value.render}"
}

/** Mappings: "record" dicts have SField keys; "table" dicts have a
  * single scalar key type (types.py:387-467).
  */
final case class SDict(lengths: Stats, content: Vector[SDictField],
                       similarityThreshold: Double = 0.5,
                       raw: Vector[Any] = Vector.empty) extends SType {
  def size = content.map(_.size).sum + 1
  def render = SType.renderContainer(
    content.map(_.render), "{", "}")
  def validates(v: Any) = v.isInstanceOf[scala.collection.Map[_, _]]
  def isRecord: Boolean =
    content.nonEmpty && content.head.key.isInstanceOf[SField]
  // raw is merge-order-dependent bookkeeping; exclude from equality
  override def equals(o: Any): Boolean = o match {
    case d: SDict => lengths == d.lengths && content == d.content &&
      similarityThreshold == d.similarityThreshold
    case _ => false
  }
  override def hashCode: Int = (lengths, content).hashCode
}

/** One positional field inside a Tuple (types.py:582-631). */
final case class STupleField(index: SType, value: SType) {
  def size: Int = index.size + value.size
  def render: String = value.render
}

/** Heterogeneous fixed-arity sequences — CSV rows, JS-style tables
  * (types.py:534-579).
  */
final case class STuple(lengths: Stats, content: Vector[STupleField],
                        raw: Vector[Any] = Vector.empty) extends SType {
  // raw is merge-order-dependent bookkeeping; exclude from equality
  override def equals(o: Any): Boolean = o match {
    case t: STuple => lengths == t.lengths && content == t.content
    case _ => false
  }
  override def hashCode: Int = (lengths, content).hashCode
  def size = content.map(_.size).sum + 1
  def render = SType.renderContainer(content.map(_.render), "(", ")")
  def validates(v: Any) = v match {
    case VTuple(items) =>
      ValueOrdering.compare(lengths.min, items.length.toLong) <= 0 &&
        ValueOrdering.compare(items.length.toLong, lengths.max) <= 0
    case s: Seq[_] =>
      ValueOrdering.compare(lengths.min, s.length.toLong) <= 0 &&
        ValueOrdering.compare(s.length.toLong, lengths.max) <= 0
    case _ => false
  }
  private def ValueOrdering = graft.core.ValueOrdering
}

/** Homogeneous sequences: single content type (types.py:634-672). */
class SList(val lengths: Stats, val content: SType,
            val raw: Vector[Any] = Vector.empty) extends SType {
  def size = content.size + 1
  def render = SType.renderContainer(Vector(content.render), "[", "]")
  def validates(v: Any) = v.isInstanceOf[Seq[_]]
  def withContent(c: SType): SList = new SList(lengths, c, raw)
  override def equals(o: Any): Boolean = o match {
    case l: SList => lengths == l.lengths && content == l.content &&
      getClass == l.getClass
    case _ => false
  }
  override def hashCode: Int = (lengths, content).hashCode
}

object SList {
  def apply(lengths: Stats, content: SType,
            raw: Vector[Any] = Vector.empty): SList =
    new SList(lengths, content, raw)
}

/** Top-level multi-file wrapper (types.py:674-679). */
final class SSourcesList(lengths: Stats, content: SType,
                         raw: Vector[Any] = Vector.empty)
    extends SList(lengths, content, raw) {
  override def withContent(c: SType): SList =
    new SSourcesList(lengths, c, raw)
}

object SSourcesList {
  def apply(lengths: Stats, content: SType,
            raw: Vector[Any] = Vector.empty): SSourcesList =
    new SSourcesList(lengths, content, raw)
}

object SType {

  // ---------------------------------------------------------------- utils

  private[graft] def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case d: Double => d.toLong
    case f: Float => f.toLong
    case b: Boolean => if (b) 1L else 0L
    case b: BigInt => b.longValue // callers needing exactness use asBigInt
    case _ => throw new IllegalArgumentException(s"not numeric: $v")
  }

  /** Exact unbounded-int view (Python-int parity for oversized
    * integer strings; see Conversions.parseInt).
    */
  private[graft] def asBigInt(v: Any): BigInt = v match {
    case b: BigInt => b
    case l: Long => BigInt(l)
    case i: Int => BigInt(i)
    case b: Boolean => if (b) BigInt(1) else BigInt(0)
    case d: Double => BigDecimal(d).toBigInt
    case f: Float => BigDecimal(f.toDouble).toBigInt
    case _ => throw new IllegalArgumentException(s"not numeric: $v")
  }

  private[graft] def asDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case b: Boolean => if (b) 1d else 0d
    case b: BigInt => b.doubleValue
    case _ => throw new IllegalArgumentException(s"not numeric: $v")
  }

  def epochToInstant(seconds: Double): Instant = {
    val sec = math.floor(seconds).toLong
    val nanos = math.round((seconds - sec) * 1e9)
    Instant.ofEpochSecond(sec, nanos)
  }

  /** textwrap.shorten-alike: collapse whitespace, truncate with "..." */
  private[core] def shorten(s: String, width: Int): String = {
    val collapsed = s.trim.replaceAll("\\s+", " ")
    if (collapsed.length <= width) collapsed
    else {
      val cut = collapsed.take(width - 3)
      val lastSpace = cut.lastIndexOf(' ')
      (if (lastSpace > 0) cut.take(lastSpace) else cut) + "..."
    }
  }

  /** Python repr() for field-key rendering. */
  private[core] def pyRepr(v: Any): String = v match {
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case b: Boolean => if (b) "True" else "False"
    case null => "None"
    case p: Product if p.productPrefix.startsWith("Tuple") =>
      p.productIterator.map(pyRepr).mkString("(", ", ", ")")
    case other => other.toString
  }

  /** Dict/Tuple/List `__str__` layout (types.py:413-423 et al.):
    * comma-join; if > 60 chars or contains a newline, switch to
    * one-per-line with 4-space indent.
    */
  private[core] def renderContainer(items: Vector[String], open: String,
                                    close: String): String = {
    if (items.isEmpty) return open + close
    val joined = items.mkString(", ")
    if (joined.contains('\n') || joined.length > 60) {
      val body = items.mkString(",\n")
      val indented = body.linesIterator.map("    " + _).mkString("\n")
      s"$open\n$indented\n$close"
    } else s"$open$joined$close"
  }

  /** Numeric-widening rank: bool(0) ⊂ int(1) ⊂ float(2). */
  private def numRank(t: SType): Int = t match {
    case _: SBool => 0
    case _: SInt => 1
    case _: SFloat => 2
    case _ => -1
  }

  private[core] def parseStrRepr(s: String, content: SType,
                                 pattern: String): Option[Any] =
    content match {
      case _: SBool =>
        val Array(f, t) = { val p = pattern.split("\\|", -1); p }
        val v = s.trim.toLowerCase
        if (v == f) Some(false) else if (v == t) Some(true) else None
      case _: SInt =>
        val base = pattern match {
          case "o" => 8; case "d" => 10; case "x" => 16; case _ => 10
        }
        try Some(java.lang.Long.parseLong(stripBasePrefix(s, base), base))
        catch { case _: NumberFormatException => None }
      case _: SFloat =>
        try Some(s.trim.toDouble)
        catch { case _: NumberFormatException => None }
      case _: SDateTime => Conversions.parseDateTime(s, pattern)
      case nr: SNumRepr =>
        (try Some(s.trim.toDouble)
         catch { case _: NumberFormatException => None })
          .map(d => d * nr.scale + nr.offset)
          .map(epochToInstant)
      case _ => None
    }

  private[graft] def stripBasePrefix(s: String, base: Int): String = {
    val t = s.trim
    val (sign, body) =
      if (t.startsWith("-") || t.startsWith("+")) (t.take(1), t.drop(1))
      else ("", t)
    val stripped = base match {
      case 16 if body.length > 2 &&
        (body.startsWith("0x") || body.startsWith("0X")) => body.drop(2)
      case 8 if body.length > 2 &&
        (body.startsWith("0o") || body.startsWith("0O")) => body.drop(2)
      case _ => body
    }
    sign + stripped
  }

  // ------------------------------------------------------------- matches

  /** The compatibility relation (types.py `__eq__` semantics). */
  def matches(a: SType, b: SType): Boolean = (a, b) match {
    case (SEmpty, _) | (_, SEmpty) => true
    case (_: SValue, _) | (_, _: SValue) => true
    case (_: SRedo, _) | (_, _: SRedo) => true
    case (fa: SField, fb: SField) => fa.value == fb.value
    case (f: SField, other) => other.validates(f.value)
    case (other, f: SField) => other.validates(f.value)
    case (x, y) if numRank(x) >= 0 && numRank(y) >= 0 => true
    case (_: SDateTime, _: SDateTime) => true
    case (_: SStr, _: SStr) => true // includes SURL either side
    case (ra: SStrRepr, rb: SStrRepr) => strReprMatches(ra, rb)
    case (na: SNumRepr, nb: SNumRepr) =>
      matches(na.content, nb.content) &&
        na.scale == nb.scale && na.offset == nb.offset
    case (da: SDict, db: SDict) =>
      zipDict(da, db).exists(_.forall {
        case (Some(f1), Some(f2)) =>
          matches(f1.key, f2.key) && matches(f1.value, f2.value)
        case _ => false
      })
    case (ta: STuple, tb: STuple) =>
      zipTuple(ta, tb).forall { case (f1, f2) =>
        matches(f1.index, f2.index) && matches(f1.value, f2.value)
      }
    case (la: SList, lb: SList) => matches(la.content, lb.content)
    case (fa: SFields, fb: SFields) => fa.fields == fb.fields
    case _ => false
  }

  /** The explicit equality matrix for StrRepr pairs
    * (types.py:1162-1171), ordered (narrower content, wider content).
    */
  private def strReprMatches(a: SStrRepr, b: SStrRepr): Boolean = {
    val (child, parent) =
      if (numRank(a.content) >= 0 && numRank(b.content) >= 0)
        if (numRank(a.content) <= numRank(b.content)) (a, b) else (b, a)
      else (a, b)
    (child.content, parent.content) match {
      case (_: SBool, _: SBool) => child.pattern == parent.pattern
      case (_: SBool, _: SInt) => child.pattern == "0|1"
      case (_: SBool, _: SFloat) => child.pattern == "0|1"
      case (_: SInt, _: SInt) => true
      case (_: SInt, _: SFloat) => child.pattern != "x"
      case (_: SFloat, _: SFloat) => true
      case (_: SDateTime, _: SDateTime) =>
        child.pattern == parent.pattern
      case (x: SNumRepr, y: SNumRepr) => matches(x, y)
      case _ => false
    }
  }

  // ------------------------------------------------------------ zipping

  /** types.py:1592-1624. Returns None when two record-Dicts share too
    * few keys to be considered similar.
    */
  private[graft] def zipDict(da: SDict, db: SDict)
      : Option[Vector[(Option[SDictField], Option[SDictField])]] = {
    val c1 = da.content
    val c2 = db.content
    if (c1.isEmpty || c2.isEmpty)
      return Some(Vector.empty)
    val allFields1 = c1.forall(_.key.isInstanceOf[SField])
    val allFields2 = c2.forall(_.key.isInstanceOf[SField])
    if (allFields1 && allFields2) {
      val m1 = c1.map(f => f.key.asInstanceOf[SField].value -> f).toMap
      val m2 = c2.map(f => f.key.asInstanceOf[SField].value -> f).toMap
      val common = m1.keySet & m2.keySet
      val minCommon = da.similarityThreshold * math.min(m1.size, m2.size)
      if (common.size >= math.ceil(minCommon)) {
        val commonPairs = common.toVector.map(k =>
          (Some(m1(k)): Option[SDictField], Some(m2(k)): Option[SDictField]))
        val only1 = (m1.keySet -- m2.keySet).toVector.map(k =>
          (Some(m1(k)): Option[SDictField],
           Some(SDictField(SEmpty, SEmpty)): Option[SDictField]))
        val only2 = (m2.keySet -- m1.keySet).toVector.map(k =>
          (Some(SDictField(SEmpty, SEmpty)): Option[SDictField],
           Some(m2(k)): Option[SDictField]))
        Some(commonPairs ++ only1 ++ only2)
      } else None
    } else if (allFields1 && !allFields2) {
      Some(c1.map(f => (Some(f): Option[SDictField],
        Some(c2.head): Option[SDictField])))
    } else if (!allFields1 && allFields2) {
      Some(c2.map(f => (Some(c1.head): Option[SDictField],
        Some(f): Option[SDictField])))
    } else {
      Some(Vector((Some(c1.head), Some(c2.head))))
    }
  }

  /** types.py:1580-1589 — zip by index, pad with SEmpty. */
  private[graft] def zipTuple(ta: STuple, tb: STuple)
      : Vector[(STupleField, STupleField)] = {
    def idx(f: STupleField): Any = f.index match {
      case SField(v, _, _) => v
      case other => other
    }
    val m1 = ta.content.map(f => idx(f) -> f).toMap
    val m2 = tb.content.map(f => idx(f) -> f).toMap
    val common = (m1.keySet & m2.keySet).toVector
    val empty = STupleField(SEmpty, SEmpty)
    common.map(k => (m1(k), m2(k))) ++
      (m1.keySet -- m2.keySet).toVector.map(k => (m1(k), empty)) ++
      (m2.keySet -- m1.keySet).toVector.map(k => (empty, m2(k)))
  }

  // -------------------------------------------------------------- merge

  /** Anti-unification `+`. Callers must ensure `matches(a, b)`; throws
    * IllegalArgumentException otherwise (the reference returns
    * NotImplemented → TypeError).
    */
  def merge(a: SType, b: SType): SType = (a, b) match {
    // Empty is the identity; Empty + Field makes the field optional
    // (types.py:1535-1543).
    case (SEmpty, f: SField) => f.copy(optional = true)
    case (f: SField, SEmpty) => f.copy(optional = true)
    case (SEmpty, x) => x
    case (x, SEmpty) => x
    // Value absorbs (types.py:1462-1467).
    case (v: SValue, x) => SValue(v.raw ++ rawOf(x))
    case (x, v: SValue) => SValue(rawOf(x) ++ v.raw)
    case (r: SRedo, x) => SRedo(r.raw ++ rawOf(x))
    case (x, r: SRedo) => SRedo(rawOf(x) ++ r.raw)
    // Field + Field / Field + Scalar / Field + Tuple
    // (types.py:1391-1410).
    case (fa: SField, fb: SField) if fa.value == fb.value =>
      SField(fa.value, fa.count + fb.count, fa.optional || fb.optional)
    case (f: SField, s: SScalar) => mergeFieldIntoScalar(f, s)
    case (s: SScalar, f: SField) => mergeFieldIntoScalar(f, s)
    case (f: SField, t: STuple) => mergeFieldIntoTuple(f, t)
    case (t: STuple, f: SField) => mergeFieldIntoTuple(f, t)
    // Numeric widening: parent class wins (types.py:704-713).
    case (x: SScalar, y: SScalar)
        if numRank(x) >= 0 && numRank(y) >= 0 =>
      val values = x.values.merge(y.values)
      math.max(numRank(x), numRank(y)) match {
        case 0 => SBool(values)
        case 1 => SInt(values)
        case _ => SFloat(values)
      }
    case (x: SDateTime, y: SDateTime) =>
      SDateTime(x.values.merge(y.values))
    // Str: union per-position classes, or drop pattern on length
    // mismatch (types.py:1011-1031). Plain Str (parent) wins over URL.
    case (x: SStr, y: SStr) =>
      val pattern = (x.pattern, y.pattern) match {
        case (Some(p1), Some(p2)) if p1.length == p2.length =>
          Some(p1.zip(p2).map { case (c1, c2) => c1.union(c2) })
        case _ => None
      }
      val values = x.values.merge(y.values)
      val lengths = x.lengths.merge(y.lengths)
      if (x.isInstanceOf[SURL] && y.isInstanceOf[SURL])
        new SURL(values, lengths, pattern)
      else SStr(values, lengths, pattern)
    // StrRepr: for int/int take the widest base o<d<x
    // (types.py:1132-1147).
    case (x: SStrRepr, y: SStrRepr) =>
      val (child, parent) =
        if (numRank(x.content) >= 0 && numRank(y.content) >= 0)
          if (numRank(x.content) <= numRank(y.content)) (x, y) else (y, x)
        else (x, y)
      val pattern =
        if (child.content.isInstanceOf[SInt] &&
            parent.content.isInstanceOf[SInt] &&
            !child.content.isInstanceOf[SBool] &&
            !parent.content.isInstanceOf[SBool]) {
          val bases = Map("o" -> 8, "d" -> 10, "x" -> 16)
          Seq(child.pattern, parent.pattern)
            .maxBy(p => bases.getOrElse(p, 0))
        } else parent.pattern
      SStrRepr(merge(child.content, parent.content), pattern)
    // NumRepr: widen int→float, keep scale+offset
    // (types.py:1223-1243).
    case (x: SNumRepr, y: SNumRepr) =>
      SNumRepr(merge(x.content, y.content), x.isFloat || y.isFloat,
        x.scale, x.offset)
    // Dict: record+table special case → SRedo (types.py:428-462).
    case (x: SDict, y: SDict) =>
      val xRec = x.content.nonEmpty && x.content.forall(
        _.key.isInstanceOf[SField])
      val yRec = y.content.nonEmpty && y.content.forall(
        _.key.isInstanceOf[SField])
      if (xRec != yRec) {
        val (rec, table) = if (xRec) (x, y) else (y, x)
        val key = rec.content.map(_.key).foldLeft(
          table.content.head.key)((acc, f) => merge(f, acc))
        val value = SRedo(
          rec.content.flatMap(f => rawOf(f.value)) ++
            table.content.flatMap(f => rawOf(f.value)))
        SDict(x.lengths.merge(y.lengths),
          Vector(SDictField(key, value)),
          x.similarityThreshold, x.raw ++ y.raw)
      } else {
        val pairs = zipDict(x, y).getOrElse(throw new
            IllegalArgumentException("merge of dissimilar dicts"))
        val content = pairs.map {
          case (Some(f1), Some(f2)) =>
            SDictField(merge(f1.key, f2.key), merge(f1.value, f2.value))
          case _ => throw new IllegalArgumentException(
            "merge of dissimilar dicts")
        }
        SDict(x.lengths.merge(y.lengths), sortDictContent(content),
          x.similarityThreshold, x.raw ++ y.raw)
      }
    case (x: STuple, y: STuple) =>
      val content = zipTuple(x, y).map { case (f1, f2) =>
        STupleField(merge(f1.index, f2.index), merge(f1.value, f2.value))
      }
      STuple(x.lengths.merge(y.lengths), sortTupleContent(content),
        x.raw ++ y.raw)
    case (x: SList, y: SList) =>
      val merged = merge(x.content, y.content)
      val out = x.withContent(merged)
      SList(x.lengths.merge(y.lengths), merged, x.raw ++ y.raw) match {
        case l if out.isInstanceOf[SSourcesList] ||
          y.isInstanceOf[SSourcesList] =>
          SSourcesList(l.lengths, l.content, l.raw)
        case l => l
      }
    case _ =>
      throw new IllegalArgumentException(
        s"cannot merge ${a.getClass.getSimpleName} with " +
          s"${b.getClass.getSimpleName}")
  }

  /** Canonical content order: by field key (types.py:458-460). */
  private[graft] def sortDictContent(
      content: Vector[SDictField]): Vector[SDictField] =
    if (content.forall(_.key.isInstanceOf[SField]))
      content.sortBy(_.key.asInstanceOf[SField].value)(ValueOrdering)
    else content

  private[graft] def sortTupleContent(
      content: Vector[STupleField]): Vector[STupleField] =
    if (content.forall(_.index.isInstanceOf[SField]))
      content.sortBy(_.index.asInstanceOf[SField].value)(ValueOrdering)
    else content

  /** types.py:1391-1410 — fold a literal key into a scalar's sample. */
  private def mergeFieldIntoScalar(f: SField, s: SScalar): SType = {
    val extra = ValueCounter(Map(f.value -> f.count))
    val values = s.values.sample match {
      case Some(c) => Stats.fromCounter(c.merge(extra))
      case None => s.values.merge(Stats.fromCounter(extra))
    }
    s match {
      case _: SBool => SBool(values)
      case _: SInt => SInt(values)
      case _: SFloat => SFloat(values)
      case _: SDateTime => SDateTime(values)
      case str: SStr =>
        val lenExtra = ValueCounter(Map(
          (f.value.toString.length.toLong: Any) -> f.count))
        val lengths = str.lengths.sample match {
          case Some(c) => Stats.fromCounter(c.merge(lenExtra))
          case None => str.lengths.merge(Stats.fromCounter(lenExtra))
        }
        if (str.isInstanceOf[SURL]) new SURL(values, lengths, str.pattern)
        else SStr(values, lengths, str.pattern)
    }
  }

  private def mergeFieldIntoTuple(f: SField, t: STuple): SType = {
    val len: Long = f.value match {
      case p: Product => p.productArity.toLong
      case s: Seq[_] => s.length.toLong
      case s: String => s.length.toLong
      case _ => 1L
    }
    val extra = Stats.fromCounter(ValueCounter(Map((len: Any) -> f.count)))
    t.copy(lengths = t.lengths.merge(extra))
  }

  /** Raw sample recovery (reference `.sample` property): scalars expand
    * their counters; containers carry raw values.
    */
  private[graft] def rawOf(t: SType): Vector[Any] = t match {
    case s: SScalar =>
      s.values.sample match {
        case Some(c) =>
          val out = Vector.newBuilder[Any]
          c.foreachEntry((v, n) =>
            out ++= Iterator.fill(math.min(n, Int.MaxValue).toInt)(v))
          out.result()
        case None => Vector.empty
      }
    case r: SStrRepr => rawOf(r.content)
    case n: SNumRepr => rawOf(n.content)
    case d: SDict => d.raw
    case t: STuple => t.raw
    case l: SList => l.raw
    case v: SValue => v.raw
    case r: SRedo => r.raw
    case f: SField => Vector.fill(
      math.min(f.count, Int.MaxValue).toInt)(f.value)
    case _ => Vector.empty
  }
}
