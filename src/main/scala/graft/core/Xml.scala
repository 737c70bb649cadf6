package graft.core

import java.time.Instant

/** The reference's XML output surface (structa xml.py:16-177 +
  * the per-type `__xml__` methods across types.py), re-expressed over
  * our ADT without an lxml dependency: a minimal immutable element
  * model with mixed text/element children (which subsumes lxml's
  * text/tail split), the `merge_siblings` consolidation, and
  * [[Xml.of]] producing each type's element form:
  *
  *  - containers: `<dict>/<tuple>/<list>` wrapping `<content>` +
  *    `<lengths>`; dict fields as `<field><key/>…</field>`
  *  - scalars: `<bool>/<int>/<float>/<datetime>/<str>/<url>` wrapping
  *    `<values>` (a `<summary>` with min/q1/q2/q3/max, the quartile
  *    position `<graph>`, values/count/unique attributes, and a
  *    `<sample>` of most/least-common values when not unique)
  *  - representations: `<strof>`, `<intof scale offset>`,
  *    `<floatof scale offset>`; string patterns as `<pattern>` of
  *    `<lit>`/`<pat>` runs (adjacent same-tag runs merged)
  *  - `<value/>` and `<empty/>` for ⊤/⊥
  *
  * The XSLT/ANSI terminal layer is [[XslRender]] (the cli.xsl layout
  * re-implemented as a direct tree walk); [[Render.configured]] is
  * the text-grammar configurable view.
  */
object Xml {

  sealed trait XNode {
    def serialize: String
  }

  final case class XText(text: String) extends XNode {
    def serialize: String = escape(text)
  }

  final case class XElem(tag: String,
                         attrs: Vector[(String, String)] = Vector.empty,
                         children: Vector[XNode] = Vector.empty)
      extends XNode {
    def serialize: String = {
      val a = attrs.map { case (k, v) =>
        s""" $k="${escape(v)}"""" }.mkString
      if (children.isEmpty) s"<$tag$a/>"
      else s"<$tag$a>${children.map(_.serialize).mkString}</$tag>"
    }
  }

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private def elem(tag: String, children: XNode*): XElem =
    XElem(tag, Vector.empty, children.toVector)

  private def text(s: String): XText = XText(s)

  /** xml.py:33-65 — consolidate adjacent same-tag direct children
    * (whitespace-only text between them is absorbed).
    */
  def mergeSiblings(e: XElem): XElem = {
    val out = Vector.newBuilder[XNode]
    var pending: Option[XElem] = None
    var ws = ""
    def flush(): Unit = {
      pending.foreach(out += _)
      if (ws.nonEmpty) out += text(ws)
      pending = None; ws = ""
    }
    e.children.foreach {
      case t: XText if t.text.trim.isEmpty && pending.isDefined =>
        ws += t.text
      case el: XElem =>
        pending match {
          case Some(p) if p.tag == el.tag =>
            pending = Some(p.copy(children = p.children ++ el.children))
            ws = ""
          case _ =>
            flush()
            pending = Some(el)
        }
      case other =>
        flush()
        out += other
    }
    flush()
    e.copy(children = out.result())
  }

  // ------------------------------------------------------------- stats

  /** Numeric view of a stats value (shared with [[XslRender]]). */
  private[core] def numeric(v: Any): Option[Double] = numericValue(v)

  private def numericValue(v: Any): Option[Double] = v match {
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case b: Boolean => Some(if (b) 1d else 0d)
    case b: BigInt => Some(b.doubleValue)
    case t: Instant => Some(t.getEpochSecond.toDouble)
    case _ => None
  }

  /** XML text form of a stats value (shared with [[XslRender]]). */
  private[core] def fmtValue(v: Any): String = fmt(v)

  private def fmt(v: Any): String = v match {
    case s: String => "\"" + s.replace("\"", "\"\"") + "\""
    case other => Format.formatSample(other) match {
      case q if q.startsWith("\"") => q
      case plain => plain
    }
  }

  /** types.py:106-140 `_xml_summary`. */
  private def statsSummary(s: Stats): XElem = {
    // a bounded top-K sketch is not the distinct count (scale mode)
    val distinct = s.sample match {
      case Some(c) if !s.sampleIsPartial => c.distinct.toLong
      case _ => s.card
    }
    val kids = Vector.newBuilder[XNode]
    if (distinct > 1) kids += elem("min", text(fmt(s.min)))
    if (distinct > 4) kids += elem("q1", text(fmt(s.q1)))
    if (distinct > 2) kids += elem("q2", text(fmt(s.q2)))
    if (distinct > 4) kids += elem("q3", text(fmt(s.q3)))
    kids += elem("max", text(fmt(s.max)))
    (numericValue(s.min), numericValue(s.max)) match {
      case (Some(mn), Some(mx)) if mx - mn != 0 =>
        val delta = mx - mn
        val cells = Array.fill(10)(".")
        Seq(s.q1, s.q2, s.q3).zipWithIndex.foreach { case (q, n) =>
          numericValue(q).foreach { qv =>
            cells((9 * (qv - mn) / delta).toInt) = (n + 1).toString
          }
        }
        kids += mergeSiblings(elem("graph", cells.toVector.map(c =>
          if (c == ".") elem("fill", text(c)) else elem("lit", text(c))
        ): _*))
      case _ => ()
    }
    XElem("summary",
      Vector(
        "values" -> Format.formatInt(distinct),
        "count" -> Format.formatInt(s.card)) ++
        (if (s.unique) Vector("unique" -> "unique") else Vector.empty),
      kids.result())
  }

  /** types.py:142-160 `_xml_sample`. */
  private def statsSample(s: Stats): Vector[XNode] = s.sample match {
    case None => Vector.empty
    case Some(c) =>
      val (head, tail) = c.mostCommonEnds(3)
      def values(vs: Seq[(Any, Long)]): Vector[XNode] =
        vs.toVector.map { case (v, n) =>
          XElem("value", Vector("count" -> Format.formatInt(n)),
            Vector(text(fmt(v))))
        }
      val kids =
        if (tail.isEmpty) values(head)
        else values(head) ++ Vector(elem("more")) ++ values(tail)
      Vector(elem("sample", kids: _*))
  }

  /** Stats.__xml__ (types.py:100-104): summary + sample-if-not-unique;
    * callers splice these children into their own wrapper.
    */
  def statsChildren(s: Stats): Vector[XNode] =
    statsSummary(s) +: (if (s.unique) Vector.empty else statsSample(s))

  private def statsElem(s: Stats): XElem =
    XElem("stats", Vector.empty, statsChildren(s))

  // -------------------------------------------------------------- types

  private def charClassXml(c: CharClass): XElem = c match {
    case Chars(s) if s.isEmpty => elem("pat")
    case Chars(s) if s.size == 1 => elem("lit", text(s.head.toString))
    case other => elem("pat", text(other.render match {
      case r if r.startsWith("[") && r.endsWith("]") => r.drop(1).dropRight(1)
      case r => r
    }))
  }

  private def patternElem(p: Vector[CharClass]): XElem =
    mergeSiblings(XElem("pattern", Vector.empty,
      p.map(charClassXml(_): XNode)))

  private def valuesWrapper(values: Stats): XElem =
    elem("values", statsChildren(values): _*)

  /** The xml() entry point: the element form of a type tree. */
  def of(t: SType): XElem = t match {
    case u: SURL =>
      XElem("url",
        u.pattern.map(p => "pattern" ->
          p.map(_.render).mkString).toVector,
        Vector(valuesWrapper(u.values)))
    case s: SStr =>
      val kids = Vector.newBuilder[XNode]
      kids += valuesWrapper(s.values)
      kids += elem("lengths", statsChildren(s.lengths): _*)
      s.pattern.foreach(p => kids += patternElem(p))
      XElem("str", Vector.empty, kids.result())
    case b: SBool => elem("bool", valuesWrapper(b.values))
    case i: SInt => elem("int", valuesWrapper(i.values))
    case f: SFloat => elem("float", valuesWrapper(f.values))
    case d: SDateTime => elem("datetime", valuesWrapper(d.values))
    case r: SStrRepr =>
      elem("strof", of(r.content),
        elem("pattern", elem("pat", text(r.pattern))))
    case n: SNumRepr =>
      XElem(if (n.isFloat) "floatof" else "intof",
        Vector("scale" -> Format.formatFloat(n.scale),
          "offset" -> Format.formatFloat(n.offset)),
        Vector(of(n.content)))
    case d: SDict =>
      elem("dict",
        elem("content", d.content.map(f =>
          elem("field", of(f.key), of(f.value)): XNode): _*),
        elem("lengths", statsElem(d.lengths)))
    case tp: STuple =>
      elem("tuple",
        elem("content", tp.content.map(f => of(f.value): XNode): _*),
        elem("lengths", statsElem(tp.lengths)))
    case l: SList =>
      elem("list",
        elem("content", of(l.content)),
        elem("lengths", statsElem(l.lengths)))
    case f: SField =>
      XElem("key",
        if (f.optional) Vector("optional" -> "optional")
        else Vector.empty,
        Vector(text(SType.pyRepr(f.value))))
    case fs: SFields =>
      elem("content", fs.sorted.map(of(_): XNode): _*)
    case _: SValue => elem("value")
    case SEmpty => elem("empty")
    case _ => elem("type")
  }

  /** Serialized form, the `tostring(xml(structure))` equivalent. */
  def toStringOf(t: SType): String = of(t).serialize
}
