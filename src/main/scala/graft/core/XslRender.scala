package graft.core

/** The reference terminal view: a faithful re-implementation of
  * `ui/cli.xsl` (355 lines) + `print_structure`'s style substitution
  * (ui/cli.py:269-307) as a direct walk over the type tree — the same
  * rendering the reference produces by `xml(structure)` → XSLT →
  * private-use-char → ANSI translation, without the XML/XSLT detour.
  *
  * Layout rules reproduced from cli.xsl:
  *  - complex containers (any nested container under content, or more
  *    than one content child) break across lines, 4-space indent per
  *    container ancestor, separator comma at line end, closing
  *    bracket on its own line (templates at cli.xsl:43-100 + the
  *    `indent`/`sep` helpers);
  *  - simple containers render inline with SPACE-padded brackets:
  *    `{ … }` / `[ … ]` / `( … )` (cli.xsl:102-146);
  *  - datetime prints as `timestamp` (cli.xsl:221-227), `int of` /
  *    `float of` drop the epoch description (cli.xsl:249-256),
  *    patterns are double-quoted (cli.xsl:176-183);
  *  - `count=` on scalars shows the DISTINCT count (`summary/@values`,
  *    cli.xsl:261-266); on containers the cardinality;
  *  - min/quartiles appear only at the distinct-count thresholds the
  *    XML emits them at (types.py:106-140: min needs >1 distinct,
  *    q2 >2, q1/q3 >4);
  *  - styles are a state stream: unique underline before the type
  *    color, explicit normal resets where the XSL emits
  *    `$normal-style` (print_structure's palette: type=cyan,
  *    fill/suffix=green, pattern=yellow, optional `?`=red,
  *    ellipsis=green, unique=underline).
  */
object XslRender {

  /** The cli.xsl params; defaults mirror the stylesheet's own
    * (`unique-style='*'`, `optional-suffix='?'`, `ellipsis='..'`).
    */
  final case class Styles(normal: String = "",
                          unique: String = "*",
                          typ: String = "",
                          fill: String = "",
                          suffix: String = "",
                          pattern: String = "",
                          literal: String = "",
                          requiredSuffix: String = "",
                          optionalSuffix: String = "?",
                          ellipsis: String = "..")

  object Styles {
    val plain: Styles = Styles()
    /** print_structure's terminal palette (ui/cli.py:269-283). */
    val ansi: Styles = {
      val esc = "\u001b"
      val n = esc + "[0m"
      Styles(normal = n,
        unique = esc + "[4m",
        typ = esc + "[36m",
        fill = esc + "[32m",
        suffix = esc + "[32m",
        pattern = esc + "[33m",
        literal = n,
        requiredSuffix = "",
        optionalSuffix = esc + "[31m?" + n,
        ellipsis = esc + "[32m.." + n)
    }
  }

  def render(t: SType, o: RenderOptions,
             st: Styles = Styles.plain): String =
    walk(t, o, st, 0)

  // ------------------------------------------------------------ helpers

  private def distinct(s: Stats): Long = s.sample match {
    // a bounded top-K sketch is NOT the distinct count — fall back to
    // the cardinality (overstates distinct, but gates the min/quartile
    // display correctly instead of hiding them behind the sketch size)
    case Some(c) if !s.sampleIsPartial => c.distinct.toLong
    case _ => s.card
  }

  /** Does this subtree contain a container element (the
    * `content//dict|content//list|content//tuple` test)?
    */
  private def hasContainer(t: SType): Boolean = t match {
    case _: SDict | _: STuple | _: SList => true
    case r: SStrRepr => hasContainer(r.content)
    case n: SNumRepr => hasContainer(n.content)
    case _ => false
  }

  private def indent(level: Int): String = "\n" + " " * (4 * level)

  private def fmtV(v: Any): String = Xml.fmtValue(v)

  // --------------------------------------------------------------- walk

  private def walk(t: SType, o: RenderOptions, st: Styles,
                   lvl: Int): String = t match {
    case d: SDict =>
      val complex = d.content.length > 1 ||
        d.content.exists(f => hasContainer(f.value))
      container("{", "}",
        d.content.map(f => fieldView(f, o, st, lvl + 1)),
        d.lengths, complex, o, st, lvl)
    case tp: STuple =>
      val complex = tp.content.length > 1 ||
        tp.content.exists(f => hasContainer(f.value))
      container("(", ")",
        tp.content.map(f => walk(f.value, o, st, lvl + 1)),
        tp.lengths, complex, o, st, lvl)
    case l: SList =>
      container("[", "]", Vector(walk(l.content, o, st, lvl + 1)),
        l.lengths, hasContainer(l.content), o, st, lvl)
    case b: SBool =>
      uniq(b.values, st) + st.typ + "bool" + st.normal
    case i: SInt =>
      uniq(i.values, st) + st.typ + "int" + st.normal +
        valuesView(i.values, o, st)
    case f: SFloat =>
      uniq(f.values, st) + st.typ + "float" + st.normal +
        valuesView(f.values, o, st)
    case d: SDateTime =>
      uniq(d.values, st) + st.typ + "timestamp" + st.normal +
        valuesView(d.values, o, st)
    case u: SURL =>
      uniq(u.values, st) + st.typ + "URL" + st.normal
    case s: SStr =>
      val body =
        if (SType.asLong(s.lengths.max) <= o.strLimit)
          valuesView(s.values, o, st)
        else lengthsView(s.lengths, o, st)
      uniq(s.values, st) + st.typ + "str" + st.normal + body +
        patternSuffix(s.pattern.map(patternRuns(_, st)), o, st)
    case r: SStrRepr =>
      st.typ + "str of " + walk(r.content, o, st, lvl) +
        patternSuffix(Some(st.pattern + r.pattern), o, st)
    case n: SNumRepr =>
      st.typ + (if (n.isFloat) "float of " else "int of ") +
        walk(n.content, o, st, lvl)
    case f: SField =>
      // the key template (cli.xsl:159-162)
      st.normal + SType.pyRepr(f.value)
    case _: SValue => st.typ + "value"
    case SEmpty => st.typ + "empty"
    case other => other.render
  }

  private def fieldView(f: SDictField, o: RenderOptions, st: Styles,
                        lvl: Int): String = {
    val optional = f.key match {
      case k: SField => k.optional
      case _ => false
    }
    walk(f.key, o, st, lvl) +
      (if (optional) st.optionalSuffix else st.requiredSuffix) +
      st.normal + ": " + walk(f.value, o, st, lvl)
  }

  private def container(open: String, close: String,
                        entries: Vector[String], lengths: Stats,
                        complex: Boolean, o: RenderOptions, st: Styles,
                        lvl: Int): String = {
    def sep(last: Boolean): String =
      st.normal + (if (last) "" else ",")
    if (complex) {
      st.normal + open +
        (if (o.showCount)
          st.suffix + " count=" + st.normal +
            Format.formatInt(lengths.card)
         else "") +
        entries.zipWithIndex.map { case (e, i) =>
          indent(lvl + 1) + e + sep(i == entries.length - 1)
        }.mkString +
        indent(lvl) + st.normal + close
    } else {
      open + " " +
        (if (o.showCount)
          st.suffix + "count=" + st.normal +
            Format.formatInt(lengths.card) + " "
         else "") +
        entries.zipWithIndex.map { case (e, i) =>
          e + sep(i == entries.length - 1)
        }.mkString +
        " " + close
    }
  }

  private def uniq(s: Stats, st: Styles): String =
    if (s.unique) st.unique else ""

  /** The `values` template (cli.xsl:258-275): count (distinct), range,
    * samples.
    */
  private def valuesView(s: Stats, o: RenderOptions,
                         st: Styles): String = {
    val count =
      if (o.showCount)
        st.suffix + " count=" + st.normal + Format.formatInt(distinct(s))
      else ""
    val range =
      if (o.showRange > 0)
        st.suffix + " range=" + summaryView(s, o, st)
      else ""
    val samples = s.sample match {
      case Some(c) if o.showSamples && !s.unique =>
        st.suffix + " samples=" + sampleView(c, o, st)
      case _ => ""
    }
    count + range + samples
  }

  private def lengthsView(s: Stats, o: RenderOptions,
                          st: Styles): String =
    if (o.showLengths)
      st.suffix + " lengths=" + summaryView(s, o, st)
    else ""

  /** The `summary` template (cli.xsl:287-315): min only when the XML
    * emits it (distinct > 1), quartiles gated by distinct count AND
    * the range mode, graph mode between min and max.
    */
  private def summaryView(s: Stats, o: RenderOptions,
                          st: Styles): String = {
    val d = distinct(s)
    val hasMin = d > 1
    val sb = new StringBuilder(st.normal)
    if (hasMin) sb ++= fmtV(s.min)
    val graph = if (o.showRange == 4) graphView(s, st) else None
    graph match {
      case Some(g) =>
        sb ++= st.normal + " [" + g + st.normal + "] "
      case None =>
        if (o.showRange > 2 && d > 4) sb ++= st.ellipsis + fmtV(s.q1)
        if (o.showRange > 1 && d > 2) sb ++= st.ellipsis + fmtV(s.q2)
        if (o.showRange > 2 && d > 4) sb ++= st.ellipsis + fmtV(s.q3)
        if (hasMin) sb ++= st.ellipsis
    }
    sb ++= fmtV(s.max)
    sb.result()
  }

  /** The quartile-position bar (types.py `_xml_summary` graph +
    * cli.xsl fill/lit templates), rendered as style runs.
    */
  private def graphView(s: Stats, st: Styles): Option[String] =
    (Xml.numeric(s.min), Xml.numeric(s.max)) match {
      case (Some(mn), Some(mx)) if mx - mn != 0 =>
        val delta = mx - mn
        val cells = Array.fill(10)(".")
        Seq(s.q1, s.q2, s.q3).zipWithIndex.foreach { case (q, n) =>
          Xml.numeric(q).foreach { qv =>
            cells((9 * (qv - mn) / delta).toInt) = (n + 1).toString
          }
        }
        // adjacent same-style cells merge like mergeSiblings
        val sb = new StringBuilder
        var prevFill: Option[Boolean] = None
        cells.foreach { c =>
          val fill = c == "."
          if (!prevFill.contains(fill))
            sb ++= (if (fill) st.fill else st.literal)
          sb ++= c
          prevFill = Some(fill)
        }
        Some(sb.result())
      case _ => None
    }

  private def sampleView(c: ValueCounter, o: RenderOptions,
                         st: Styles): String = {
    val (head, tail) = c.mostCommonEnds(3)
    def one(v: Any, n: Long, last: Boolean): String =
      st.normal + fmtV(v) +
        (if (o.showCount)
          st.fill + " (" + Format.formatInt(n) + ")"
         else "") +
        st.normal + (if (last) "" else ",")
    def run(vs: Seq[(Any, Long)]): String =
      vs.zipWithIndex.map { case ((v, n), i) =>
        one(v, n, last = i == vs.length - 1) }.mkString
    if (tail.isEmpty) run(head)
    else
      head.map { case (v, n) => one(v, n, last = false) }.mkString +
        st.ellipsis + " " + run(tail)
  }

  /** Quoted pattern suffix shared by str / strof (cli.xsl:176-183,
    * 236-246).
    */
  private def patternSuffix(runs: Option[String], o: RenderOptions,
                            st: Styles): String =
    runs match {
      case Some(r) if o.showPattern =>
        st.suffix + " pattern=" + st.normal + "\"" + r +
          st.normal + "\""
      case _ => ""
    }

  /** CharClass runs as lit/pat style spans (adjacent same-tag runs
    * merged, matching `merge_siblings` on the pattern element).
    */
  private def patternRuns(p: Vector[CharClass], st: Styles): String = {
    val sb = new StringBuilder
    var prevLit: Option[Boolean] = None
    p.foreach { cc =>
      val (lit, txt) = cc match {
        case Chars(s) if s.size == 1 => (true, s.head.toString)
        case other => (false, other.render match {
          case r if r.startsWith("[") && r.endsWith("]") =>
            r.drop(1).dropRight(1)
          case r => r
        })
      }
      if (!prevLit.contains(lit))
        sb ++= (if (lit) st.literal else st.pattern)
      sb ++= txt
      prevLit = Some(lit)
    }
    sb.result()
  }
}
