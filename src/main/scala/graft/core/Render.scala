package graft.core

/** Rendering toggles mirroring the reference CLI's show/hide surface
  * (structa ui/cli.py:96-143, applied by ui/cli.xsl): counts, string
  * length ranges, fixed-length patterns, numeric range detail
  * (hidden/limits/median/quartiles/graph), value samples, and the
  * string length limit beyond which values give way to lengths.
  */
final case class RenderOptions(
    showCount: Boolean = false,
    showLengths: Boolean = false,
    showPattern: Boolean = true,
    /** 0 hidden, 1 limits, 2 median, 3 quartiles, 4 graph
      * (RANGE_CONFIGS, ui/cli.py:59-65).
      */
    showRange: Int = 1,
    showSamples: Boolean = false,
    strLimit: Int = 20)

object RenderOptions {
  val default: RenderOptions = RenderOptions()
  def rangeMode(name: String): Int = name match {
    case "hidden" => 0
    case "limits" => 1
    case "median" => 2
    case "quartiles" => 3
    case "graph" => 4
    case other =>
      throw new IllegalArgumentException(s"unknown range mode: $other")
  }
}

/** Verbose rendering: the compact reference grammar annotated with
  * per-node statistics and value samples — the text equivalent of the
  * reference's `--show-count` / `--show-samples` XML output
  * (structa types.py:95-160 `_xml_summary`/`_xml_sample`,
  * ui/cli.py options at 96-143).
  */
object Render {

  // ------------------------------------------------ configurable view

  /** ANSI style roles mirroring the reference terminal palette
    * (ui/cli.py:269-283: type=cyan, fill/suffix=green,
    * pattern=yellow).
    */
  final case class Style(typ: String => String,
                         suffix: String => String,
                         pat: String => String)

  object Style {
    val plain: Style = Style(identity, identity, identity)
    private def c(code: Int)(s: String) = "\u001b[" + code + "m" + s + "\u001b[0m"
    val ansi: Style = Style(c(36), c(32), c(33))
  }

  /** The reference CLI's configurable view (the role of ui/cli.xsl,
    * re-expressed over our grammar without the XML layer):
    * honors every show/hide toggle plus the str-limit rule — string
    * VALUE ranges display only while the longest value fits
    * `strLimit`; longer strings fall back to their length range
    * (cli.xsl:168-176).
    */
  def configured(t: SType, o: RenderOptions): String =
    walkC(t, o)(Style.plain)

  /** The styled terminal view: the cli.xsl layout with
    * print_structure's ANSI palette (ui/cli.py:269-307) — see
    * [[XslRender]] for the layout rules.
    */
  def styled(t: SType, o: RenderOptions): String =
    XslRender.render(t, o, XslRender.Styles.ansi)

  private def summaryC(s: Stats, o: RenderOptions,
                       fmt: Any => String)
                      (implicit st: Style): String = {
    val dots = st.suffix("..")
    o.showRange match {
      case 0 => ""
      case 2 =>
        st.suffix(" range=") +
          s"${fmt(s.min)}$dots${fmt(s.q2)}$dots${fmt(s.max)}"
      case 3 =>
        st.suffix(" range=") +
          s"${fmt(s.min)}$dots${fmt(s.q1)}$dots${fmt(s.q2)}$dots" +
          s"${fmt(s.q3)}$dots${fmt(s.max)}"
      case 4 =>
        st.suffix(" range=") +
          s"${fmt(s.min)} [${fmt(s.q1)} ${fmt(s.q2)} " +
          s"${fmt(s.q3)}] ${fmt(s.max)}"
      case _ =>
        st.suffix(" range=") + s"${fmt(s.min)}$dots${fmt(s.max)}"
    }
  }

  private def valuesC(s: Stats, o: RenderOptions,
                      fmt: Any => String)
                     (implicit st: Style): String = {
    val count =
      if (o.showCount)
        st.suffix(" count=") + Format.formatInt(s.card)
      else ""
    val range = summaryC(s, o, fmt)
    val samples = s.sample match {
      // non-unique only, like the reference display rule
      // (types.py:146-160)
      case Some(c) if o.showSamples && !s.unique =>
        val (head, tail) = c.mostCommonEnds(3)
        val shown = head ++ tail
        st.suffix(" samples=") + shown.map { case (v, n) =>
          s"${fmt(v)}×${Format.formatInt(n)}"
        }.mkString(" ")
      case _ => ""
    }
    count + range + samples
  }

  private def dtFmt(v: Any): String =
    Format.formatSample(v).stripPrefix("\"").stripSuffix("\"")

  private def walkC(t: SType, o: RenderOptions)
                   (implicit st: Style): String = t match {
    case b: SBool => st.typ("bool")
    case i: SInt =>
      st.typ("int") + valuesC(i.values, o, Format.formatSample)
    case f: SFloat =>
      st.typ("float") + valuesC(f.values, o, Format.formatSample)
    case d: SDateTime =>
      st.typ("datetime") + valuesC(d.values, o, dtFmt)
    case u: SURL => st.typ("URL")
    case s: SStr =>
      val body =
        if (SType.asLong(s.lengths.max) <= o.strLimit)
          valuesC(s.values, o, Format.formatSample)
        else if (o.showLengths)
          st.suffix(" lengths=") +
            s"${Format.formatSample(s.lengths.min)}${st.suffix("..")}" +
            Format.formatSample(s.lengths.max)
        else ""
      val pat = s.pattern match {
        case Some(p) if o.showPattern =>
          st.suffix(" pattern=") +
            st.pat(SType.shorten(p.map(_.render).mkString, 60))
        case _ => ""
      }
      st.typ("str") + body + pat
    case r: SStrRepr =>
      val pat =
        if (o.showPattern)
          st.suffix(" pattern=") + st.pat(r.pattern)
        else ""
      st.typ("str of ") + walkC(r.content, o) + pat
    case n: SNumRepr =>
      val kind = if (n.isFloat) "float" else "int"
      st.typ(kind) +
        s" ${Format.formatTimestampNumRepr(n.offset, n.scale)} of " +
        walkC(n.content, o)
    case d: SDict =>
      SType.renderContainer(d.content.map(f =>
        s"${f.key.render}: ${walkC(f.value, o)}"), "{", "}") +
        countSuffix(d.lengths, o)
    case tp: STuple =>
      SType.renderContainer(tp.content.map(f => walkC(f.value, o)),
        "(", ")") + countSuffix(tp.lengths, o)
    case l: SList =>
      SType.renderContainer(Vector(walkC(l.content, o)), "[", "]") +
        countSuffix(l.lengths, o)
    case other => other.render
  }

  private def countSuffix(s: Stats, o: RenderOptions)
                         (implicit st: Style): String =
    if (o.showCount)
      st.suffix(" count=") + Format.formatInt(s.card)
    else ""

}
