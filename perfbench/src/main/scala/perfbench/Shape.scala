package perfbench

import java.time.Instant

import graft.core._

/** One node of an inferred structure, flattened to the facts the
  * checks compare: its kind, the cardinality/min/max of its value
  * statistics (list lengths for lists) and, for a record field, the
  * SField count and optional marker; for a scalar, whether its
  * statistics carry the exact value counter (false on the analyzer's
  * over-cap summary path).
  */
final case class Node(kind: String, card: Long = -1L, min: Any = null,
                      max: Any = null, count: Long = -1L,
                      optional: Option[Boolean] = None,
                      exact: Option[Boolean] = None)

/** Walks an [[SType]] tree (not its rendering) into path → [[Node]].
  *
  * Paths: `[]` descends into a list's content, `.name` into a record
  * field, `{}` into a table dict's values (its keys sit at `{}#key`).
  */
object Shape {

  def walk(t: SType, root: String = ""): Map[String, Node] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Node]
    def scalar(kind: String, s: Stats) = Node(kind, s.card, s.min, s.max,
      exact = Some(s.sample.isDefined && !s.sampleIsPartial))
    def leaf(t: SType): Node = t match {
      case s: SURL => scalar("url", s.values)
      case s: SStr =>
        scalar(if (s.pattern.isDefined) "str-pattern" else "str", s.values)
      case SBool(s) => scalar("bool", s)
      case SInt(s) => scalar("int", s)
      case SFloat(s) => scalar("float", s)
      case SDateTime(s) => scalar("datetime", s)
      case SStrRepr(c, p) =>
        val inner = leaf(c)
        inner.copy(kind = s"str(${inner.kind}:$p)")
      case SNumRepr(c, isFloat, _, _) =>
        val inner = leaf(c)
        inner.copy(kind = s"num(${if (isFloat) "float" else "int"}:" +
          s"${inner.kind})")
      case _: SValue => Node("value")
      case SEmpty => Node("empty")
      case other => Node(other.getClass.getSimpleName)
    }
    def go(t: SType, path: String, field: Option[SField]): Unit = {
      def put(n: Node): Unit = out(path) = field.fold(n)(f =>
        n.copy(count = f.count, optional = Some(f.optional)))
      t match {
        case l: SList =>
          put(Node(if (l.isInstanceOf[SSourcesList]) "sources" else "list",
            l.lengths.card, l.lengths.min, l.lengths.max))
          go(l.content, path + "[]", None)
        case d: SDict if d.isRecord =>
          put(Node("record"))
          d.content.foreach { f =>
            val k = f.key.asInstanceOf[SField]
            go(f.value, s"$path.${k.value}", Some(k))
          }
        case d: SDict =>
          put(Node("table", d.lengths.card, d.lengths.min, d.lengths.max))
          d.content.foreach { f =>
            out(path + "{}#key") = leaf(f.key)
            go(f.value, path + "{}", None)
          }
        case tu: STuple =>
          put(Node("tuple", tu.lengths.card, tu.lengths.min, tu.lengths.max))
          tu.content.zipWithIndex.foreach { case (f, i) =>
            val k = f.index match { case s: SField => Some(s); case _ => None }
            go(f.value, s"$path($i)", k)
          }
        case other => put(leaf(other))
      }
    }
    go(t, root, None)
    out.toMap
  }

  /** Same value as the analyzer reports it? Numbers compare by value
    * (a JSON float column may hold integral doubles), everything else
    * by equality.
    */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Instant, y: Instant) => x == y
    case (x: String, y: String) => x == y
    case (x: Boolean, y: Boolean) => x == y
    case (x, y) if num(x).isDefined && num(y).isDefined =>
      num(x).get.compare(num(y).get) == 0
    case _ => a == b
  }

  private def num(v: Any): Option[BigDecimal] = v match {
    case l: Long => Some(BigDecimal(l))
    case i: Int => Some(BigDecimal(i))
    case d: Double => Some(BigDecimal(d))
    case b: BigInt => Some(BigDecimal(b))
    case _ => None
  }

  /** Differences between an expected and an observed flattening, one
    * line each; empty when they agree on every path and fact.
    */
  def diff(label: String, expected: Map[String, Node],
           observed: Map[String, Node]): Vector[String] = {
    val missing = expected.keySet.diff(observed.keySet).toVector.sorted
      .map(p => s"$label: missing path $p")
    val extra = observed.keySet.diff(expected.keySet).toVector.sorted
      .map(p => s"$label: unexpected path $p (${observed(p)})")
    val wrong = expected.keySet.intersect(observed.keySet).toVector.sorted
      .flatMap { p =>
        val (e, o) = (expected(p), observed(p))
        val bad =
          (e.kind != o.kind) ||
          (e.card >= 0 && e.card != o.card) ||
          (e.min != null && !same(e.min, o.min)) ||
          (e.max != null && !same(e.max, o.max)) ||
          (e.count >= 0 && e.count != o.count) ||
          (e.optional.isDefined && e.optional != o.optional) ||
          (e.exact.isDefined && e.exact != o.exact)
        if (bad) Some(s"$label: $p expected $e, got $o") else None
      }
    missing ++ extra ++ wrong
  }
}
