package perfbench

import graft.core.ValueOrdering

/** Expected structure, accumulated in plain Scala while a generator
  * writes its records: per path the kind the analyzer should infer,
  * the count/min/max of the (non-null) values, list lengths, and how
  * often each record field was present.
  *
  * `sparkFields`: the distributed analyzer reads records through a
  * Spark schema, where an absent key and an explicit null are the
  * same null, so every field it reports counts all rows of its level
  * and is never optional. The in-memory analyzer sees absent keys and
  * marks a field optional when some record lacks it.
  */
final class Expect(sparkFields: Boolean) {
  private final class Acc(val kind: String) {
    var card = 0L
    var min: Any = null
    var max: Any = null
    def add(v: Any): Unit = {
      card += 1
      if (min == null || ValueOrdering.compare(v, min) < 0) min = v
      if (max == null || ValueOrdering.compare(v, max) > 0) max = v
    }
  }
  private val accs = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
  private val records = scala.collection.mutable.HashMap.empty[String, Long]
  private val present = scala.collection.mutable.HashMap.empty[String, Long]
  private val parentOf = scala.collection.mutable.HashMap.empty[String, String]
  private val fixed = scala.collection.mutable.LinkedHashMap.empty[String, Node]

  private def acc(path: String, kind: String): Acc = {
    val a = accs.getOrElseUpdate(path, new Acc(kind))
    require(a.kind == kind, s"generator gave $path kinds ${a.kind} and $kind")
    a
  }

  /** A record (mapping with field keys) at `path`. */
  def record(path: String): Unit = {
    acc(path, "record")
    records(path) = records.getOrElse(path, 0L) + 1
  }

  /** Key `name` present in the record at `parent`; returns its path. */
  def key(parent: String, name: String): String =
    field(parent, s"$parent.$name")

  /** Position `i` present in the tuple at `parent`; returns its path. */
  def slot(parent: String, i: Int): String = field(parent, s"$parent($i)")

  private def field(parent: String, p: String): String = {
    parentOf(p) = parent
    present(p) = present.getOrElse(p, 0L) + 1
    p
  }

  /** A tuple (CSV row) of `len` positions at `path`; counted like a
    * record for its positions' presence.
    */
  def tuple(path: String, len: Int): Unit = {
    acc(path, "tuple").add(len.toLong)
    records(path) = records.getOrElse(path, 0L) + 1
  }

  /** A non-null scalar of `kind` at `path`. */
  def value(path: String, kind: String, v: Any): Unit = acc(path, kind).add(v)

  /** A list of `len` items at `path` (items go under `path[]`). */
  def list(path: String, len: Int): Unit = acc(path, "list").add(len.toLong)

  /** A table dict of `len` keys at `path`. */
  def table(path: String, len: Int): Unit = acc(path, "table").add(len.toLong)

  private val summaries = scala.collection.mutable.Set.empty[String]

  /** The scalar at `path` must come from the over-cap summary path. */
  def summary(path: String): Unit = summaries += path

  /** A node whose facts the caller states outright (wrappers). */
  def node(path: String, n: Node): Unit = fixed(path) = n

  def result: Map[String, Node] = {
    val out = accs.map { case (p, a) =>
      val base = a.kind match {
        case "record" => Node("record")
        case k if a.card == 0 => Node(k)
        case k => Node(k, a.card, a.min, a.max)
      }
      p -> fieldFacts(p, if (summaries(p)) base.copy(exact = Some(false))
        else base)
    }
    (out ++ fixed.map { case (p, n) => p -> fieldFacts(p, n) }).toMap
  }

  private def fieldFacts(p: String, n: Node): Node =
    parentOf.get(p) match {
      case Some(parent) if n.count < 0 =>
        val parentRecords = records.getOrElse(parent, 0L)
        if (sparkFields) n.copy(count = parentRecords, optional = Some(false))
        else {
          val c = present.getOrElse(p, 0L)
          n.copy(count = c, optional = Some(c < parentRecords))
        }
      case _ => n
    }
}
