package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What a workload's pass and checks can reach. `spark` is null for a
  * workload that runs without a SparkSession.
  */
final class Ctx(val spark: SparkSession, val dir: File, val seed: Long,
                val trace: Trace)

/** One independent check of one result of a pass, with deliberately
  * wrong variants of that result it must reject (its negative
  * self-test). Each checker is tested on its own, so one that always
  * passes shows even when another checker would catch the same
  * perturbation.
  */
final class Checker[A](val name: String, out: A, perturbed: Seq[A],
                       check: A => Vector[String]) {
  def errors: Vector[String] = check(out)

  /** Names of the perturbations the check accepted. */
  def missed: Seq[String] = perturbed.zipWithIndex.collect {
    case (p, i) if check(p).isEmpty => s"$name (perturbation ${i + 1})"
  }
}

/** One benchmark workload: seeded inputs made in `prepare`, a timed
  * `pass` of public calls, and checks of every pass's outputs against
  * values computed apart from the program.
  */
abstract class Workload {
  def usesSpark: Boolean

  /** Public calls per pass; each is one operation. */
  def opsPerPass: Int

  /** Input records one pass consumes. */
  def recordsPerPass: Long

  def prepare(ctx: Ctx): Unit

  /** One timed pass; returns what the checks inspect. */
  def pass(ctx: Ctx): AnyRef

  /** The checks of one pass's output, one per result. */
  def checkers(ctx: Ctx, out: AnyRef): Seq[Checker[_]]

  /** Output equality across passes of one run. */
  def sameOutput(a: AnyRef, b: AnyRef): Boolean = a == b
}

object Workload {
  def named(name: String): Workload = name match {
    case "spark_pipeline" => new SparkPipeline
    case "infer_local" => new InferLocal
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A merged structure's rendered views, checked for well-formedness. */
  final case class Rendered(text: String, xml: String)

  /** The checkers of one merged, rendered structure: the walk of its
    * tree against the expected nodes, the text view (it must name every
    * expected record key; no check for a structure without any) and the
    * XML view (it must parse). A tree is perturbed by merging it with
    * itself, which doubles its counts; a text view by dropping its first
    * expected key; an XML view by cutting its last character.
    */
  def structureCheckers(label: String, expected: Map[String, Node],
                        out: (graft.core.SType, Rendered)): Seq[Checker[_]] = {
    val (tree, r) = out
    val keys = InferFiles.keysOf(expected).toVector.sorted
    val treeCheck = new Checker(s"$label tree", tree,
      Seq(graft.core.SType.merge(tree, tree)),
      (t: graft.core.SType) => Shape.diff(label, expected, Shape.walk(t)))
    val textCheck = keys.headOption.map(first =>
      new Checker(s"$label text view", r.text,
        Seq(r.text.replace(s"'$first'", "")),
        (text: String) => keys.filterNot(k => text.contains(s"'$k'"))
          .map(k => s"$label: text view lacks key '$k'")))
    val xmlCheck = new Checker(s"$label XML view", r.xml,
      Seq(r.xml.trim.dropRight(1)), (xml: String) =>
        try {
          javax.xml.parsers.DocumentBuilderFactory.newInstance()
            .newDocumentBuilder().parse(
              new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
          Vector.empty
        } catch {
          case e: Exception => Vector(s"$label: XML is not well formed: $e")
        })
    (treeCheck +: textCheck.toSeq) :+ xmlCheck
  }
}
