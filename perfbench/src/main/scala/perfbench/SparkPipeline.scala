package perfbench

/** The Spark layers in one JVM: a pass runs [[InferFiles]] (the
  * analyzer over part files and incremental ingest) and then
  * [[RankDedup]] (PageRank, HITS, dedup). They share one workload
  * because each Spark JVM pays a cold start of tens of seconds (class
  * loading, first code generation, JIT), which separate workloads
  * would pay once each per run.
  */
final class SparkPipeline extends Workload {
  private val parts = Vector(new InferFiles, new RankDedup)

  val usesSpark = true
  def opsPerPass: Int = parts.map(_.opsPerPass).sum
  def recordsPerPass: Long = parts.map(_.recordsPerPass).sum
  def prepare(ctx: Ctx): Unit = parts.foreach(_.prepare(ctx))
  def pass(ctx: Ctx): AnyRef = parts.map(_.pass(ctx))

  private def each(out: AnyRef) = parts.zip(out.asInstanceOf[Vector[AnyRef]])

  def checkers(ctx: Ctx, out: AnyRef): Seq[Checker[_]] =
    each(out).flatMap { case (w, o) => w.checkers(ctx, o) }
  override def sameOutput(a: AnyRef, b: AnyRef): Boolean =
    each(a).zip(b.asInstanceOf[Vector[AnyRef]]).forall { case ((w, x), y) =>
      w.sameOutput(x, y) }
}
