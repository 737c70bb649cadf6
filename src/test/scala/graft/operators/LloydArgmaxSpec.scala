package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The in-row Lloyd argmax (lloyd_argmax / lloyd_argmax_residual —
  * the r15 one-aggregation-per-iteration rewrite) reproduces the
  * legacy join+window formulation BIT-FOR-BIT: same seeds, same
  * exact-integer dots, same double scores, same label-asc
  * tie-breaks, zero-norm residual clusters ranked NULLS LAST with
  * the label-0 fallback. The legacy recurrence is re-spelled inline
  * here (it was the shipped implementation through r14, and is what
  * the DuckDB oracle unrolls).
  */
class LloydArgmaxSpec extends SparkSuite {
  /** Deterministic fixture: 60 vectors of 8 dims; ids 50+ are exact
    * DUPLICATES of id 0/1 (zero-norm residual clusters in the
    * residual run), and a few pairs are scaled copies (cosine ties —
    * the label-asc tie-break must decide identically).
    */
  private def fixture(): DataFrame = {
    val sp = spark; import sp.implicits._
    (0L until 60L).map { i =>
      val base =
        if (i >= 50) (i % 2)            // duplicates of 0/1
        else i
      val scale = if (i >= 40 && i < 50) 2.0 else 1.0 // cosine ties
      val v = (0 until 8).map(d =>
        (((base * 7 + d * 3) % 11).toDouble - 5.0) * scale / 4.0f)
        .map(_.toFloat).toArray
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  /** The legacy kmeans recurrence (pre-r15 shipped shape): seeds by
    * hash order, per-iteration exact centroid sums + join + window
    * argmax.
    */
  private def legacyKmeans(df: DataFrame, k: Int,
                           iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quant = (c: org.apache.spark.sql.Column) =>
      round(c.cast("double") * 33554432.0).cast("long")
    val comps = df.select(col("vec_id").as("id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("id"), col("dim"), quant(col("x")).as("qx"))
    val hashOrder = Seq(Sampling.hash32(col("id")).asc,
      col("id").asc_nulls_first)
    val seeds = df.select(col("vec_id").as("id"))
      .orderBy(hashOrder: _*).limit(k)
      .select(col("id"), (row_number().over(Window
        .partitionBy(pmod(Sampling.hash32(col("id")), lit(1)))
        .orderBy(hashOrder: _*)) - 1).cast("long").as("label"))
    var labels = seeds.localCheckpoint(true)
    for (_ <- 0 until iters) {
      val cents = comps.join(labels, Seq("id"))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("qx")).as("s"))
        .localCheckpoint(true)
      val norms = cents.groupBy(col("label"))
        .agg(sum(col("s").cast("decimal(38,0)") * col("s"))
          .as("s2"))
      val wid = Window.partitionBy(col("id"))
        .orderBy(col("__sc").desc, col("label").asc_nulls_first)
      labels = comps.join(broadcast(cents), Seq("dim"))
        .groupBy(col("id"), col("label"))
        .agg(sum(col("qx").cast("decimal(38,0)") * col("s"))
          .as("dot"))
        .join(broadcast(norms), Seq("label"))
        .select(col("id"), col("label"),
          (col("dot").cast("double") /
            sqrt(col("s2").cast("double"))).as("__sc"))
        .withColumn("__rn", row_number().over(wid))
        .where(col("__rn") === 1)
        .select(col("id"), col("label"))
        .localCheckpoint(true)
    }
    labels
  }

  private def asMap(df: DataFrame,
                    keyCols: Seq[String]): Map[Seq[Any], Long] =
    df.collect().map(r =>
      keyCols.map(c => r.get(r.fieldIndex(c))) ->
        r.getLong(r.fieldIndex("label"))).toMap

  test("kmeansLabels == legacy join+window recurrence") {
    val df = fixture()
    for (iters <- 0 to 3) {
      val got = asMap(
        Similarity.kmeansLabels(df, "vec_id", "embedding", k = 4,
          iters = iters), Seq("id"))
      val want = asMap(legacyKmeans(df, 4, iters), Seq("id"))
      assert(got == want, s"iters=$iters")
    }
  }

  test("pqAssign == legacy recurrence via the shipped PQ oracle " +
      "pin shape (every id assigned, labels in range, ties stable)") {
    val df = fixture()
    // the full legacy PQ recurrence is pinned end-to-end by
    // PqSpec/ResidualPqSpec and the q60/q61/q68 oracles; here pin
    // the structural contract plus cross-run determinism
    val a1 = Similarity.pqAssign(df, "vec_id", "embedding",
      dims = 8, m = 4, ksub = 3, iters = 2).collect().toSet
    val a2 = Similarity.pqAssign(df, "vec_id", "embedding",
      dims = 8, m = 4, ksub = 3, iters = 2).collect().toSet
    assert(a1 == a2)
    assert(a1.size == 60 * 4)
    assert(a1.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 3))
  }

  test("pqAssignResidual: duplicate-heavy cells (zero-norm residual" +
      " clusters) assign deterministically with the label fallback") {
    val df = fixture()
    val idx = Similarity.buildIvfIndex(df, "vec_id", "embedding",
      k = 2, iters = 1)
    val r1 = Similarity.pqAssignResidual(df, "vec_id", "embedding",
      dims = 8, m = 2, ksub = 2, ivfLabels = idx.labels,
      ivfCentroids = idx.centroids, iters = 2).collect().toSet
    val r2 = Similarity.pqAssignResidual(df, "vec_id", "embedding",
      dims = 8, m = 2, ksub = 2, ivfLabels = idx.labels,
      ivfCentroids = idx.centroids, iters = 2).collect().toSet
    assert(r1 == r2)
    assert(r1.size == 60 * 2)
    assert(r1.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 2))
  }
}
