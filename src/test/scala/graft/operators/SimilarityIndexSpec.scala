package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Hierarchical k-means and IVF index persistence: the scale paths
  * past the flat broadcast-centroid ceiling and the rebuild-per-query
  * index cost.
  */
class SimilarityIndexSpec extends SparkSuite {
  private def vecs: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    (0L until 30L).map(i => (i,
      Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("hierarchical with one coarse cell IS the flat algorithm") {
    // kCoarse = 1 degenerates the grouped refinement to flat Lloyd:
    // same seeds (k hash-smallest ids), same centroid sums, same
    // argmax — so the labels must be IDENTICAL to kmeansLabels (and
    // transitively to q48's unrolled DuckDB oracle)
    val flat = labelMap(Similarity.kmeansLabels(vecs, "vec_id",
      "embedding", k = 4, iters = 2))
    val hier = labelMap(Similarity.kmeansLabelsHierarchical(vecs,
      "vec_id", "embedding", kCoarse = 1, kPerCell = 4, iters = 2))
    assert(hier == flat, s"\nhier=$hier\nflat=$flat")
  }

  test("hierarchical 2x2: total assignment, bounded labels, " +
      "partitioning-deterministic, serves IVF") {
    val labels = Similarity.kmeansLabelsHierarchical(vecs, "vec_id",
      "embedding", kCoarse = 2, kPerCell = 2, iters = 2)
    val m = labelMap(labels)
    // every vector labeled exactly once, labels in [0, 4)
    assert(m.size == 30)
    assert(m.values.forall(l => l >= 0 && l < 4), m)
    assert(m.values.toSet.size > 1, "degenerate single cluster")
    val again = labelMap(Similarity.kmeansLabelsHierarchical(
      vecs.repartition(7), "vec_id", "embedding", 2, 2, iters = 2))
    assert(again == m)
    // the learned hierarchy serves IVF: probing every cell
    // reproduces brute force exactly
    val indexed = vecs.join(
      labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"))
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      0L, 7).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = Similarity.ivfTopK(indexed, "vec_id", "embedding",
        "label", 0L, 7, nprobe = m.values.toSet.size)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == brute, s"\nivf=$full\nbrute=$brute")
  }

  test("persisted IVF index serves identically to a rebuilt one") {
    val s = spark
    val dir = tempDir("ivfindex").toString
    val index = Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      k = 3, iters = 2)
    Similarity.writeIvfIndex(index, dir)
    val loaded = Similarity.readIvfIndex(s, dir)
    // the persisted tables round-trip exactly (slim: n and k·d rows)
    assert(loaded.labels.count() == 30)
    assert(labelMap(loaded.labels) == labelMap(index.labels))
    val indexed = vecs.join(
      loaded.labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"))
    def topk(c: Option[DataFrame]): Seq[(Long, Long)] =
      Similarity.ivfTopK(indexed, "vec_id", "embedding", "label",
          0L, 5, nprobe = 2, centroids = c)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rebuilt = topk(None)
    val served = topk(Some(loaded.centroids))
    assert(served == rebuilt, s"\nserved=$served\nrebuilt=$rebuilt")
    // batch path: same equivalence per query
    def batch(c: Option[DataFrame]): Seq[(Long, Long, Long)] =
      Similarity.ivfTopKBatch(indexed, "vec_id", "embedding",
          "label", indexed.where(col("vec_id") < 3), "vec_id",
          "embedding", k = 4, nprobe = 2, centroids = c)
        .collect().map(r => (r.getAs[Long]("qid"),
          r.getAs[Long]("vec_id"), r.getAs[Long]("rank"))).toSeq
    assert(batch(Some(loaded.centroids)) == batch(None))
  }

  test("label-partitioned corpus + persisted centroids: the IVF " +
      "candidate scan partition-prunes") {
    // the 100 TB serving shape: corpus stored partitioned by the
    // learned label, centroids from the persisted index — the probe
    // semi-join must reach the scan as a PARTITION filter (dynamic
    // partition pruning), so a query touches nprobe partitions, not
    // the corpus
    val s = spark
    val index = Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      k = 3, iters = 2)
    val dir = tempDir("ivfpart").toString
    vecs.join(index.labels.withColumnRenamed("id", "vec_id"),
        Seq("vec_id"))
      .write.partitionBy("label").parquet(s"$dir/corpus")
    val corpus = s.read.parquet(s"$dir/corpus")
    val out = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      "label", 0L, 5, nprobe = 2, centroids = Some(index.centroids))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // pruning pinned on the executed plan: the candidate scan (the
    // one excluding the query row) carries a dynamic-pruning
    // partition filter
    val scanLines = out.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("Scan parquet"))
    val candidateScans = scanLines.filter(_.contains("NOT (vec_id"))
    assert(candidateScans.nonEmpty, scanLines.mkString("\n"))
    assert(candidateScans.forall(_.contains("dynamicpruning")),
      candidateScans.mkString("\n"))
    // and the pruned path returns exactly what the unpartitioned
    // frame returns
    val indexed = vecs.join(
      index.labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"))
    val expect = Similarity.ivfTopK(indexed, "vec_id", "embedding",
        "label", 0L, 5, nprobe = 2, centroids = Some(index.centroids))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == expect, s"\npruned=$rows\nflat=$expect")
  }
}
