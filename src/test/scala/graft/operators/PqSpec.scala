package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Product quantization: per-subspace codebook training, code words,
  * and the ADC broadcast-LUT scan.
  */
class PqSpec extends SparkSuite {
  // 12 vectors in 8 dims: four orthogonal patterns x three exact
  // copies each; every per-subspace cluster stays PURE (all member
  // sub-vectors identical), so PQ reconstruction is exact and ADC
  // must reproduce the exact cosine ranking
  private val patterns = Seq(
    Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
    Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
    Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f),
    Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f))

  private def fixture: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 12).map(i => (i.toLong, patterns(i % 4)))
      .toDF("vec_id", "embedding")
  }

  test("pqAssign with m = 1 IS flat kmeansLabels") {
    val flat = Similarity.kmeansLabels(fixture, "vec_id",
        "embedding", k = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqAssign(fixture, "vec_id", "embedding",
        dims = 8, m = 1, ksub = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq == flat)
  }

  test("codes are deterministic under repartitioning") {
    def codes(df: DataFrame): Map[Long, Seq[Long]] =
      Similarity.pqCodes(Similarity.pqAssign(df, "vec_id",
          "embedding", dims = 8, m = 2, ksub = 4, iters = 2))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val a = codes(fixture)
    val b = codes(fixture.repartition(7))
    assert(a == b)
    assert(a.values.forall(_.length == 2)) // one code per subspace
  }

  test("ADC on pure clusters reproduces the exact cosine ranking") {
    val df = fixture
    // ksub = n: every vector seeds, each cluster's members share one
    // exact sub-vector value -> reconstruction is exact
    val assign = Similarity.pqAssign(df, "vec_id", "embedding",
      dims = 8, m = 2, ksub = 12, iters = 1)
    val codes = Similarity.pqCodes(assign)
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding",
      dims = 8, m = 2, assign)
    val s = spark
    import s.implicits._
    val qv = Array(1f, 0.5f, 0f, 0f, 1f, 0.5f, 0f, 0f)
    val queries = Seq((999L, qv)).toDF("vec_id", "embedding")
    val got = Similarity.pqTopKAdc(codes, books, queries, "vec_id",
        "embedding", dims = 8, m = 2, k = 12)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // exact cosine on the quantized ints, ties by vec_id — the same
    // ranking ADC must produce when reconstruction is exact
    def cos(v: Array[Float]): Double = {
      val q = qv.map(x => math.round(x.toDouble * 33554432.0))
      val w = v.map(x => math.round(x.toDouble * 33554432.0))
      val dot = q.zip(w).map { case (a, b) => a * b }.sum.toDouble
      dot / (math.sqrt(q.map(a => a * a).sum.toDouble) *
        math.sqrt(w.map(a => a * a).sum.toDouble))
    }
    val want = (0 until 12)
      .map(i => (i.toLong, cos(patterns(i % 4))))
      .sortBy { case (id, c) => (-c, id) }
      .zipWithIndex.map { case ((id, _), r) => (id, r + 1L) }
    assert(got.toSeq == want)
    // and the ranking is the intended one: p0 copies, then p1's
    assert(got.take(6).map(_._1).toSeq == Seq(0L, 4L, 8L, 1L, 5L, 9L))
  }

  test("ivfPqTopK with all cells probed IS pqTopKAdc; fewer probes " +
      "return a candidate-restricted ranking") {
    val df = fixture
    val assign = Similarity.pqAssign(df, "vec_id", "embedding",
      dims = 8, m = 2, ksub = 12, iters = 1)
    val codes = Similarity.pqCodes(assign)
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding",
      dims = 8, m = 2, assign)
    val idx = Similarity.buildIvfIndex(df, "vec_id", "embedding",
      k = 3, iters = 2)
    val s = spark
    import s.implicits._
    val queries = Seq(
      (100L, Array(1f, 0.5f, 0f, 0f, 1f, 0.5f, 0f, 0f)),
      (101L, Array(0f, 0f, 1f, 1f, 0f, 0f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSeq
    val full = rows(Similarity.ivfPqTopK(codes, books, idx.labels,
      idx.centroids, queries, "vec_id", "embedding",
      dims = 8, m = 2, k = 12, nprobe = 3))
    val flat = rows(Similarity.pqTopKAdc(codes, books, queries,
      "vec_id", "embedding", dims = 8, m = 2, k = 12))
    assert(full == flat) // probe-all == brute ADC
    val probed = Similarity.ivfPqTopK(codes, books, idx.labels,
      idx.centroids, queries, "vec_id", "embedding",
      dims = 8, m = 2, k = 12, nprobe = 1)
    // one probed cell: every result comes from that cell, ranks are
    // contiguous from 1, and the restricted ranking preserves the
    // full ADC order on its candidate subset
    val byQ = rows(probed).groupBy(_._1)
    for ((q, rs) <- byQ) {
      assert(rs.map(_._3).sorted == (1L to rs.length).toSeq)
      val fullOrder = full.filter(_._1 == q).sortBy(_._3).map(_._2)
      val subset = rs.sortBy(_._3).map(_._2)
      assert(fullOrder.filter(subset.contains) == subset, s"qid $q")
    }
  }

  test("persisted PQ index serves identically to a rebuilt one") {
    val s = spark
    import s.implicits._
    val dir = tempDir("pqindex").toString
    val index = Similarity.buildPqIndex(fixture, "vec_id",
      "embedding", dims = 8, m = 2, ksub = 12, iters = 1)
    Similarity.writePqIndex(index, dir)
    val loaded = Similarity.readPqIndex(s, dir)
    assert(loaded.codes.count() == 12)
    val queries = Seq((999L,
      Array(1f, 0.5f, 0f, 0f, 1f, 0.5f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    def rows(ix: Similarity.PqIndex) =
      Similarity.pqTopKAdc(ix.codes, ix.codebooks, queries,
          "vec_id", "embedding", dims = 8, m = 2, k = 12)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(rows(loaded) == rows(index))
  }

  test("deduplicateEmbeddings keeps one representative per cosine " +
      "cluster and passes singletons through") {
    val s = spark
    import s.implicits._
    // three copies of each orthogonal pattern (cosine 1 within a
    // pattern, 0 across) plus one singleton
    val rows = (0 until 12).map(i => (i.toLong, patterns(i % 4))) :+
      (99L, Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f))
    val df = rows.toDF("vec_id", "embedding")
    val kept = Similarity.deduplicateEmbeddings(df, "vec_id",
        "embedding", threshold = 0.8, targetPerBucket = 1000L)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // smallest id per pattern cluster + the singleton
    assert(kept == Set(0L, 1L, 2L, 3L, 99L))
    // a threshold above every cross-copy cosine keeps everything
    val all = Similarity.deduplicateEmbeddings(df, "vec_id",
        "embedding", threshold = 1.1)
      .count()
    assert(all == 13L)
  }

  test("salted two-stage adcRank == the single-window top-k") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // 2 queries x 400 candidates with many EXACT score ties (score =
    // id mod 7), so ids spread across every salt bucket and the
    // tie-break path (score desc, id asc) is exercised across salt
    // group boundaries — the case a buggy two-stage cut would break
    val cands = (0 until 2).flatMap(q => (0 until 400).map(i =>
        (q.toLong, i.toLong, (i % 7).toDouble)))
      .toDF("qid", "id", "sc")
    val got = Similarity.adcRank(cands, col("sc"), k = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sc").desc, col("id").asc_nulls_first)
    val want = cands.where(col("id") =!= col("qid"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 9)
      .select(col("qid"), col("id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(r => (r._1, r._3))
    assert(got == want)
  }

  test("pqTopKAdc refuses a scan past maxScanRows, pointing at the " +
      "IVF-pruned path") {
    val df = fixture
    val assign = Similarity.pqAssign(df, "vec_id", "embedding",
      dims = 8, m = 2, ksub = 4, iters = 1)
    val codes = Similarity.pqCodes(assign)
    val books = Similarity.pqCodebooks(df, "vec_id", "embedding",
      dims = 8, m = 2, assign)
    val s = spark
    import s.implicits._
    val queries = Seq((999L,
      Array(1f, 0.5f, 0f, 0f, 1f, 0.5f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    // 12 codes x 1 query = 12 scored rows > budget 11 -> refuse
    val ex = intercept[IllegalStateException] {
      Similarity.pqTopKAdc(codes, books, queries, "vec_id",
        "embedding", dims = 8, m = 2, k = 3, maxScanRows = 11L)
    }
    assert(ex.getMessage.contains("ivfPqTopK"))
    // at the default budget the same call serves fine
    assert(Similarity.pqTopKAdc(codes, books, queries, "vec_id",
      "embedding", dims = 8, m = 2, k = 3).count() == 3L)
  }

  test("pqAssign rejects dims not divisible by m") {
    intercept[IllegalArgumentException] {
      Similarity.pqAssign(fixture, "vec_id", "embedding",
        dims = 8, m = 3, ksub = 2)
    }
  }
}
