package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.SparkSuite

/** Behavioral tests for the pipeline operators on controlled inputs
  * with known duplicates/neighbors (the sf tables have none).
  */
class OperatorsSpec extends SparkSuite {
  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup counts duplicate canonical forms") {
    val df = docs(
      1L -> "Hello  World", 2L -> "hello world", 3L -> "different doc",
      4L -> "  HELLO WORLD  ")
    val r = Dedup.exactDupStats(df, col("text")).head()
    assert(r.getAs[Long]("n_docs") == 4)
    assert(r.getAs[Long]("n_unique") == 2)
    assert(r.getAs[Long]("n_dups") == 2)
  }

  test("jaccard pairs finds near-duplicates, skips unrelated") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = base + " lambda" // shares most 5-gram shingles
    val far = "one two three four five six seven eight nine ten"
    val df = docs(1L -> base, 2L -> near, 3L -> far)
    val pairs = Dedup.jaccardPairs(df, col("doc_id"), col("text"),
      shingleK = 5, thresholdNum = 1, thresholdDen = 2).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id1") == 1L)
    assert(pairs.head.getAs[Long]("id2") == 2L)
  }

  test("jaccard df-cap drops stop-shingles before the self-join") {
    // every doc shares the same hot 5-gram prefix (a stop-shingle with
    // df = n, the k² join-explosion case); each also has a unique tail
    val hot = "common common common common common"
    val df = docs((1L to 8L).map(i =>
      i -> s"$hot unique$i tail$i words$i here$i now$i"): _*)
    // uncapped: the hot shingle makes every doc pair a candidate
    val uncapped = Dedup.jaccardPairs(df, col("doc_id"), col("text"),
      shingleK = 5, thresholdNum = 0, thresholdDen = 1,
      maxShingleDf = Long.MaxValue).count()
    assert(uncapped == 8L * 7 / 2)
    // df-cap below n removes the stop-shingle: docs share nothing else,
    // so the candidate space collapses to zero — the join side is
    // bounded by cap², not n²
    val capped = Dedup.jaccardPairs(df, col("doc_id"), col("text"),
      shingleK = 5, thresholdNum = 0, thresholdDen = 1,
      maxShingleDf = 4L).count()
    assert(capped == 0L)
    // and a cap that nothing exceeds is a no-op (oracle-parity default)
    val noop = Dedup.jaccardPairs(df, col("doc_id"), col("text"),
      shingleK = 5, thresholdNum = 0, thresholdDen = 1,
      maxShingleDf = 10000L).count()
    assert(noop == uncapped)
  }

  test("jaccard pair-volume guard refuses past the budget, is a " +
      "no-op under it") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = docs(1L -> base, 2L -> (base + " lambda"),
      3L -> "one two three four five six seven eight nine ten")
    // the two near-dup docs share shingles, so Σ df·(df−1)/2 > 1:
    // a budget of 1 must refuse before the self-join launches
    val e = intercept[IllegalStateException] {
      Dedup.jaccardPairs(df, col("doc_id"), col("text"),
        shingleK = 5, thresholdNum = 1, thresholdDen = 2,
        maxPairRows = 1L)
    }
    assert(e.getMessage.contains("lshDedupClusters"), e.getMessage)
    // under the budget: identical results to the default path
    val guarded = Dedup.jaccardPairs(df, col("doc_id"), col("text"),
      shingleK = 5, thresholdNum = 1, thresholdDen = 2,
      maxPairRows = 1000000L).collect()
    assert(guarded.length == 1)
    assert(guarded.head.getAs[Long]("id1") == 1L &&
      guarded.head.getAs[Long]("id2") == 2L)
  }

  test("minhash LSH: identical docs collide on every band") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val df = docs(1L -> text, 2L -> text,
      3L -> "完全 different words entirely unrelated content here now")
    val sigs = Dedup.minHashSignatures(df, col("doc_id"), col("text"))
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sigs)).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id1") == 1L &&
      pairs.head.getAs[Long]("id2") == 2L)
  }

  test("minhash LSH recall: every exact-Jaccard near-dup is a candidate") {
    // clusters of near-duplicates (high shingle overlap) plus
    // unrelated noise docs; with b=16 bands of r=4, a 0.8-Jaccard pair
    // collides with p = 1-(1-0.8^4)^16 ≈ 0.9996 (and md5 is
    // deterministic, so this fixture's outcome is fixed)
    val base1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val base2 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val rows = Seq(
      1L -> base1, 2L -> (base1 + " x"), 3L -> (base1 + " x y"),
      4L -> base2, 5L -> (base2 + " z"),
      6L -> (1 to 30).map(i => s"noise$i").mkString(" "))
    val df = docs(rows: _*)
    val exact = Dedup.jaccardPairs(df, col("doc_id"), col("text"),
        shingleK = 5, thresholdNum = 1, thresholdDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty) // fixture sanity: real near-dups exist
    val sigs = Dedup.minHashSignatures(df, col("doc_id"), col("text"),
      numHashes = 64, shingleK = 5)
    val candidates = Dedup.lshCandidatePairs(
        Dedup.lshBands(sigs, numHashes = 64, bandSize = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(candidates),
      s"missed: ${exact -- candidates}")
    // and the unrelated noise doc never becomes a candidate
    assert(!candidates.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("candidate-pair bucket caps bound mass-duplicate clusters") {
    // 12 identical docs: every band bucket holds all 12 → 66 pairs
    // uncapped; a cap below 12 drops the cluster from pairwise work
    val text = "alpha beta gamma delta epsilon zeta eta theta iota"
    val df = docs((1L to 12L).map(_ -> text): _*)
    val bands = Dedup.lshBands(Dedup.minHashSignatures(
      df, col("doc_id"), col("text")))
    assert(Dedup.lshCandidatePairs(bands).count() == 66L)
    assert(Dedup.lshCandidatePairs(bands, maxBucketSize = 5L)
      .count() == 0L)
    val sims = Dedup.simHash32(df, col("doc_id"), col("text"))
    assert(Dedup.simHashCandidatePairs(sims).count() == 66L)
    assert(Dedup.simHashCandidatePairs(sims, maxBucketSize = 5L)
      .count() == 0L)
  }

  test("connected components label near-dup clusters by min id") {
    val s = spark
    import s.implicits._
    // two components (a chain and a pair) + ids absent from any pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L), labels)
    // a chain LONGER than maxIter still converges — the pointer-jump
    // doubling makes rounds O(log diameter), not O(diameter)
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id1", "id2")
    val chainLabels = Dedup.connectedComponents(chain, maxIter = 25)
      .collect().map(r => r.getLong(1)).distinct
    assert(chainLabels.sameElements(Array(1L)), chainLabels.toSeq)
    // empty pair set -> empty labels
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id1", "id2")).count() == 0L)
    // drop list keeps one representative (the min id) per cluster
    val drops = Dedup.dedupDropList(Dedup.connectedComponents(pairs))
      .collect().map(_.getLong(0)).toSet
    assert(drops == Set(2L, 3L, 4L, 11L), drops)
  }

  test("connected components accept non-numeric ids") {
    val s = spark
    import s.implicits._
    // string ids: min-label is lexicographic, convergence counts
    // changed rows — nothing numeric anywhere in the loop
    val pairs = Seq(("banana", "apple"), ("banana", "cherry"),
      ("x", "y")).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == Map("apple" -> "apple", "banana" -> "apple",
      "cherry" -> "apple", "x" -> "x", "y" -> "x"), labels)
  }

  test("connected components run ONE driver action per round") {
    val s = spark
    import s.implicits._
    // AQE + broadcast joins off so one action == one job (broadcast
    // exchanges run their small collect as extra jobs inside the same
    // action); a single pair converges in exactly two rounds (round 1
    // relabels, round 2 confirms), and the only other job is the
    // initial label checkpoint. The convergence count rides the SAME
    // job that materializes the round's labels — a separate
    // convergence action would show up here as one more job per round.
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val group = "graft-cc-actions"
    s.sparkContext.setJobGroup(group, "cc action count")
    try Dedup.connectedComponents(
      Seq((2L, 1L)).toDF("id1", "id2")).count()
    finally {
      s.sparkContext.clearJobGroup()
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    val cur = graft.JobCounts.settled(
      s.sparkContext.statusTracker.getJobIdsForGroup(group).length)
    // init checkpoint + 2 rounds + the final count() action above
    assert(cur == 4, s"expected 4 jobs (init + 2 rounds + count), got $cur")
  }

  test("verified jaccard on candidates matches the full self-join") {
    val base1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val base2 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val df = docs(
      1L -> base1, 2L -> (base1 + " x"), 3L -> (base1 + " x y"),
      4L -> base2, 5L -> (base2 + " z"),
      6L -> (1 to 30).map(i => s"noise$i").mkString(" "))
    val exact = Dedup.jaccardPairs(df, col("doc_id"), col("text"),
        shingleK = 5, thresholdNum = 1, thresholdDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    // verification over the LSH candidates reproduces the exact
    // pairs AND their exact inter/union counts (candidates are a
    // superset of the true near-dups on this fixture — recall is
    // pinned by the "minhash LSH recall" test above)
    val sigs = Dedup.minHashSignatures(df, col("doc_id"), col("text"))
    val cands = Dedup.lshCandidatePairs(Dedup.lshBands(sigs))
    val verified = Dedup.verifiedJaccardPairs(df, col("doc_id"),
        col("text"), cands, shingleK = 5, thresholdNum = 1,
        thresholdDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(verified == exact, s"\nverified=$verified\nexact=$exact")
    // zero threshold keeps empty-intersection candidates (left join)
    val all = Dedup.verifiedJaccardPairs(df, col("doc_id"),
      col("text"), cands, shingleK = 5, thresholdNum = 0,
      thresholdDen = 1)
    assert(all.count() == cands.count())
  }

  test("property: verified-on-all-pairs == full jaccard self-join " +
      "on random corpora") {
    val s = spark
    import s.implicits._
    val vocab = Vector("red", "blue", "green", "ant", "bee", "cat",
      "dog", "elk", "fox", "gnu")
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val docs = (1L to 8L).map(i => (i,
        Vector.fill(6 + rnd.nextInt(10))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")))
        .toDF("doc_id", "text")
      val full = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
          shingleK = 3, thresholdNum = 1, thresholdDen = 4,
          maxShingleDf = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
      val allPairs = (1L to 8L).flatMap(a => (a + 1 to 8L).map(a -> _))
        .toDF("id1", "id2")
      val verified = Dedup.verifiedJaccardPairs(docs, col("doc_id"),
          col("text"), allPairs, shingleK = 3, thresholdNum = 1,
          thresholdDen = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(verified == full,
        s"trial $trial:\nverified=$verified\nfull=$full")
    }
  }

  test("property: ivf with every label probed == brute force") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i => (i, s"l${i % 5}",
      Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "label", "embedding")
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      0L, 7).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding",
        "label", 0L, 7, nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ivf == brute, s"\nivf=$ivf\nbrute=$brute")
    // the batch form with a single query reproduces the single-query
    // path (and therefore brute force) exactly
    val batch = Similarity.ivfTopKBatch(vecs, "vec_id", "embedding",
        "label", vecs.where(col("vec_id") === 0L), "vec_id",
        "embedding", k = 7, nprobe = 5)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("dot"))).toSeq
    assert(batch == brute, s"\nbatch=$batch\nbrute=$brute")
  }

  test("lsh dedup clusters match exact-jaccard clusters end-to-end") {
    // two near-dup clusters + noise; the scale-safe composition
    // (LSH candidates -> verify -> components) must label exactly
    // like clustering the exact all-pairs jaccard at the same
    // threshold
    val base1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val base2 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val df = docs(
      1L -> base1, 2L -> (base1 + " x"), 3L -> (base1 + " x y"),
      4L -> base2, 5L -> (base2 + " z"),
      6L -> (1 to 30).map(i => s"noise$i").mkString(" "))
    val exactLabels = Dedup.connectedComponents(
        Dedup.jaccardPairs(df, col("doc_id"), col("text"),
          shingleK = 5, thresholdNum = 1, thresholdDen = 2)
          .select(col("id1"), col("id2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lshLabels = Dedup.lshDedupClusters(df, col("doc_id"),
        col("text"), thresholdNum = 1, thresholdDen = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exactLabels.nonEmpty)
    assert(lshLabels == exactLabels,
      s"\nlsh=$lshLabels\nexact=$exactLabels")
  }

  test("deduplicate: one call keeps one representative per cluster") {
    val base1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val base2 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val df = docs(
      1L -> base1, 2L -> (base1 + " x"), 3L -> (base1 + " x y"),
      4L -> base2, 5L -> (base2 + " z"),
      6L -> (1 to 30).map(i => s"noise$i").mkString(" "))
    val kept = Dedup.deduplicate(df, col("doc_id"), col("text"),
        thresholdNum = 1, thresholdDen = 2)
      .collect().map(_.getLong(0)).toSet
    // cluster {1,2,3} -> representative 1; {4,5} -> 4; 6 untouched
    assert(kept == Set(1L, 4L, 6L), kept)
    // schema passes through unchanged
    assert(Dedup.deduplicate(df, col("doc_id"), col("text"))
      .columns.toSeq == Seq("doc_id", "text"))
  }

  test("contamination: per-eval-doc shingle overlap vs a corpus") {
    val s = spark
    import s.implicits._
    val shared = "one two three four five six seven eight"
    val corpus = Seq(
      (100L, shared + " and unrelated trailing words here"),
      (101L, "totally different corpus content nine ten eleven " +
        "twelve thirteen")).toDF("doc_id", "text")
    val bench = Seq(
      (1L, shared),                       // every shingle in corpus
      (2L, "zz yy xx ww vv uu tt ss"),    // nothing in corpus
      (3L, "short"))                      // < k tokens: no shingles
      .toDF("doc_id", "text")
    val out = Dedup.contamination(corpus, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"), shingleK = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    // doc 1: 4 shingles (8 tokens, k=5), all present in corpus
    assert(out(1L) == (4L, 4L), out)
    // doc 2: 4 shingles, none present
    assert(out(2L) == (4L, 0L), out)
    // doc 3 has no shingles and is absent
    assert(!out.contains(3L), out)
  }

  test("contamination broadcast budget: shuffle fallback matches " +
      "the broadcast path") {
    val s = spark
    import s.implicits._
    val shared = "one two three four five six seven eight"
    val corpus = Seq(
      (100L, shared + " and unrelated trailing words here"),
      (101L, "totally different corpus content nine ten eleven " +
        "twelve thirteen")).toDF("doc_id", "text")
    val bench = Seq(
      (1L, shared), (2L, "zz yy xx ww vv uu tt ss"))
      .toDF("doc_id", "text")
    def run(budget: Long): Map[Long, (Long, Long)] =
      Dedup.contamination(corpus, col("doc_id"), col("text"),
          bench, col("doc_id"), col("text"), shingleK = 5,
          maxBroadcastBytes = budget)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    val viaBroadcast = run(256L << 20)
    // zero budget forces the logged shuffle-join path; results must
    // be identical (AQE's runtime broadcast conversion disabled so
    // the shuffle plan genuinely executes)
    def setOrUnset(key: String, v: Option[String]): Unit =
      v match {
        case Some(x) => s.conf.set(key, x)
        case None => s.conf.unset(key)
      }
    val aqeBcKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAqeBc = s.conf.getOption(aqeBcKey)
    val prevBc = s.conf.getOption(bcKey)
    s.conf.set(aqeBcKey, "-1")
    s.conf.set(bcKey, "-1")
    val viaShuffle =
      try run(0L)
      finally {
        setOrUnset(aqeBcKey, prevAqeBc)
        setOrUnset(bcKey, prevBc)
      }
    assert(viaBroadcast == Map(1L -> (4L, 4L), 2L -> (4L, 0L)))
    assert(viaShuffle == viaBroadcast)
  }

  test("hash sampling is deterministic, stratified, and splits " +
      "disjointly") {
    val s = spark
    import s.implicits._
    val df = (0 until 400).map(i =>
      (i.toLong, s"src${i % 4}")).toDF("doc_id", "source")
    val once = Sampling.hashSample(df, col("doc_id"), 1L, 4L)
      .collect().map(_.getLong(0)).sorted
    val twice = Sampling.hashSample(
        df.repartition(7), col("doc_id"), 1L, 4L)
      .collect().map(_.getLong(0)).sorted
    // same rows regardless of partitioning / run
    assert(once.sameElements(twice))
    // roughly the requested rate (md5 is uniform)
    assert(once.length > 400 / 8 && once.length < 400 * 3 / 8,
      once.length)
    // edge rates
    assert(Sampling.hashSample(df, col("doc_id"), 0L, 1L).count() == 0)
    assert(Sampling.hashSample(df, col("doc_id"), 1L, 1L)
      .count() == 400)
    // hash splits partition the corpus disjointly and completely
    val sizes = (0 until 3).map(b =>
      Sampling.hashSplit(df, col("doc_id"), b, 3).count())
    assert(sizes.sum == 400, sizes)
    assert(sizes.forall(_ > 0), sizes)
  }

  test("token-budget sample: per-group rate = budget/total, nested, " +
      "under-budget groups intact") {
    val s = spark
    import s.implicits._
    // group A: 100 docs x 100 tokens = 10000 total; group B: 20 docs
    // x 10 tokens = 200 total (under every budget tested)
    val df = ((0 until 100).map(i => (i.toLong, "A", 100L)) ++
      (100 until 120).map(i => (i.toLong, "B", 10L)))
      .toDF("doc_id", "source", "ntok")
    def keptIds(budget: Long): Set[Long] =
      Sampling.tokenBudgetSample(df, col("source"), col("doc_id"),
        col("ntok"), budget).collect().map(_.getLong(0)).toSet
    val k1000 = keptIds(1000L)
    // naive reference: hash*total < budget*2^32 per row
    val hashes = df.select(col("doc_id"),
        Sampling.hash32(col("doc_id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 120L).filter { id =>
      val total = if (id < 100) 10000L else 200L
      BigInt(hashes(id)) * total < BigInt(1000L) * 4294967296L
    }.toSet
    assert(k1000 == want)
    // under-budget group B (200 <= 1000) keeps every row
    assert((100L until 120L).forall(k1000.contains))
    // nested: a bigger budget only adds rows
    assert(k1000.subsetOf(keptIds(3000L)))
    // partitioning-independent
    assert(Sampling.tokenBudgetSample(df.repartition(7),
        col("source"), col("doc_id"), col("ntok"), 1000L)
      .collect().map(_.getLong(0)).toSet == k1000)
    // zero budget selects nothing
    assert(keptIds(0L).isEmpty)
  }

  test("quota sample: exact per-group cap, matches the naive window") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // skewed groups: one 500-row group, one 40-row, one under quota,
    // plus a null group — the prefilter path must agree with the
    // naive full-sort form on all of them
    val df = ((0 until 500).map(i => (i.toLong, "big")) ++
      (500 until 540).map(i => (i.toLong, "mid")) ++
      (540 until 543).map(i => (i.toLong, "tiny")) ++
      (543 until 560).map(i => (i.toLong, null: String)))
      .toDF("doc_id", "source")
    val naive = df
      .withColumn("__rn", row_number().over(Window
        .partitionBy(col("source"))
        .orderBy(Sampling.hash32(col("doc_id")).asc, col("doc_id"))))
      .where(col("__rn") <= 5).drop("__rn")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = Sampling.quotaSample(df, col("source"), col("doc_id"), 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == naive)
    // under-quota groups keep every row
    assert(got.count(_._2 == "tiny") == 3)
    // partitioning-independent membership
    val again = Sampling.quotaSample(df.repartition(7), col("source"),
        col("doc_id"), 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == naive)
    // quota 0 selects nothing
    assert(Sampling.quotaSample(df, col("source"), col("doc_id"), 0)
      .count() == 0L)
  }

  test("pack bins: budgeted offset binning, partitioning-independent") {
    val s = spark
    import s.implicits._
    // one shard: rows order by hash; every doc is 30 tokens, budget
    // 100 → starts 0,30,…,270 → bins of 4,3,3 docs
    val df = (1L to 10L).map(i => (i, 30L)).toDF("doc_id", "ntok")
    val bins = Sampling.packBins(df, col("doc_id"), col("ntok"),
        numShards = 1, tokenBudget = 100L)
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bins == Map(0L -> 4L, 1L -> 3L, 2L -> 3L), bins)
    // same assignment regardless of input partitioning
    val once = Sampling.packBins(df, col("doc_id"), col("ntok"), 4,
        100L).select("doc_id", "shard", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSet
    val again = Sampling.packBins(df.repartition(7), col("doc_id"),
        col("ntok"), 4, 100L).select("doc_id", "shard", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSet
    assert(once == again)
  }

  test("pack bins: exact past 2^53 cumulative tokens") {
    val s = spark
    import s.implicits._
    // second row's start offset is 2^53+1 — a value a double cannot
    // represent. With budget 1 the bin equals the offset, so any
    // double round-trip in the bin arithmetic loses the +1.
    val big = (1L << 53) + 1L
    val df = Seq((1L, big), (2L, big)).toDF("doc_id", "ntok")
    val bins = Sampling.packBins(df, col("doc_id"), col("ntok"),
        numShards = 1, tokenBudget = 1L)
      .select("bin").collect().map(_.getLong(0)).sorted
    assert(bins.sameElements(Array(0L, big)), bins.toSeq)
  }

  test("simhash: null-text docs are absent (oracle parity)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some("a b c")), (2L, None))
      .toDF("doc_id", "text")
    val out = Dedup.simHash32(df, col("doc_id"), col("text"))
    assert(out.count() == 1L)
    assert(out.head().getLong(0) == 1L)
  }

  test("simhash: near-identical docs have close hashes") {
    val a = "the quick brown fox jumps over the lazy dog again today"
    val df = docs(1L -> a, 2L -> (a + " ok"),
      3L -> "zzz yyy xxx www vvv uuu ttt sss rrr qqq")
    val m = Dedup.simHash32(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long): Int =
      java.lang.Long.bitCount(x ^ y)
    assert(hamming(m(1L), m(2L)) < hamming(m(1L), m(3L)))
  }

  test("cosine top-k ranks an identical vector first") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.0f)), // near-identical
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))   // opposite
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs, "vec_id", "embedding", 0L, 2)
      .collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("lsh buckets put identical vectors together") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(-1.0f, -1.0f, -1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id",
      "embedding", threshold = 0.99).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id1") == 0L &&
      pairs.head.getAs[Long]("id2") == 1L)
  }

  test("bucket width scales with n; over-cap buckets are dropped") {
    val s = spark
    import s.implicits._
    // integer ladder: ≤128·2^4 rows → 4 bits; growth is monotone
    assert(Similarity.bitsForCount(100) == 4)
    assert(Similarity.bitsForCount(128L << 4) == 4)
    assert(Similarity.bitsForCount((128L << 4) + 1) == 5)
    assert(Similarity.bitsForCount(128L << 10) == 10)
    assert(Similarity.bitsForCount(128L << 20) == 20)
    // 32-bit family ceiling: the ladder covers true 100 TB corpus
    // sizes (~5.5e11 rows) before the width caps
    assert(graft.functions.LshSignExpr.MaxBits == 32)
    assert(Similarity.bitsForCount(128L << 31) == 31)
    assert(Similarity.bitsForCount((128L << 31) + 1) == 32)
    assert(Similarity.bitsForCount(550L * 1000 * 1000 * 1000) == 32)
    assert(Similarity.bitsForCount(Long.MaxValue / 4) ==
      graft.functions.LshSignExpr.MaxBits)
    // forced skew: every vector identical → one bucket holds all n;
    // a cap below n drops the degenerate bucket, bounding the join
    val n = 20
    val vecs = (0 until n).map(i =>
      (i.toLong, Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF(
      "vec_id", "embedding")
    val uncapped = Similarity.cosineNearDupPairs(vecs, "vec_id",
      "embedding", threshold = 0.5, maxBucketSize = 10000L).count()
    assert(uncapped == n.toLong * (n - 1) / 2)
    val capped = Similarity.cosineNearDupPairs(vecs, "vec_id",
      "embedding", threshold = 0.5, maxBucketSize = 5L).count()
    assert(capped == 0L)
  }

  test("fastRowCount: footer metadata for bare scans, else count()") {
    val s = spark
    import s.implicits._
    val dir = tempDir("scanstats")
    val path = dir.resolve("t.parquet").toString
    (0 until 57).toDF("i").repartition(3).write.parquet(path)
    val df = s.read.parquet(path)
    // bare scan and row-preserving projection: footers only
    assert(ScanStats.fastRowCount(df) == 57L)
    assert(ScanStats.fastRowCount(df.select(col("i") * 2)) == 57L)
    // anything that can change the row count falls back to count()
    assert(ScanStats.fastRowCount(df.where(col("i") >= 10)) == 47L)
    assert(ScanStats.fastRowCount(Seq(1, 2, 3).toDF("x")) == 3L)
  }

  test("centroid stats: exact per-dimension partial sums per label") {
    val s = spark
    import s.implicits._
    val q = 33554432.0 // 2^25
    val df = Seq(
      ("a", Array(1.0f, -2.0f)),
      ("a", Array(3.0f, 2.0f)),
      ("b", Array(0.5f, 0.0f)))
      .toDF("label", "embedding")
    val out = Similarity.centroidStats(df, col("label"),
        col("embedding")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // label a: dim sums (1+3, -2+2) = (4, 0) quantized -> L1 = 4*2^25
    assert(out("a") == (2L, 2L, (4 * q).toLong), out)
    // label b: (0.5, 0) -> L1 = 0.5*2^25
    assert(out("b") == (1L, 2L, (0.5 * q).toLong), out)
  }

  test("ivf top-k: full-probe equals brute force; narrow probe " +
      "stays in-cluster") {
    val s = spark
    import s.implicits._
    // three well-separated clusters; the query (id 0) sits in "a"
    val vecs = Seq(
      (0L, "a", Array(1.0f, 0.05f, 0.0f, 0.0f)),
      (1L, "a", Array(0.98f, 0.1f, 0.0f, 0.0f)),
      (2L, "a", Array(0.95f, 0.0f, 0.1f, 0.0f)),
      (3L, "b", Array(0.0f, 1.0f, 0.05f, 0.0f)),
      (4L, "b", Array(0.1f, 0.97f, 0.0f, 0.0f)),
      (5L, "c", Array(0.0f, 0.05f, 1.0f, 0.0f)),
      (6L, "c", Array(0.0f, 0.0f, 0.96f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      0L, 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // probing every cluster reproduces brute force exactly (ids AND
    // exact integer dots) — recall 1.0
    val full = Similarity.ivfTopK(vecs, "vec_id", "embedding",
        "label", 0L, 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == brute, s"\nivf=$full\nbrute=$brute")
    // nprobe=1 probes the query's own cluster: its members, ranked
    // identically to their brute-force order
    val narrow = Similarity.ivfTopK(vecs, "vec_id", "embedding",
        "label", 0L, 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(narrow == brute.filter(p => p._1 <= 2L), narrow)
  }

  test("kmeans labels: separates clusters, deterministic, and " +
      "feeds full-probe IVF == brute force") {
    val s = spark
    import s.implicits._
    // two well-separated directions; no label column anywhere
    val vecs = Seq(
      (0L, Array(1.0f, 0.05f, 0.0f, 0.0f)),
      (1L, Array(0.98f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.95f, 0.0f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.05f, 0.0f)),
      (4L, Array(0.1f, 0.97f, 0.0f, 0.0f)),
      (5L, Array(0.05f, 0.96f, 0.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val labels = Similarity.kmeansLabels(vecs, "vec_id", "embedding",
      k = 2, iters = 2)
    val m = labels.collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 6, m)
    // members of each direction share a label; directions differ
    assert(m(0L) == m(1L) && m(1L) == m(2L), m)
    assert(m(3L) == m(4L) && m(4L) == m(5L), m)
    assert(m(0L) != m(3L), m)
    // deterministic under repartitioning
    val again = Similarity.kmeansLabels(vecs.repartition(5),
        "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == m)
    // the learned index serves IVF: probing every learned cluster
    // reproduces brute force exactly, no fixture label needed
    val indexed = vecs.join(labels.withColumnRenamed("id", "vec_id"),
      Seq("vec_id"))
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      0L, 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = Similarity.ivfTopK(indexed, "vec_id", "embedding",
        "label", 0L, 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == brute, s"\nivf=$full\nbrute=$brute")
  }

  test("multimodal: payload + metadata + frames + stub features") {
    val df = docs(1L -> ("x" * 300))
    val media = Multimodal.asMedia(df, col("text"), "text/plain")
    val meta = media.select(col("meta.format"), col("meta.n_bytes"),
      col("meta.checksum")).head()
    assert(meta.getString(0) == "text/plain")
    assert(meta.getLong(1) == 300L)
    assert(meta.getString(2).length == 32)
    val frames = Multimodal.sampleFrames(media, "payload",
      frameBytes = 64, stride = 128)
    // offsets 1, 129 (300-64+1=237 → 1,129 within bound)
    assert(frames.count() == 2)
    val feats = frames.select(Multimodal.fakeDecodeFeatures(
      col("frame")).as("f")).head().getSeq[Double](0)
    assert(feats.length == 16)
    assert(feats.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("top n-gram repetition stats: counts, ties, short docs") {
    val s = spark
    import s.implicits._
    import graft.functions.TopNGramExpr.topNGramNative
    val df = Seq(
      "a b a b a b x",   // 6 2-grams; "a b" ×3
      "one two three",   // 2 distinct 2-grams, top 1
      "solo",            // no 2-grams
      "",                // empty
      "w w w w")         // "w w" ×3
      .toDF("text")
    val r = df.select(topNGramNative(col("text"), 2).as("g"))
      .select(col("g.n"), col("g.top")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(r == Seq((6, 3), (2, 1), (0, 0), (0, 0), (3, 3)), r)
    // 3-grams on the repeated doc: "a b a" ×2 of 5
    val r3 = df.limit(1).select(topNGramNative(col("text"), 3).as("g"))
      .select(col("g.n"), col("g.top")).head()
    assert((r3.getInt(0), r3.getInt(1)) == (5, 2), r3)
  }

  test("text functions: tokens, fingerprint, lang, quality") {
    val df = docs(1L -> "The cat and the dog sat.  ")
    val r = df.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.stopwordCount(col("text"),
        Seq("the", "and")).as("sw"),
      TextFunctions.qualityScore(col("text")).as("q")).head()
    assert(r.getAs[Int]("n") == 6)
    assert(r.getAs[String]("fp").length == 32)
    assert(r.getAs[Int]("sw") == 2) // "the" (second) + "and"; "The" cap
    assert(r.getAs[java.math.BigDecimal]("q").doubleValue >= 0.0)
  }

  test("pii stats: counts real-shaped matches, zero on clean text") {
    val pii = "mail a@b.com and c.d@e.org, host 10.0.0.1, " +
      "call +1 555 123 4567, ssn 123-45-6789"
    val df = docs(1L -> pii, 2L -> "clean text with no sensitive data")
    val rows = df.select(col("doc_id"),
        graft.functions.TextFunctions.piiStats(col("text")).as("p"))
      .select(col("doc_id"), col("p.n_emails"), col("p.n_ipv4"),
        col("p.n_phones"), col("p.n_ssns"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // note the SSN also matches the loose phone shape — detection
    // counters are independent, not exclusive
    assert(rows(1L) == ((2L, 1L, 2L, 1L)), rows(1L))
    assert(rows(2L) == ((0L, 0L, 0L, 0L)), rows(2L))
  }

  test("pii redaction: category tags, ssn-before-phone order, " +
      "clean/null passthrough") {
    val df = docs(
      1L -> ("mail a@b.com, host 10.0.0.1, ssn 123-45-6789, " +
        "call +1 555 123 4567"),
      2L -> "clean text with no sensitive data")
      .union(docs().sparkSession.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](
          org.apache.spark.sql.Row(3L, null)),
        docs(1L -> "x").schema))
    val out = df.select(col("doc_id"),
        graft.functions.TextFunctions.redactPii(col("text"))
          .as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the SSN is tagged [SSN], not swallowed by the looser phone
    // pattern applied later
    assert(out(1L) == "mail [EMAIL], host [IPV4], ssn [SSN], " +
      "call [PHONE]", out(1L))
    assert(out(2L) == "clean text with no sensitive data")
    assert(out(3L) == null)
  }
}

/** Custom Catalyst TypedImperativeAggregate spec. */
class CharClassAggSpec extends SparkSuite {
  test("per-position char sets over fixed-length strings") {
    val s = spark
    import s.implicits._
    // force multiple partitions so partial-buffer merge runs
    val df = Seq("abc", "abd", "xbc", "abe").toDF("v").repartition(3)
    val r = df.agg(graft.functions.CharClassAgg
      .charClasses(col("v")).as("p")).head()
    assert(r.getSeq[String](0) == Seq("ax", "b", "cde"))
  }

  test("null result for varying lengths or over-width strings") {
    val s = spark
    import s.implicits._
    val varying = Seq("ab", "abc").toDF("v")
    assert(varying.agg(graft.functions.CharClassAgg
      .charClasses(col("v"))).head().isNullAt(0))
    val wide = Seq("x" * 100, "y" * 100).toDF("v")
    assert(wide.agg(graft.functions.CharClassAgg
      .charClasses(col("v"), 64)).head().isNullAt(0))
  }

  test("nulls ignored, empty input yields null") {
    val s = spark
    import s.implicits._
    val withNulls = Seq(Some("ab"), None, Some("cb")).toDF("v")
    assert(withNulls.agg(graft.functions.CharClassAgg
      .charClasses(col("v"))).head().getSeq[String](0) ==
      Seq("ac", "b"))
    val empty = Seq.empty[String].toDF("v")
    assert(empty.agg(graft.functions.CharClassAgg
      .charClasses(col("v"))).head().isNullAt(0))
  }
}

/** Distributed exact order statistics (the q07 scale path). */
class OrderStatsSpec extends SparkSuite {
  test("exactRanks matches an in-memory sort, duplicates and all") {
    val s = spark
    import s.implicits._
    // skewed multiset: value i repeated (i % 7 + 1) times, shuffled
    val values = (0 until 500).flatMap(i =>
      Seq.fill(i % 7 + 1)((i * 37 % 250).toDouble))
    val expectSorted = values.sorted
    val df = scala.util.Random.shuffle(values).toDF("v")
      .repartition(7)
    val n = values.length.toLong
    val ranks = Seq(0L, 1L, n / 4, n / 2, 3 * n / 4, n - 2, n - 1)
    val got = OrderStats.exactRanks(df, "v", ranks, numPartitions = 5)
    assert(got == ranks.map(k => expectSorted(k.toInt)))
  }

  test("positionalQuartiles equals the reference §1.3 rule") {
    val s = spark
    import s.implicits._
    // range(10) → quartiles 2, 5, 7 (structa tests/test_types.py:36-50)
    val df = (0 until 10).map(_.toDouble).toDF("v")
    assert(OrderStats.positionalQuartiles(df, "v") ==
      Seq(0.0, 2.0, 5.0, 7.0, 9.0))
    assert(OrderStats.positionalQuartiles(
      Seq.empty[Double].toDF("v"), "v") == Seq.empty)
  }
}

/** SimHash band-bucket candidate generation. */
class SimHashBandsSpec extends SparkSuite {
  test("near-identical docs are candidates; far docs are not") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog " +
      "and keeps running through the quiet field all day long"
    val df = Seq(
      (1L, base), (2L, base + " extra"),
      (3L, "completely different words nine eight seven six five " +
        "four three two one zero alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sims = Dedup.simHash32(df, col("doc_id"), col("text"))
    val pairs = Dedup.simHashCandidatePairs(sims).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) || !pairs.contains((2L, 3L)))
  }

  test("simhash candidates are complete within Hamming radius < bands") {
    val s = spark
    import s.implicits._
    // crafted 32-bit signatures: with 4 bands of 8 bits, any pair at
    // Hamming distance < 4 must share an untouched band (pigeonhole)
    // and therefore MUST be generated as a candidate
    val x = 0x5A5A5A5AL
    val sims = Seq(
      (1L, x),
      (2L, x ^ 0x00000007L),  // 3 flipped bits, all in band 0
      (3L, x ^ 0x01010100L),  // 3 flipped bits across bands 1-3
      (4L, x ^ 0x01010101L))  // 1 flipped bit in EVERY band
      .toDF("id", "simhash")
    val pairs = Dedup.simHashCandidatePairs(sims).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), pairs)  // Hamming 3 -> found
    assert(pairs.contains((1L, 3L)), pairs)  // Hamming 3 -> found
    // no shared slice: differs in every band, so never a candidate
    assert(!pairs.contains((1L, 4L)), pairs)
  }
}

/** Prefix-filtered exact similarity join (PPJoin family): proven
  * equal to a brute-force all-pairs Jaccard reference — the oracle
  * mirrors the plan's arithmetic, so completeness of the pruning
  * itself is established here.
  */
class PrefixJoinSpec extends SparkSuite {
  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Brute-force exact token-set Jaccard pairs (the completeness
    * reference for the prefix-filtered join): all pairs, no pruning.
    */
  private def bruteJaccard(rows: Seq[(Long, String)],
                           num: Int, den: Int,
                           maxDf: Long = 10000L)
      : Set[(Long, Long, Long, Long)] = {
    val sets0 = rows.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).toSet
    }
    val df = sets0.flatMap(_._2).groupBy(identity).map {
      case (tok, occ) => tok -> occ.size.toLong
    }
    val sets = sets0.map { case (id, s) =>
      id -> s.filter(tok => df(tok) <= maxDf)
    }.filter(_._2.nonEmpty)
    (for {
      (i, si) <- sets; (j, sj) <- sets if i < j
      inter = (si & sj).size.toLong
      union = (si | sj).size.toLong
      if inter * den >= union * num
    } yield (i, j, inter, union)).toSet
  }

  test("prefix-filtered jaccard join equals brute force (complete)") {
    // overlapping drafts + decoys sharing common words: candidates
    // must survive prefix pruning, common-word pairs must not qualify
    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta iota",     // ~0.78
      3L -> "alpha beta gamma delta epsilon zeta eta theta kappa",
      4L -> "the quick brown fox jumps over the lazy dog",
      5L -> "the quick brown fox jumps over a lazy cat",
      6L -> "completely unrelated words appear here tonight",
      7L -> "alpha beta unrelated mixture of shared and new words",
      8L -> "single")
    for ((num, den) <- Seq((4, 5), (1, 2), (7, 10), (1, 1))) {
      val got = Dedup.prefixJaccardPairs(docs(corpus: _*),
          col("doc_id"), col("text"), num, den)
        .collect()
        .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
          r.getAs[Long]("inter"), r.getAs[Long]("union_n"))).toSet
      assert(got == bruteJaccard(corpus, num, den),
        s"threshold $num/$den")
    }
  }

  test("prefix jaccard df-cap drops stopword-mass tokens from both " +
       "sides") {
    // every doc shares 'common'; cap below n removes it from inter
    // AND union, exactly like the brute-force reference with the cap
    val corpus = (1L to 6L).map(i =>
      i -> s"common shared$i extra$i words$i")
    val got = Dedup.prefixJaccardPairs(docs(corpus: _*),
        col("doc_id"), col("text"), 1, 10, maxTokenDf = 3L)
      .collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Long]("inter"), r.getAs[Long]("union_n"))).toSet
    assert(got == bruteJaccard(corpus, 1, 10, maxDf = 3L))
  }

  test("shingle mode equals jaccardPairs — two formulations, one " +
       "answer") {
    // near-dup pair + decoys: the prefix-filtered join over shingle
    // digests must reproduce the full shingle self-join exactly
    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota",
      2L -> "alpha beta gamma delta epsilon zeta eta theta kappa",
      3L -> "one two three four five six seven eight nine ten",
      4L -> "one two three four five six seven eight nine eleven",
      5L -> "totally different content with no shared shingles here")
    val viaPrefix = Dedup.prefixJaccardPairs(docs(corpus: _*),
        col("doc_id"), col("text"), 1, 3, shingleK = 5)
      .collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Long]("inter"), r.getAs[Long]("union_n"))).toSet
    val viaFull = Dedup.jaccardPairs(docs(corpus: _*),
        col("doc_id"), col("text"), shingleK = 5, thresholdNum = 1,
        thresholdDen = 3)
      .collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Long]("inter"), r.getAs[Long]("union_n"))).toSet
    assert(viaPrefix == viaFull)
    assert(viaPrefix.nonEmpty) // the fixture really has near-dups
  }

  test("prefix jaccard pre-flight refuses a degenerate prefix " +
       "distribution") {
    // 40 docs sharing one rare-ish token that lands in every prefix:
    // Σ c·(c−1)/2 = 780 candidate rows > budget 100 -> refuse
    val corpus = (1L to 40L).map(i => i -> s"anchor tail$i")
    val e = intercept[IllegalStateException] {
      Dedup.prefixJaccardPairs(docs(corpus: _*), col("doc_id"),
        col("text"), 1, 2, maxPairRows = 100L).count()
    }
    assert(e.getMessage.contains("candidate rows"))
  }
}
