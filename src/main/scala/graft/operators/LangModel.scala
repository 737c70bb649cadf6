package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Count-based n-gram language-model scoring — the CCNet-recipe
  * quality filter (Wenzek et al., "CCNet: Extracting high quality
  * monolingual datasets from web crawl data", LREC 2020): train a
  * small LM on a trusted reference slice, score every candidate
  * document by its cross-entropy under that model, and drop (or
  * bucket) the high-perplexity tail. The trusted/candidate split is
  * the caller's — any predicate over the corpus works.
  *
  * Exactness (the q44 rule — no transcendentals that two engines
  * could round apart): cross-entropy is quantized to WHOLE BITS via
  * `floor(log2(n)) = length(bin(n)) - 1`, computed through the
  * binary-string rendering of an exact integer, which is
  * deterministic in any engine (Spark's `bin`, DuckDB's `bin`).
  * With add-one smoothing the per-bigram code length is
  *
  *   bits(w1 w2) = floor(log2(c_uni(w1) + V)) - floor(log2(c_bi(w1 w2) + 1))
  *
  * where `c_uni(w1)` counts w1 as a bigram CONTEXT in the training
  * slice (so the smoothed conditionals sum to 1 over a V-word
  * vocabulary), `c_bi` the trained bigram count, and `V` the
  * distinct-context vocabulary size. Both log arguments are ≥ 1 and
  * the context count dominates the bigram count, so bits ≥ 0
  * always. Whole-bit quantization keeps the LM's ranking power
  * (unseen bigrams cost ~log2 V bits, frequent ones ~1-3) while
  * staying hash-exact across engines.
  *
  * Shape at 100 TB: training is ONE keyed aggregation over the
  * reference slice (model size = distinct bigrams of the TRUSTED
  * slice only — small by construction); scoring joins candidates'
  * exploded bigrams against the model on the bigram key — a plain
  * shuffle join that AQE converts to broadcast when the model fits,
  * with no driver-side data movement either way. The vocabulary
  * constant rides a 1-row broadcast cross join, never a collect.
  */
object LangModel {

  /** floor(log2(n)) for an integer column n ≥ 1, computed exactly
    * through the binary rendering (Spark and DuckDB both print the
    * minimal two's-complement-free binary form for positives).
    */
  def floorLog2(n: Column): Column =
    (length(bin(n.cast("long"))) - 1).cast("long")

  /** One row per bigram position: the carried columns, the context
    * token `w1`, and the space-joined bigram key `bg`. Documents
    * with fewer than two whitespace tokens contribute no rows.
    */
  def bigramRows(df: DataFrame, text: Column,
                 carry: Seq[Column]): DataFrame =
    df.select(carry :+ TextFunctions.tokens(text).as("__l"): _*)
      .where(size(col("__l")) >= 2)
      .select(carry :+ explode(expr(
        "transform(sequence(1, size(__l) - 1), " +
          "i -> struct(__l[i-1] AS w1, __l[i] AS w2, " +
          "concat(__l[i-1], ' ', __l[i]) AS bg))")).as("__p"): _*)
      .withColumn("w1", col("__p.w1"))
      .withColumn("w2", col("__p.w2"))
      .withColumn("bg", col("__p.bg"))
      .drop("__p")

  /** Train the add-one-smoothed bigram model on `train`: returns
    * (bigram counts keyed by `bg`, context counts keyed by `w1`,
    * 1-row vocabulary frame `v`) — three small frames derived from
    * one pass over the trusted slice.
    */
  def trainBigram(train: DataFrame, text: Column)
      : (DataFrame, DataFrame, DataFrame) = {
    val rows = bigramRows(train, text, Seq.empty).cache()
    val bi = rows.groupBy(col("bg")).agg(count(lit(1)).as("c_bi"))
    val uni = rows.groupBy(col("w1")).agg(count(lit(1)).as("c_uni"))
    val vocab = rows.agg(
      coalesce(countDistinct(col("w1")), lit(0L)).as("v"))
    (bi, uni, vocab)
  }

  /** Per-document cross-entropy under the trained model: one output
    * row per scored document with ≥ 1 bigram, carrying `n_bigrams`,
    * `n_unseen` (bigrams absent from the model), total `bits`, and
    * the decibit rate `decibits = floor(10 · bits / n_bigrams)` —
    * the integer perplexity proxy a filter thresholds on.
    */
  def crossEntropyBits(docs: DataFrame, id: Seq[Column], text: Column,
                       bi: DataFrame, uni: DataFrame,
                       vocab: DataFrame): DataFrame = {
    val idNames = id.map(_.toString)
    val scored = bigramRows(docs, text, id)
      .join(bi, Seq("bg"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(id.map(c => col(c.toString)) ++ Seq(
        (floorLog2(coalesce(col("c_uni"), lit(0L)) + col("v")) -
          floorLog2(coalesce(col("c_bi"), lit(0L)) + lit(1L)))
          .as("__bits"),
        when(col("c_bi").isNull, 1L).otherwise(0L)
          .as("__unseen")): _*)
    scored.groupBy(idNames.map(col): _*)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__unseen")).cast("long").as("n_unseen"),
        sum(col("__bits")).cast("long").as("bits"))
      .withColumn("decibits",
        floor(col("bits") * 10 / col("n_bigrams")).cast("long"))
  }

  /** One row per hashed n-gram feature occurrence (unigrams AND
    * bigrams, DSIR-style), bucketed to `b` buckets via the md5-prefix
    * hash both engines share. Empty docs contribute no rows.
    */
  def hashedFeatureRows(df: DataFrame, text: Column, b: Int,
                        carry: Seq[Column]): DataFrame =
    df.select(carry :+ TextFunctions.tokens(text).as("__l"): _*)
      .where(size(col("__l")) >= 1 &&
        !(size(col("__l")) === 1 && col("__l")(0) === ""))
      // the bigram arm guards size >= 2: Spark's sequence(1, 0) is
      // the DESCENDING [1, 0], not empty
      .select(carry :+ explode(concat(col("__l"), expr(
        "IF(size(__l) >= 2, transform(sequence(1, size(__l) - 1), " +
          "i -> concat(__l[i-1], ' ', __l[i])), " +
          "CAST(array() AS array<string>))"))).as("__f"): _*)
      .withColumn("bucket",
        pmod(conv(substring(md5(col("__f")), 1, 15), 16, 10)
          .cast("long"), lit(b.toLong)))
      .drop("__f")

  /** DSIR importance weights in exact whole bits (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): hashed-n-gram bag features, two bucket
    * distributions (target = trusted slice, raw = the rest), and a
    * per-document log importance ratio
    *
    *   wbits(doc) = Σ_f [⌊log2(c_t(f)+1)⌋ − ⌊log2(c_r(f)+1)⌋]
    *              + n_f · [⌊log2(N_r+b)⌋ − ⌊log2(N_t+b)⌋]
    *
    * — the add-one-smoothed log(p_target/p_raw) with every log
    * quantized to whole bits through binary-string length, so two
    * engines agree bit-for-bit. wbits ≥ 0 means "at least as
    * target-like as raw-like"; a resampler keeps by wbits rank.
    *
    * Shape at 100 TB: two keyed aggs build the b-bucket count
    * frames (b-row, broadcast back); the scoring pass explodes each
    * scored doc's features once and joins on the bucket key. Totals
    * ride 1-row broadcast cross joins — never a collect.
    */
  def importanceBits(target: DataFrame, raw: DataFrame,
                     scored: DataFrame, id: Seq[Column],
                     text: Column, b: Int): DataFrame = {
    val tRows = hashedFeatureRows(target, text, b, Seq.empty)
    val rRows = hashedFeatureRows(raw, text, b, Seq.empty)
    val ct = tRows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c_t"))
    val cr = rRows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c_r"))
    val nt = tRows.agg(count(lit(1)).as("n_t"))
    val nr = rRows.agg(count(lit(1)).as("n_r"))
    val idNames = id.map(_.toString)
    hashedFeatureRows(scored, text, b, id)
      .join(broadcast(ct), Seq("bucket"), "left")
      .join(broadcast(cr), Seq("bucket"), "left")
      .crossJoin(broadcast(nt))
      .crossJoin(broadcast(nr))
      .select(id.map(c => col(c.toString)) ++ Seq(
        (floorLog2(coalesce(col("c_t"), lit(0L)) + lit(1L)) -
          floorLog2(coalesce(col("c_r"), lit(0L)) + lit(1L)) +
          floorLog2(col("n_r") + lit(b.toLong)) -
          floorLog2(col("n_t") + lit(b.toLong))).as("__w")): _*)
      .groupBy(idNames.map(col): _*)
      .agg(count(lit(1)).as("n_features"),
        sum(col("__w")).cast("long").as("wbits"))
  }

  /** All consecutive char n-grams of a text column (code-point
    * indexed, both engines 1-based) — the language-ID feature. The
    * length guard matters: Spark's `sequence(1, 0)` is the
    * DESCENDING [1, 0], not empty.
    */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"need n >= 1: $n")
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** A trained character-n-gram naive-Bayes language identifier:
    * `n` the gram order, `labels` sorted ascending (the argmin
    * tie-break order), `defaults(i)` the whole-bit cost of a gram
    * UNSEEN for label i, `bits(g)(i)` the cost of gram `g` under
    * label i. All costs are the add-one-smoothed code lengths
    *
    *   bits(l, g) = ⌊log2(n_l + V)⌋ − ⌊log2(c(l,g) + 1)⌋
    *
    * (n_l = label l's total training grams, V = the training
    * vocabulary size across ALL labels, c the gram's count under l)
    * — the q141 whole-bit rule, so a second engine replays every
    * score bit-for-bit. Classification = argmin of the summed code
    * length (the minimum-description-length reading of naive Bayes
    * with a uniform prior).
    */
  final case class LangIdModel(labels: Seq[String],
                               defaults: Seq[Long],
                               bits: Map[String, Seq[Long]],
                               n: Int = 2)

  /** Train the language identifier on a labeled slice — the
    * CCNet-style curation step the quality LM (trainBigram) cannot
    * do: decide the LANGUAGE, not the register. Counting is one
    * distributed keyed aggregation over exploded char n-grams
    * (close natural languages separate at n = 3..5; the default
    * n = 2 is the cheapest usable order); the finished model is
    * vocabulary-sized (≤ alphabetⁿ grams × |labels|), so it
    * collects to the driver under a PRICED cap (the
    * Unigram.vocabulary discipline) and ships back inside a
    * stateless projection ([[langIdStruct]] — the
    * hashClassifierScore shape: no join, no shuffle at scoring
    * time).
    *
    * CAPACITY CEILING (stated, enforced): the model travels as a
    * `typedLit` map INSIDE THE QUERY PLAN — |grams| × |labels|
    * literal cells that every scoring plan serializes, analyzes and
    * broadcasts. Past ~10⁶ cells plan size and codegen degrade, so
    * the train refuses at `maxPlanCells` (default 2,000,000),
    * naming the knobs: raise `maxPlanCells` knowingly, lower `n`,
    * restrict the alphabet upstream (strip digits/punctuation), or
    * switch to the hashed-feature classifier
    * ([[graft.functions.TextFunctions.hashClassifierScore]]) whose
    * capacity is bucket-bounded instead of plan-bounded.
    */
  def trainLangId(labeled: DataFrame, label: Column, text: Column,
                  n: Int = 2, maxModelRows: Int = 500000,
                  maxPlanCells: Long = 2000000L): LangIdModel = {
    require(n >= 1 && n <= 8, s"char-gram order out of range: $n")
    val counts = labeled
      .select(label.cast("string").as("l"),
        explode(charNgrams(text, n)).as("g"))
      .groupBy(col("l"), col("g"))
      .agg(count(lit(1)).as("c"))
    val rows = counts.limit(maxModelRows + 1).collect()
    require(rows.length <= maxModelRows,
      s"langid model exceeds maxModelRows=$maxModelRows " +
        "(label, gram) rows; raise the cap or reduce the gram " +
        "alphabet upstream")
    val triples = rows.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    val labels = triples.map(_._1).distinct.sorted.toSeq
    require(labels.nonEmpty, "langid training slice is empty")
    val nGrams = triples.map(_._2).distinct.length.toLong
    val cells = nGrams * labels.length
    require(cells <= maxPlanCells,
      s"langid model would carry $nGrams grams × ${labels.length} " +
        s"labels = $cells literal cells in every scoring plan — " +
        s"past maxPlanCells=$maxPlanCells. Raise maxPlanCells " +
        "knowingly, lower n, restrict the alphabet upstream, or " +
        "use hashClassifierScore (bucket-bounded capacity)")
    val idx = labels.zipWithIndex.toMap
    val nPer = labels.map(l =>
      triples.filter(_._1 == l).map(_._3).sum)
    val v = nGrams
    def fl2(x: Long): Long =
      63L - java.lang.Long.numberOfLeadingZeros(x)
    val defaults = nPer.map(m => fl2(m + v))
    val bits = triples.groupBy(_._2).map { case (g, ts) =>
      val arr = defaults.toArray.clone()
      ts.foreach { case (l, _, c) =>
        arr(idx(l)) = defaults(idx(l)) - fl2(c + 1L)
      }
      g -> arr.toSeq
    }
    LangIdModel(labels, defaults, bits, n)
  }

  /** Score + classify a text column under a trained [[LangIdModel]]
    * as ONE stateless codegen'd projection: fold the char n-grams
    * through the broadcast literal gram→costs map (`aggregate` +
    * `zip_with` — the accumulator is evaluated once per element),
    * then take the argmin INSIDE the aggregate's finish lambda so
    * the score array is never re-evaluated. Returns
    * `struct<pred string, bits bigint>`; NULL fields for a text
    * shorter than the model's gram order.
    */
  def langIdStruct(model: LangIdModel, text: Column): Column = {
    val m = typedLit(model.bits)
    val defs = typedLit(model.defaults)
    val zero = typedLit(Seq.fill(model.labels.size)(0L))
    val labelsLit = typedLit(model.labels)
    val agg = aggregate(charNgrams(text, model.n), zero,
      (acc, g) => zip_with(acc,
        coalesce(element_at(m, g), defs), (a, b) => a + b),
      acc => struct(
        element_at(labelsLit,
          array_position(acc, array_min(acc)).cast("int"))
          .as("pred"),
        array_min(acc).as("bits")))
    when(length(text) >= model.n, agg)
      .otherwise(lit(null).cast(
        "struct<pred:string,bits:bigint>"))
  }

  /** Per-(true label, predicted label) confusion census over a
    * scored slice — the evaluation table a curation run reads before
    * trusting the classifier on unlabeled data.
    */
  def langIdCensus(scored: DataFrame, trueLabel: Column,
                   model: LangIdModel, text: Column): DataFrame =
    scored.select(trueLabel.cast("string").as("true_label"),
        langIdStruct(model, text).getField("pred").as("pred"))
      .groupBy(col("true_label"), col("pred"))
      .agg(count(lit(1)).as("n"))

  /** PMI collocation mining (the word2phrase pass — Mikolov et al.,
    * "Distributed representations of words and phrases…", NIPS 2013):
    * bigrams whose joint count beats independence by a rational
    * factor, i.e. `c_bg · N · den ≥ num · c_w1 · c_w2` with the
    * products in DECIMAL(38,0) so the comparison is EXACT at any
    * corpus size (counts to ~10^13 never overflow 38 digits), plus a
    * minimum-support floor. `pmi_bits` reports the whole-bit PMI
    * proxy `⌊log2 c_bg⌋ + ⌊log2 N⌋ − ⌊log2 c_w1⌋ − ⌊log2 c_w2⌋` —
    * transcendental-free like every ranking column in this engine.
    *
    * Shape at 100 TB: one exploded-bigram scan feeds three keyed
    * aggregations (bg / w1 / w2 counts); the unigram frames join
    * back on their word keys (vocabulary-sized, AQE broadcasts when
    * small) and the 1-row total rides a broadcast cross join.
    */
  def collocations(df: DataFrame, text: Column, minCount: Long,
                   num: Long, den: Long): DataFrame = {
    val dec = "decimal(38,0)"
    val rows = bigramRows(df, text, Seq.empty)
    // w1/w2 are functions of bg (bg = w1 ⧺ ' ' ⧺ w2), so grouping by
    // all three keeps the keyed agg single-valued and deterministic
    val big = rows.groupBy(col("bg"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bg"))
      .where(col("c_bg") >= minCount)
    val cw1 = rows.groupBy(col("w1")).agg(count(lit(1)).as("c_w1"))
    val cw2 = rows.groupBy(col("w2")).agg(count(lit(1)).as("c_w2"))
    val tot = rows.agg(count(lit(1)).as("n_total"))
    big.join(cw1, Seq("w1")).join(cw2, Seq("w2"))
      .crossJoin(broadcast(tot))
      .where(col("c_bg").cast(dec) * col("n_total").cast(dec) *
        lit(den).cast(dec) >=
        lit(num).cast(dec) * col("c_w1").cast(dec) *
          col("c_w2").cast(dec))
      .select(col("bg"), col("c_bg"), col("c_w1"), col("c_w2"),
        (floorLog2(col("c_bg")) + floorLog2(col("n_total")) -
          floorLog2(col("c_w1")) - floorLog2(col("c_w2")))
          .as("pmi_bits"))
  }

  /** Whole-bit Zipf fit — the vocabulary-health diagnostic a corpus
    * census runs (natural text follows freq ∝ rank^(−s), s ≈ 1;
    * generated/spammy corpora drift off it): the OLS slope of
    * ⌊log2 freq⌋ against ⌊log2 rank⌋ over the word table, as an
    * EXACT RATIONAL (num, den, direction — the q156 contract; no
    * division, no transcendentals, whole bits via binary-string
    * length). A Zipfian corpus reports num/den ≈ −1 and 'down'.
    *
    * Input: a `(w, f)` word-frequency table (see
    * [[graft.operators.Unigram.wordFreqs]]). The rank window runs
    * over the VOCAB-sized frame (the q49 contract), never rows.
    */
  def zipfFit(words: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    // same overflow discipline as Temporal.trendFit: the DECIMAL→
    // BIGINT cast is range-guarded so an overflow raises in BOTH
    // engines instead of Spark silently NULLing while DuckDB errors
    def checkedLong(c: Column, what: String): Column =
      when(abs(c) <= lit(Long.MaxValue).cast(dec), c.cast("long"))
        .otherwise(raise_error(lit(s"zipfFit: $what exceeds BIGINT " +
          "range")).cast("long"))
    // the rank is a TWO-STAGE exact global rank (range partitions +
    // broadcast offsets, OrderStats.withGlobalRank) — an
    // unpartitioned rank window would sort the whole vocabulary in
    // one task, a straggler/OOM at web scale (10^8+ grams)
    val ranked = graft.operators.OrderStats.withGlobalRank(
      words.select(col("w"), col("f")),
      Seq(col("f").desc, col("w").asc_nulls_first), "__rank")
    val pts = ranked.select(
        floorLog2(col("__rank")).cast(dec).as("x"),
        floorLog2(col("f")).cast(dec).as("y"))
    pts.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).cast(dec).as("sx"),
        sum(col("y")).cast(dec).as("sy"),
        sum(col("x") * col("y")).cast(dec).as("sxy"),
        sum(col("x") * col("x")).cast(dec).as("sxx"))
      .select(col("n").cast("long").as("n_words"),
        checkedLong(col("n") * col("sxy") - col("sx") * col("sy"),
          "num").as("num"),
        checkedLong(col("n") * col("sxx") - col("sx") * col("sx"),
          "den").as("den"),
        when(col("n") * col("sxy") > col("sx") * col("sy"), "up")
          .when(col("n") * col("sxy") < col("sx") * col("sy"),
            "down")
          .otherwise("flat").as("direction"))
  }
}
