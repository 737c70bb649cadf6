package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph centrality over edge tables — the link-quality signals a
  * web-scale curation pipeline computes before filtering (PageRank as
  * the canonical corpus-quality prior, Page et al. 1999; seeded trust
  * propagation over a link graph, Gyöngyi et al. VLDB 2004). The
  * reference engine has no graph surface (it infers structure,
  * `/root/reference/structa/analyzer.py`); these are beyond-reference
  * pipeline operators in the q120/q48 exact-iteration family.
  *
  * Determinism contract (the q44 rule): every update is exact integer
  * arithmetic on DECIMAL(38,0) — scores are scaled by `scale`, the
  * damping factor is the rational `num/den`, and each multiplicative
  * step is the floor division `(a - a mod b) / b`, which a second
  * engine computes bit-for-bit in HUGEINT. Floor loss is ≤ 1 scaled
  * unit per node per step, identical in both engines.
  *
  * Shape at 100 TB: the edge frame persists once; each iteration is
  * ONE shuffle join (edges ⋈ ranks on `src` — the canonical PageRank
  * exchange, keyed identically every round so AQE reuses the layout)
  * + one keyed aggregation on `dst` + two scalar aggregates that ride
  * a 1-row broadcast. The driver loop never touches data — one
  * lineage-cutting localCheckpoint per round (the CC-loop contract),
  * and every SUPERSEDED round's blocks are released the moment the
  * next round lands (the [[cutTracked]]/[[release]] pair), so an
  * N-round run holds at most two rounds of state, never N.
  */
object Graph {

  private val Dec = "decimal(38,0)"

  /** The iterative family's lineage cut. Default (None) is
    * `localCheckpoint` — executor-local blocks, cheapest, but NOT
    * fault-tolerant: on a real cluster an executor loss
    * mid-iteration aborts the job with no recompute path (the
    * truncated lineage cannot rebuild the lost blocks). Passing a
    * reliable `checkpointDir` (HDFS/object-store path on a cluster)
    * switches every cut to a reliable checkpoint: each round's state
    * is written to fault-tolerant storage, so lost executors
    * re-read instead of aborting. Results are IDENTICAL either way
    * (spec-pinned) — the knob trades write cost for durability.
    */
  private[operators] def cut(df: DataFrame,
                             checkpointDir: Option[String],
                             eager: Boolean = true): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        sc.getCheckpointDir match {
          case None => sc.setCheckpointDir(dir)
          // setCheckpointDir stores a RESOLVED URI (scheme + a
          // per-context UUID subdir). Compare path COMPONENTS — the
          // current dir must be `dir` itself or a descendant
          // (`dir/...`); a bare string-prefix test would both
          // false-match '/tmp/ck-other' against '/tmp/ck' and
          // false-warn on an exact sibling. A context already
          // pointed elsewhere wins (resetting mid-application would
          // strand earlier checkpoints), but silently ignoring the
          // caller's argument hides where state actually lands: say
          // so.
          case Some(cur) =>
            val curPath =
              try {
                val p = new java.net.URI(cur).getPath
                if (p == null) cur else p
              } catch { case _: Exception => cur }
            val want =
              if (dir.length > 1 && dir.endsWith("/")) dir.dropRight(1)
              else dir
            val under = curPath == want ||
              curPath.startsWith(
                if (want.endsWith("/")) want else want + "/")
            if (!under)
              System.err.println(s"warning: checkpointDir '$dir' " +
                s"ignored — this SparkContext already checkpoints " +
                s"to '$cur'; state is written there")
        }
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }

  /** [[cut]] plus the RDD blocks it pinned, so iterative loops can
    * release round t−1 DETERMINISTICALLY after round t materializes
    * (waiting for driver GC to reclaim superseded localCheckpoint
    * blocks let one heavy query family degrade every co-resident
    * query in a shared session). Reliable checkpoints pin nothing —
    * the tracked set is empty and release is a no-op.
    */
  private[graft] def cutTracked(df: DataFrame,
                                checkpointDir: Option[String],
                                eager: Boolean = true)
      : (DataFrame, Seq[RDD[_]]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = cut(df, checkpointDir, eager)
    // track the pinned RDD DIRECTLY where possible: a checkpointed
    // Dataset's plan is a LogicalRDD holding exactly the RDD that
    // localCheckpoint persisted, so no concurrent registration in
    // the shared SparkContext can leak into the pin set (the
    // registry-diff fallback below would capture — and release()
    // would later unpersist — state owned by a different query)
    val direct = out.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.filter(_.getStorageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    val pinned = direct match {
      case Some(r) => Seq(r)
      case None =>
        // reliable checkpoints pin nothing (storage level NONE) —
        // the diff is empty; anything else falls back to the
        // registry diff, which assumes a single-threaded session
        sc.getPersistentRDDs
          .collect { case (id, r) if !before.contains(id) => r }.toSeq
    }
    (out, pinned)
  }

  // releasing a localCheckpoint intentionally abandons its truncated
  // lineage — that is the whole point of deterministic release — so
  // the per-release "… truncated and cannot be recomputed after
  // unpersisting" WARN is pure noise (hundreds of lines per bench
  // run). Suppress ONLY that message: a DENY filter keyed on the
  // message text, installed once per JVM on a dedicated LoggerConfig
  // for the emitting logger. Demoting the logger's LEVEL instead
  // (the first cut) silenced every other WARN from MapPartitionsRDD
  // for the whole JVM — too broad for a shared session.
  private lazy val quietTruncatedUnpersist: Unit =
    try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.AbstractFilter
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val conf = ctx.getConfiguration
      val name = "org.apache.spark.rdd.MapPartitionsRDD"
      val target = {
        val closest = conf.getLoggerConfig(name)
        if (closest.getName == name) closest
        else {
          // additive child config: events still flow to the parent's
          // appenders at the parent's level; only the filter is new
          val lc = new LoggerConfig(name, closest.getLevel, true)
          conf.addLogger(name, lc)
          lc
        }
      }
      target.addFilter(new AbstractFilter(
        Filter.Result.DENY, Filter.Result.NEUTRAL) {
        override def filter(event: LogEvent): Filter.Result = {
          val msg = if (event.getMessage == null) null
                    else event.getMessage.getFormattedMessage
          if (msg != null &&
              msg.contains("cannot be recomputed after unpersisting"))
            Filter.Result.DENY
          else Filter.Result.NEUTRAL
        }
      })
      ctx.updateLoggers()
    } catch { case _: Throwable => () }

  /** Free blocks pinned by [[cutTracked]]. Only call once nothing
    * will read the frame again — an unpersisted localCheckpoint has
    * no lineage to recompute from.
    */
  private[graft] def release(pins: Seq[RDD[_]]): Unit = {
    quietTruncatedUnpersist
    pins.foreach(r =>
      try r.unpersist(blocking = false)
      catch { case _: Throwable => () })
  }

  /** The session's shuffle width — what iterative caches normalize
    * to. A persisted edge frame otherwise inherits the SCAN's split
    * count (with small-file split tuning that can be thousands of
    * sub-MB partitions), and every one of N iterations then pays
    * thousands of no-op tasks to read it.
    */
  private def shuffleWidth(df: DataFrame): Int =
    try df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    catch { case _: Throwable => 200 }


  /** Exact floor division of non-negative DECIMAL(38,0) columns:
    * `(a - a mod b) / b` — the subtraction makes the numerator
    * exactly divisible, so the decimal division is exact and
    * rounding-mode-free in any engine.
    */
  // exact floor division of non-negative decimal(38,0) operands in
  // one BigDecimal op (see DecQuotExpr — the former
  // `(a - pmod(a, b)) / b` spelling cost three per call and was the
  // hottest executor frame in the rank-fold profile)
  private def floorDiv(a: Column, b: Column): Column =
    graft.functions.DecQuotExpr.decQuot(a.cast(Dec), b.cast(Dec))

  /** An exact DECIMAL(38,0) literal. */
  private def decLit(v: BigInt): Column =
    lit(new java.math.BigDecimal(v.bigInteger)).cast(Dec)

  /** `iterations` rounds of exact scaled-integer PageRank over a
    * directed edge frame with columns `src`/`dst` (any key type;
    * multi-edges count — `.distinct()` upstream for simple graphs).
    *
    * Update (damping d = num/den, total mass T = N·scale; with
    * `weight` the mass splits proportionally — w ≡ 1 gives the
    * classic equal split):
    * {{{
    *   share(u→v) = floor(pr(u)·w(u→v) / Σ_out w(u))
    *   inflow(v)  = Σ_{u→v} share(u→v)
    *   D          = Σ_{no out-edges} pr(u)          dangling mass
    *   pr'(v)     = floor((den−num)·T / (den·N))
    *              + floor(num·(inflow(v) + floor(D/N)) / den)
    * }}}
    *
    * With `seeds` (personalized / TrustRank), the teleport and the
    * dangling redistribution both target ONLY the seed set S:
    * {{{
    *   pr'(v) = [v∈S]·floor((den−num)·T / (den·|S|))
    *          + floor(num·(inflow(v) + [v∈S]·floor(D/|S|)) / den)
    * }}}
    * so score mass provably originates from the seeds and reaches
    * other nodes through links alone.
    *
    * `inflowSalt` > 1 splits the per-round inflow aggregation into a
    * two-stage sum on (dst, salt) — the opt-in hot-key spreader
    * [[skewPreflight]]'s warning names. Scores are IDENTICAL for any
    * salt (integer sums are associative; spec-pinned): the knob only
    * spreads one star-center's reduce work across `inflowSalt`
    * partial sums.
    *
    * Returns `(node, pr)` — `pr` is the final scaled score; a node's
    * rank share is `pr / T`. Intermediate rounds are released as the
    * run advances (use [[pagerankTrace]] to keep them).
    */
  def pagerank(edges: DataFrame, iterations: Int = 3,
               num: Long = 17L, den: Long = 20L,
               scale: Long = 1000000L,
               seeds: Option[DataFrame] = None,
               weight: Option[Column] = None,
               checkpointDir: Option[String] = None,
               inflowSalt: Int = 1): DataFrame =
    pagerankTraceImpl(edges, iterations, num, den, scale, seeds,
      weight, checkpointDir, inflowSalt, keepTrace = false).last

  /** [[pagerank]] with the full per-iteration score trace: element t
    * holds `(node, pr)` AFTER t iterations (element 0 = the initial
    * mass placement), each one materialized and lineage-cut. The
    * trace is what [[pagerankDelta]] folds an edge batch against —
    * a delta fold must know the OLD run's score at every round, not
    * just its end state. Every element stays pinned (the caller owns
    * the artifact — persist it and release the blocks, e.g. via the
    * sweep in `ensureRankTrace`).
    */
  def pagerankTrace(edges: DataFrame, iterations: Int = 3,
                    num: Long = 17L, den: Long = 20L,
                    scale: Long = 1000000L,
                    seeds: Option[DataFrame] = None,
                    weight: Option[Column] = None,
                    checkpointDir: Option[String] = None,
                    inflowSalt: Int = 1)
      : Seq[DataFrame] =
    pagerankTraceImpl(edges, iterations, num, den, scale, seeds,
      weight, checkpointDir, inflowSalt, keepTrace = true)

  private def pagerankTraceImpl(edges: DataFrame, iterations: Int,
                                num: Long, den: Long, scale: Long,
                                seeds: Option[DataFrame],
                                weight: Option[Column],
                                checkpointDir: Option[String],
                                inflowSalt: Int,
                                keepTrace: Boolean)
      : Seq[DataFrame] = {
    require(iterations >= 1 && iterations <= 16,
      s"driver-looped plan growth is specified for 1..16 " +
        s"iterations: $iterations")
    require(num > 0 && den > num,
      s"damping num/den must lie in (0, 1): $num/$den")
    require(inflowSalt >= 1, s"inflowSalt must be >= 1: $inflowSalt")
    // edge weight (w = 1 unweighted): a node's mass splits across
    // its out-edges proportionally to w — share(u→v) =
    // floor(pr(u)·w / Σ_out w), which for w ≡ 1 is exactly the
    // classic floor(pr/outdeg). Non-positive weights raise in-plan;
    // the UNWEIGHTED path carries no w column at all ([[withW]]).
    val weighted = weight.isDefined
    // hash-repartition the persisted frame by the per-round join key
    // ONCE: the cache then (a) holds shuffle-width partitions instead
    // of inheriting the scan's split count (under small-file split
    // tuning that can be hundreds of sub-MB partitions re-scheduled
    // every round), and (b) reports src-hash partitioning, so each
    // round's edges⋈ranks join exchanges only the node-sized rank
    // side — the edge side never re-shuffles
    val e0 = withW(edges, weight, "pagerank")
      .repartition(shuffleWidth(edges), col("src"))
      .persist()
    // degree-skew pre-flight (the price-it-first discipline): the
    // inflow aggregation's reduce key is `dst`, and the per-round
    // join's shuffle key is `src` — a key holding a large share of
    // the edges makes one reducer the round clock. The check is one
    // aggregate over the edge frame (which doubles as the persist
    // materializer); it WARNS rather than salts — partial
    // aggregation absorbs most hot-key sums, AQE's skew-join
    // handles the join side, and `inflowSalt` is the opt-in
    // two-stage spreader when neither suffices.
    skewPreflight(e0).foreach(w =>
      System.err.println(s"warning: $w"))
    val (nodes, nodesPins) = cutTracked(
      e0.select(col("src").as("node"))
        .unionAll(e0.select(col("dst").as("node")))
        .distinct(), checkpointDir)
    val (deg, degPins) = cutTracked(
      e0.groupBy(col("src").as("node"))
        .agg((if (weighted) sum(col("w")) else count(lit(1)))
          .cast(Dec).as("deg")), checkpointDir)
    // out-degree PRE-JOINED into the edge frame once: every
    // iteration's share computation then needs only the pr join —
    // one shuffle per round instead of two (at 100 TB the saved
    // exchange is the difference between 2N and 3N shuffled bytes
    // per iteration)
    val e = e0.join(deg.select(col("node").as("__dn"), col("deg")),
        col("__dn") === e0("src"))
      .select(Seq(e0("src").as("src"), e0("dst").as("dst")) ++
        (if (weighted) Seq(e0("w")) else Nil) :+ col("deg"): _*)
      .persist()
    // seed membership rides the node frame as one boolean column —
    // the teleport base is then a branch-free projection each round
    val (seeded, seededPins) = seeds match {
      case Some(sf) =>
        val sn = sf.select(col("node")).distinct()
        cutTracked(nodes.join(sn.withColumn("__s", lit(true)),
            Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__s"), lit(false)).as("is_seed")),
          checkpointDir)
      case None =>
        (nodes.select(col("node"), lit(true).as("is_seed")),
          Seq.empty[RDD[_]])
    }
    // N (nodes) and S (teleport targets) are ROUND-INVARIANT scalars:
    // read them ONCE driver-side instead of re-aggregating and
    // re-broadcasting a `tot` frame into every round's projection
    // (the per-round crossJoin(broadcast(tot)) build was one full
    // scheduler job per iteration for two constants). A seed set
    // that never intersects the edge frame's nodes would divide by
    // zero; fail fast here with the same message the in-plan guard
    // raised.
    val totRow = seeded.agg(count(lit(1)).as("n0"),
      count(when(col("is_seed"), 1)).as("s0")).head()
    val nCnt = totRow.getLong(0)
    val sCnt = totRow.getLong(1)
    if (sCnt <= 0)
      throw new IllegalStateException("pagerank: no seed appears " +
        "among the edge frame's nodes (empty teleport set)")
    // the three per-node constants, exact BigInt floors — identical
    // values to the in-plan floorDiv spellings they replace:
    //   init     = floor(N·scale / S)            (round-0 seed mass)
    //   teleBase = floor((den−num)·N·scale / (den·S))
    val initLit = decLit(BigInt(nCnt) * BigInt(scale) / BigInt(sCnt))
    val teleLit = decLit(BigInt(den - num) * BigInt(nCnt) *
      BigInt(scale) / (BigInt(den) * BigInt(sCnt)))
    val sB = BigInt(sCnt)
    // dangling-free detection, ONE cheap count over the checkpointed
    // degree frame: deg holds one row per SOURCE node, and sources
    // are never dangling, so |dangling| = N − |deg|. A dangling-free
    // graph (every symmetrized graph, every cycle graph) then skips
    // the whole per-round dangling machinery — an anti-join, a
    // global aggregate and a broadcast build per iteration — because
    // D ≡ 0 makes its term floor(0/S) = 0 exactly.
    val hasDangling = deg.count() < nCnt
    // initial mass lives ON the teleport set: floor(T/|S|) per seed,
    // 0 elsewhere — for seeds=None that is exactly `scale` per node,
    // and for TrustRank every unit of final score provably originated
    // at a seed and travelled only links
    var (pr, prPins) = cutTracked(seeded
      .select(col("node"), col("is_seed"),
        when(col("is_seed"), initLit)
          .otherwise(lit(0).cast(Dec)).as("pr")), checkpointDir)
    val trace = Seq.newBuilder[DataFrame]
    trace += pr.select(col("node"), col("pr"))
    for (_ <- 1 to iterations) {
      val shares = e.join(pr.select(col("node"), col("pr")),
          e("src") === col("node"))
      // unweighted: share = floor(pr·1 / deg) = floor(pr / deg) —
      // no per-edge decimal multiply
      val shareCol =
        if (weighted) floorDiv(col("pr") * col("w"), col("deg"))
        else floorDiv(col("pr"), col("deg"))
      val inflow =
        if (inflowSalt <= 1)
          shares.select(e("dst").as("node"), shareCol.as("share"))
            .groupBy(col("node"))
            .agg(sum(col("share")).cast(Dec).as("inflow"))
        else
          // two-stage hot-key spread: partial sums keyed by
          // (dst, hash(src) mod salt) — a star center's inflow
          // arrives as `inflowSalt` partials instead of one reducer
          // absorbing every edge; the final sum is over ≤ salt rows
          // per node. Integer addition is associative, so scores are
          // bit-identical to the unsalted plan.
          shares.select(e("dst").as("node"), shareCol.as("share"),
              pmod(hash(e("src")), lit(inflowSalt)).as("__salt"))
            .groupBy(col("node"), col("__salt"))
            .agg(sum(col("share")).cast(Dec).as("__partial"))
            .groupBy(col("node"))
            .agg(sum(col("__partial")).cast(Dec).as("inflow"))
      // per-seed dangling share floor(D/S) is a per-round SCALAR:
      // when the graph has dangling nodes, read it with one small
      // aggregate job (the round is materialized eagerly anyway)
      // and fold the floor on the driver — the old plan built the
      // same aggregate and shipped it through a broadcast join.
      val dangLit =
        if (!hasDangling) lit(0).cast(Dec)
        else {
          val d = pr.join(deg.select(col("node")), Seq("node"),
              "left_anti")
            .agg(coalesce(sum(col("pr")),
              lit(0).cast(Dec)).cast(Dec).as("d"))
            .head().getDecimal(0)
          decLit(BigInt(d.toBigInteger) / sB)
        }
      val (next, nextPins) = cutTracked(
        pr.select(col("node"), col("is_seed"))
        .join(inflow, Seq("node"), "left")
        .select(col("node"), col("is_seed"),
          (when(col("is_seed"), teleLit)
            .otherwise(lit(0).cast(Dec)) +
          floorDiv(lit(num).cast(Dec) *
            (coalesce(col("inflow"), lit(0).cast(Dec)) +
              when(col("is_seed"), dangLit)
                .otherwise(lit(0).cast(Dec))),
            lit(den).cast(Dec))).as("pr"))
        // pr is referenced three times next round (shares, dangling,
        // the rebase join) — one eager cut per round keeps the plan
        // flat and is the round's only driver action
        , checkpointDir)
      // round t−1 is dead the moment round t lands — release unless
      // the caller asked for the full trace
      if (!keepTrace) release(prPins)
      pr = next
      prPins = nextPins
      trace += pr.select(col("node"), col("pr"))
    }
    e.unpersist()
    e0.unpersist()
    // loop-internal state: the node/seed frames fed `tot` (read by
    // every round — now all materialized) and `deg` fed the dangling
    // anti-join; none outlives the loop
    release(nodesPins)
    release(seededPins)
    release(degPins)
    trace.result()
  }

  /** Fold a batch of NEW edges into a completed [[pagerankTrace]]
    * run WITHOUT re-iterating the full graph — the q63/q128 delta
    * discipline applied to the iterative family. The result is
    * defined as, and spec- and oracle-pinned EXACTLY equal to,
    * `pagerank(edges ∪ delta, iterations)`: per round, only the
    * AFFECTED FRONTIER recomputes and every other node copies the
    * prior trace.
    *
    * Why the frontier is sound: with the preconditions below, round
    * t's score changes at v only if (a) an in-neighbor's round-(t−1)
    * score changed, (b) an in-neighbor's out-degree changed (it is a
    * delta source), or (c) v gained an in-edge. So
    * `dirty₁ = outNbr_{E∪Δ}(srcs(Δ)) ∪ added` and
    * `dirty_{t+1} = outNbr_{E∪Δ}(dirty_t) ∪ dirty₁` cover every
    * changed node — recomputing a covered-but-unchanged node is
    * harmless (its inflow over the patched frame reproduces the old
    * value bit-for-bit).
    *
    * NODE-ADDING deltas are supported (the crawl-batch case: new
    * pages arrive with every delta) by an analytic rebase: with both
    * frames dangling-free and the trace unseeded, NO score depends
    * on N — round 0 is `floor(N·scale/N) = scale` per node for any
    * N, the dangling term is 0, and the teleport base
    * `floor((den−num)·N·scale/(den·N)) = floor((den−num)·scale/den)`
    * (floor is invariant under scaling numerator and denominator by
    * the same N). So the N→N′ change folds into the trace as a
    * NO-OP, and added nodes simply join the recursion: they seed at
    * `scale` in round 0 and stay in the dirty frontier every round
    * (they have no trace entry to copy).
    *
    * Preconditions (priced pre-flight, `require`d):
    *   - `edges` has no dangling node, and no delta endpoint is
    *     dangling in E∪Δ (dangling mass is a GLOBAL broadcast — a
    *     nonzero D makes every score N-dependent and kills both the
    *     frontier argument and the rebase);
    *   - the trace is unseeded (seeded teleport shifts with |S|;
    *     detected from round 0 itself — unseeded round 0 is `scale`
    *     everywhere).
    *
    * Shape: the pre-flight is the shared flag pass ([[endpointFlags]]
    * — one node-keyed aggregate over one scan of each frame, cut
    * once; NOT the edited-frame multiset diff, which
    * [[pagerankRefresh]] alone pays: for pure additions the changed
    * sources are exactly `srcs(Δ)`, read off the flags for free).
    * The fold itself is the rank family's one frontier fold
    * ([[fold]]): a frontier inside `maxBroadcastBytes` runs
    * driver-resident — zero shuffles of the edge frame, one
    * trace-element scan — and past the budget it runs distributed
    * over frontier-sized extracts. A delta touching f% of sources
    * costs ~f% of a full round, the win this operator exists for at
    * 100 TB.
    */
  def pagerankDelta(edges: DataFrame, delta: DataFrame,
                    trace: Seq[DataFrame],
                    num: Long = 17L, den: Long = 20L,
                    scale: Long = 1000000L,
                    weight: Option[Column] = None,
                    checkpointDir: Option[String] = None,
                    maxBroadcastBytes: Long = 128L << 20,
                    srcBuckets: Option[Int] = None,
                    byDst: Option[(DataFrame, DataFrame)] = None)
      : DataFrame = {
    // >= 2: round 0 plus at least one iteration. A real
    // pagerankTrace always has both; a degenerate 1-element trace
    // has ZERO rounds to fold — refuse it rather than return the
    // trace untouched
    require(trace.length >= 2,
      "need a pagerankTrace run (round 0 + >=1 iteration) to fold into")
    require(num > 0 && den > num,
      s"damping num/den must lie in (0, 1): $num/$den")
    def edgesOf(df: DataFrame): DataFrame =
      withW(df, weight, "pagerankDelta")
    // layout hint: both frames carry the artifact's physical
    // partition column sb = pmod(xxhash64(src), srcBuckets); the
    // fold's src-keyed probes then read ONLY the probing frontier's
    // partition directories (see [[EdgeLayout]])
    val layout = srcBuckets.map { n =>
      require(n > 0, s"srcBuckets must be > 0: $n")
      require(edges.columns.contains("sb") &&
          delta.columns.contains("sb"),
        "pagerankDelta: srcBuckets is set but the frames carry no " +
          "'sb' partition column — write the artifact partitioned " +
          "by sb = pmod(xxhash64(src), buckets) cast to int and " +
          "select sb through")
      // the dst-partitioned companion (db = pmod(xxhash64(dst),
      // buckets)), when the caller maintains one, makes the
      // frontier IN-EDGE extract — the only dst-keyed fold probe —
      // frontier-proportional too (2× artifact storage, disclosed)
      val scanDst = byDst.map { case (eD, dD) =>
        require(eD.columns.contains("db") &&
            dD.columns.contains("db"),
          "pagerankDelta: byDst frames carry no 'db' partition " +
            "column — write the companion partitioned by " +
            "db = pmod(xxhash64(dst), buckets) cast to int")
        (ids: Seq[Int]) =>
          edgesOf(eD.where(col("db").isin(ids: _*)))
            .unionAll(edgesOf(dD.where(col("db").isin(ids: _*))))
      }
      EdgeLayout(n, ids =>
        edgesOf(edges.where(col("sb").isin(ids: _*)))
          .unionAll(edgesOf(delta.where(col("sb").isin(ids: _*)))),
        scanDst)
    }
    // width-normalized caches (see pagerankTrace's e0 note): the
    // fold scans these a handful of times — hops, frontier-edge and
    // degree probes — and each scan should cost shuffle-width tasks,
    // not the raw scan's split count. COALESCE, not repartition: the
    // fold's probes all broadcast the frontier side (and the
    // distributed fold extracts frontier edges once), so nothing
    // here ever exploits src-hash partitioning — the old repartition
    // paid a full edge shuffle up front (measured as the single
    // heaviest stage of the q174 fold: a 1 % delta shuffled 100 % of
    // the edges before folding anything) for a property no consumer
    // used. Coalesce materializes the same width-normalized cache by
    // merging scan splits map-side, zero shuffle.
    val eOld = edgesOf(edges).coalesce(shuffleWidth(edges)).persist()
    val eDelta = edgesOf(delta).coalesce(shuffleWidth(delta)).persist()
    // every pre-flight off the flags —
    //  - dangling_old: a node the base frame only ever names as a
    //    dst (a SOURCE trivially has an out-edge);
    //  - dangling_new: a delta endpoint that is a source in NEITHER
    //    frame (an old node keeps its base out-edges in E∪Δ, so
    //    only delta endpoints can be newly dangling);
    //  - added: a delta endpoint the base frame never names (not a
    //    violation — counted so a pure reinforcement delta folds
    //    with an empty LOCAL added frame, which lets Catalyst prune
    //    every added-row union downstream).
    val (flags, flagPins) = endpointFlags(eOld, eDelta, checkpointDir)
    val inD = col("ds") === 1 || col("dd") === 1
    val isAdded = inD && col("os") === 0 && col("od") === 0
    val rec = PageRank(num, den, scale, weight.isDefined)
    val counts = preflight(flags, Seq(
        count(when(col("os") === 0 && col("od") === 1, 1))
          .as("dangling_old"),
        count(when(inD && col("os") === 0 && col("ds") === 0, 1))
          .as("dangling_new"),
        count(when(isAdded, 1)).as("added_node")),
      Seq(trace.head.where(!canonicalRound0(rec))
        .agg(count(lit(1)).as("seeded_trace"))))
    val violations = counts.filter(_._2 > 0) - "added_node"
    require(violations.isEmpty,
      "pagerankDelta: unsound fold — " +
        violationText(violations) + "; run the full pagerank " +
        "instead")
    val added = nodesWhere(flags, isAdded, counts("added_node") > 0)
    // changed sources for a pure-addition batch are exactly the
    // delta's sources — no diff needed; their out-neighbors in E∪Δ
    // cover the delta's destinations, so added nodes are the only
    // nodes dirty outright
    val out = fold(rec, eOld.unionAll(eDelta),
      Seq(Seeds(added, Some(flags.where(col("ds") === 1)
        .select(col("node"))))),
      added, trace, checkpointDir, maxBroadcastBytes, layout)
    // the fold's result is eagerly materialized — every input frame
    // below is dead
    release(flagPins)
    eOld.unpersist()
    eDelta.unpersist()
    out
  }

  /** The GENERAL incremental form: refresh a completed
    * [[pagerankTrace]] run against an arbitrarily EDITED edge frame
    * — additions, removals, weight changes and NEW NODES alike
    * ([[pagerankDelta]] is the additions-only special case, which
    * skips this form's multiset diff). The changed-source set is
    * computed by DIFFING the two frames' per-(src,dst) out-edge
    * multisets (one full-outer join of two keyed aggregates — a
    * source whose multiset is unchanged contributes identical shares
    * given identical scores); the dirty frontier then seeds from the
    * changed sources' out-neighbors in the new frame plus every
    * diffed pair's destination (which covers the out-neighbors a
    * removal took away) plus every added node, and expands through
    * the NEW frame only. Result == the full
    * `pagerank(newEdges, iterations)` EXACTLY (spec- and
    * oracle-pinned).
    *
    * Added nodes fold by the analytic rebase documented on
    * [[pagerankDelta]]: dangling-free + unseeded makes every score
    * N-invariant, so the trace stays valid verbatim and added nodes
    * enter at round-0 mass `scale`, permanently dirty. REMOVED
    * nodes stay rejected — a departed node's mass withdrawal has no
    * local footprint in the new frame to seed a frontier from.
    *
    * Preconditions (priced pre-flight, `require`d): no node removed,
    * no dangling node in either frame, unseeded trace (detected
    * from round 0 — unseeded round 0 is `scale` everywhere). All
    * read off the shared flag pass, the old frame as roles 1/2 and
    * the new one as 4/8.
    */
  def pagerankRefresh(oldEdges: DataFrame, newEdges: DataFrame,
                      trace: Seq[DataFrame],
                      num: Long = 17L, den: Long = 20L,
                      scale: Long = 1000000L,
                      weight: Option[Column] = None,
                      checkpointDir: Option[String] = None,
                      maxBroadcastBytes: Long = 128L << 20)
      : DataFrame = {
    // >= 2 for the same reason as pagerankDelta: a zero-round fold
    // has nothing to fold — refuse
    require(trace.length >= 2,
      "need a pagerankTrace run (round 0 + >=1 iteration) to fold into")
    require(num > 0 && den > num,
      s"damping num/den must lie in (0, 1): $num/$den")
    val weighted = weight.isDefined
    // coalesce, not repartition — same reasoning as pagerankDelta:
    // every consumer (the flag pass, the multiset-diff aggregates
    // keyed (src, dst), the fold's frontier probes) either
    // aggregates on a different key or broadcasts the frontier side,
    // so src-hash partitioning buys nothing and the up-front edge
    // shuffle is pure cost.
    val eOld = withW(oldEdges, weight, "pagerankRefresh")
      .coalesce(shuffleWidth(oldEdges)).persist()
    val eNew = withW(newEdges, weight, "pagerankRefresh")
      .coalesce(shuffleWidth(newEdges)).persist()
    // no removed node, no dangling node in EITHER frame (dangling
    // mass is a global broadcast term in both runs, so a local fold
    // would be unsound), unseeded trace
    val (flags, flagPins) = endpointFlags(eOld, eNew, checkpointDir)
    val inOld = col("os") === 1 || col("od") === 1
    val inNew = col("ds") === 1 || col("dd") === 1
    val rec = PageRank(num, den, scale, weighted)
    val counts = preflight(flags, Seq(
        count(when(inOld && !inNew, 1)).as("node_removed"),
        count(when(col("os") === 0 && col("od") === 1, 1))
          .as("dangling_old"),
        count(when(col("ds") === 0 && col("dd") === 1, 1))
          .as("dangling_new"),
        count(when(inNew && !inOld, 1)).as("added_node")),
      Seq(trace.head.where(!canonicalRound0(rec))
        .agg(count(lit(1)).as("seeded_trace"))))
    val violations = counts.filter(_._2 > 0) - "added_node"
    require(violations.isEmpty,
      "pagerankRefresh: unsound edit — " +
        violationText(violations) + "; run the full pagerank " +
        "instead")
    val added = nodesWhere(flags, inNew && !inOld,
      counts("added_node") > 0)
    // changed (src, dst) pairs = those whose MULTISET differs
    // between the frames (count + total weight per (src,dst) group;
    // a source with an identical multiset emits identical shares
    // given identical scores). One full-outer join of two keyed
    // aggregates — edit-sized output, edge-sized input, cut once
    // because both seed sets read it. unweighted: w ≡ 1 makes the
    // weight sum IDENTICAL to the count, so the diff reduces to
    // per-(src, dst) multiplicities alone.
    def grouped(e: DataFrame, cn: String, sn: String): DataFrame = {
      val g = e.groupBy(col("src"), col("dst"))
      if (weighted)
        g.agg(count(lit(1)).as(cn), sum(col("w")).cast(Dec).as(sn))
      else g.agg(count(lit(1)).as(cn))
    }
    val changed =
      if (weighted)
        !(col("__oc") <=> col("__nc") && col("__ow") <=> col("__nw"))
      else !(col("__oc") <=> col("__nc"))
    val (diff, diffPins) = cutTracked(grouped(eOld, "__oc", "__ow")
      .join(grouped(eNew, "__nc", "__nw"), Seq("src", "dst"),
        "full_outer")
      .where(changed)
      .select(col("src"), col("dst")), checkpointDir)
    // a changed source's shares moved, so its out-neighbors in the
    // NEW frame are dirty; an out-neighbor it had only in the OLD
    // frame lost an edge, so the diff names that pair — its dst is
    // dirty outright, as is every added node
    val out = fold(rec, eNew,
      Seq(Seeds(diff.select(col("dst").as("node")).unionAll(added),
        Some(diff.select(col("src").as("node"))))),
      added, trace, checkpointDir, maxBroadcastBytes)
    release(diffPins)
    release(flagPins)
    eOld.unpersist()
    eNew.unpersist()
    out
  }

  /** `df`'s `src` and `dst`, plus — when `weight` is set — its value
    * as a DECIMAL(38,0) column `w`, raising in-plan (naming `who`) on
    * a non-positive weight. Unweighted frames carry NO w column at
    * all: pr·1 ≡ pr drops the per-edge decimal multiply, the
    * cached / collected / shuffled edge rows lose a 16-byte
    * DECIMAL(38,0) constant each, and degree aggregates are long
    * counts instead of decimal sums — identical values either way.
    */
  private def withW(df: DataFrame, weight: Option[Column],
                    who: String): DataFrame =
    weight match {
      case Some(w) =>
        val wd = w.cast(Dec)
        df.select(col("src"), col("dst"),
          when(wd > 0, wd)
            .otherwise(raise_error(lit(s"$who: edge weights must " +
              "be positive")).cast(Dec)).as("w"))
      case None => df.select(col("src"), col("dst"))
    }

  /** One edge scan → (node, roleBit) pairs: each edge row explodes
    * into its (src, sBit) and (dst, dBit) pairs in-task, so a
    * pre-flight reads each frame ONCE instead of once per endpoint
    * role.
    */
  private def endpointRoles(f: DataFrame, sBit: Int,
                            dBit: Int): DataFrame =
    f.select(explode(array(
        struct(col("src").as("node"), lit(sBit).as("r")),
        struct(col("dst").as("node"), lit(dBit).as("r"))))
      .as("__e"))
      .select(col("__e.node").as("node"), col("__e.r").as("r"))

  /** The rank folds' one pre-flight pass: frame `a`'s endpoints tagged
    * as roles 1 (src) / 2 (dst), frame `b`'s as 4 / 8, reduced to ONE
    * flag row per node — `os`, `od`, `ds`, `dd` — and cut once. Every
    * node set a fold needs (added nodes, delta sources and
    * destinations) and every violation count is then a filter or an
    * aggregate over the cut flags, never another edge scan.
    *
    * `outDegree` adds `outc`, the node's out-edge count over both
    * frames. `round0`, a trace's first element and the predicate of
    * its canonical rows, rides the same aggregate as roles 16
    * (canonical) / 32 (not): `r0` flags a node round 0 names, and
    * `off0` counts its off-canonical rows. Both feed the HITS
    * pre-flight, and both are per-node, so a round 0 that repeats a
    * node cannot inflate `outc`.
    */
  private def endpointFlags(a: DataFrame, b: DataFrame,
                            checkpointDir: Option[String],
                            outDegree: Boolean = false,
                            round0: Option[(DataFrame, Column)] = None)
      : (DataFrame, Seq[RDD[_]]) = {
    val roles = Seq("os" -> 1, "od" -> 2, "ds" -> 4, "dd" -> 8).map {
      case (n, bit) => max(when(col("r") === bit, 1).otherwise(0)).as(n)
    }
    val degree =
      if (!outDegree) Nil
      else Seq(sum(when(col("r") === 1 || col("r") === 4, 1L)
        .otherwise(0L)).as("outc"))
    val edgeRoles = endpointRoles(a, 1, 2).unionAll(endpointRoles(b, 4, 8))
    val (rows, coverage) = round0 match {
      case Some((t0, canon)) =>
        (edgeRoles.unionAll(t0.select(col("node"),
            when(canon, 16).otherwise(32).as("r"))),
          Seq(max(when(col("r") >= 16, 1).otherwise(0)).as("r0"),
            sum(when(col("r") === 32, 1L).otherwise(0L)).as("off0")))
      case None => (edgeRoles, Nil)
    }
    val aggs = roles ++ degree ++ coverage
    cutTracked(rows.groupBy(col("node")).agg(aggs.head, aggs.tail: _*),
      checkpointDir)
  }

  /** Every named pre-flight number in ONE action: `checks` aggregate
    * the flags, and each of `probes` is a one-row frame riding a
    * broadcast cross join. Returns name -> value.
    */
  private def preflight(flags: DataFrame, checks: Seq[Column],
                        probes: Seq[DataFrame] = Nil)
      : Map[String, Long] = {
    val row = probes.foldLeft(flags.agg(checks.head, checks.tail: _*))(
      (acc, p) => acc.crossJoin(broadcast(p))).head()
    row.schema.fieldNames.map(n => n -> row.getLong(row.fieldIndex(n)))
      .toMap
  }

  /** The recurrence's canonical round 0: every step's column at its
    * `init` value.
    */
  private def canonicalRound0(rec: Recurrence): Column =
    rec.steps.map(s => col(s.col) === decLit(s.init)).reduce(_ && _)

  /** The flag rows where `cond` holds, as a node frame — or, when the
    * pre-flight counted none, an empty one that Catalyst folds to an
    * empty LOCAL relation, pruning every union and join over it.
    */
  private def nodesWhere(flags: DataFrame, cond: Column,
                         any: Boolean): DataFrame =
    flags.where(if (any) cond else lit(false)).select(col("node"))

  private def violationText(violations: Map[String, Long]): String =
    violations.map {
      case ("node_removed", n) => s"$n nodes appear only in the " +
        "old frame (a departed node's mass withdrawal has no " +
        "local footprint to seed a frontier from)"
      case ("dangling_old", n) => s"$n dangling nodes in the " +
        "old frame (its dangling mass was a global term)"
      case ("dangling_new", n) => s"$n dangling nodes in the " +
        "new frame (dangling mass is a global term)"
      case ("seeded_trace", n) => s"$n round-0 scores differ " +
        "from `scale` — the trace is seeded (or was built with a " +
        "different scale), and seeded teleport shifts with |S|"
      case (k, n) => s"$n × $k"
    }.mkString("; ")

  /** Partition-layout hint for a fold's edge artifact: the frame was
    * written with a physical partition column
    * `sb = pmod(xxhash64(src), buckets)` (int), and `scan(ids)`
    * returns the weight-normalized `(src, dst, w)` slice reading
    * ONLY those partition directories — literal partition pruning,
    * visible in the plan as `PartitionFilters: [sb IN (…)]`. Every
    * src-keyed fold probe — hop expansion, degree extraction, the
    * driver fold's out-edge probes — then reads frontier-proportional
    * FILE bytes instead of the full artifact WHEN the frontier is
    * selective ([[pruneOrWhole]] — a dense frontier keeps the warm
    * cache). At 100 TB the edge frame cannot live in cache, so
    * pruned parquet reads are the difference between a fold hop
    * costing O(frontier) and O(graph) I/O.
    *
    * `scanDst`, when present, is the same contract for a SECOND copy
    * of the artifact partitioned by `db = pmod(xxhash64(dst),
    * buckets)` — it makes the dst-keyed probes (the frontier IN-EDGE
    * extract, which `scan` cannot prune) frontier-proportional too,
    * at the disclosed cost of 2× artifact storage.
    */
  private[graft] final case class EdgeLayout(
      buckets: Int, scan: Seq[Int] => DataFrame,
      scanDst: Option[Seq[Int] => DataFrame] = None)

  /** Frame capture for ExplainAudit's fold-layout pin: when the
    * `graft.fold.audit` system property is `true`, the distributed
    * fold records its pruned hop probe ("hop"), its in-edge extract
    * ("inedge") and its final trace-patch compose ("compose") here,
    * pre-cut. The fold's intermediate frames are consumed by eager
    * cuts, so their plans are invisible on the returned frame — this
    * is the only window the audit has. Debug-only: never read (and
    * never populated) in production paths.
    */
  private[graft] val foldAuditFrames =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def foldAudit(key: String, df: DataFrame): Unit =
    if (sys.props.get("graft.fold.audit").contains("true"))
      foldAuditFrames.put(key, df)

  /** The partition-bucket ids a node frame's values hash into — at
    * most `buckets` ints from one tiny distinct-aggregate. Must
    * mirror the writer's `pmod(xxhash64(src), buckets)` exactly.
    */
  private def bucketIds(nodes: DataFrame, buckets: Int): Seq[Int] =
    nodes.select(pmod(xxhash64(col(nodes.columns.head)),
        lit(buckets.toLong)).cast("int").as("__b"))
      .distinct().collect().map(_.getInt(0)).toSeq

  /** [[bucketIds]] for a DRIVER-RESIDENT node set: the same
    * `pmod(xxhash64(v), buckets)` evaluated through the catalyst
    * expressions themselves (same hash seed, same modulo semantics —
    * bit-identical to the writer's partition column) with zero
    * cluster jobs. The driver fold probes a handful of frontiers per
    * run; each would otherwise pay a scheduler round-trip just to
    * learn which buckets its LOCAL node set hashes into.
    */
  private def bucketIdsDriver(
      nodes: Iterable[Any],
      dt: org.apache.spark.sql.types.DataType,
      buckets: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    nodes.iterator.map { v =>
      // seed 42L == the SQL xxhash64 function's default seed (what
      // the writer's pmod(xxhash64(src), buckets) used)
      Pmod(XxHash64(Seq(Literal.create(v, dt)), 42L),
          Literal(buckets.toLong))
        .eval(null).asInstanceOf[Long].toInt
    }.toSet.toSeq.sorted(Ordering.Int)
  }

  /** The frame an edge probe keyed by `src` (or, with `dstKeyed`, by
    * `dst`) reads: the layout's slice for the probing frontier's
    * buckets (`ids(buckets)`) when that is selective, else `whole`.
    * A pruned parquet scan reads `ids.size / buckets` of the
    * artifact from DISK, a whole-frame probe reads the warm CACHE —
    * the slice only wins when the frontier is genuinely selective
    * (≤ 1/4 of the buckets; a dense small-scale frontier populates
    * every bucket and pruning would just bypass the cache). At
    * 100 TB a 1 %-delta frontier of a well-bucketed artifact hashes
    * into few buckets, so the big-data regime prunes by
    * construction. A dst-keyed probe prunes only against the
    * layout's dst-partitioned companion; without one it reads
    * `whole`. `graft.fold.forcePrune` (set by ExplainAudit) forces
    * the pruned plan so its SHAPE can be pinned at any scale — the
    * threshold decides when, the pin verifies what.
    */
  private def pruneOrWhole(layout: Option[EdgeLayout], dstKeyed: Boolean,
                           whole: DataFrame)(ids: Int => Seq[Int])
      : DataFrame =
    layout.flatMap(l =>
        (if (dstKeyed) l.scanDst else Some(l.scan)).map(l.buckets -> _))
      match {
        case Some((buckets, scan)) =>
          val b = ids(buckets)
          if (sys.props.get("graft.fold.forcePrune").contains("true") ||
              b.size * 4 <= buckets) scan(b)
          else whole
        case None => whole
      }

  /** One half-step of a rank recurrence: the trace column `col` it
    * rewrites; whether a node's score sums over its in-edges (`in`)
    * or its out-edges; the step (by index) whose score it reads at
    * each edge's far end, from the previous round (`lag` 1) or from
    * this round (`lag` 0, only for a step earlier in the round); and
    * the step's canonical round-0 value.
    */
  private final case class Step(col: String, in: Boolean, reads: Int,
                                lag: Int, init: BigInt)

  /** A rank recurrence the frontier fold runs — its half-steps and
    * the round arithmetic, in BigInt for the driver fold and as
    * DECIMAL(38,0) columns for the distributed one (both exact
    * integer floors, so the two agree bit-for-bit). A node's new
    * score is `finish(Σ share(far-end score, w, deg))` over its
    * step's edges; `byDegree` recurrences divide by the edge
    * source's total out-weight `deg`.
    */
  private sealed trait Recurrence {
    def steps: Seq[Step]
    def weighted: Boolean
    def byDegree: Boolean
    def share(v: BigInt, w: BigInt, deg: BigInt): BigInt
    def finish(sum: BigInt): BigInt
    def shareCol(v: Column, w: Column, deg: Column): Column
    def finishCol(sum: Column): Column
  }

  /** Unseeded, dangling-free PageRank: one score per round over
    * in-edges, `share = floor(pr·w / deg)` and
    * `pr' = floor((den−num)·scale/den) + floor(num·Σ share / den)` —
    * the [[pagerank]] update with D ≡ 0 and S = N.
    */
  private final case class PageRank(num: Long, den: Long, scale: Long,
                                    weighted: Boolean)
      extends Recurrence {
    val steps = Seq(Step("pr", in = true, reads = 0, lag = 1,
      init = BigInt(scale)))
    def byDegree = true
    private val base = BigInt(den - num) * BigInt(scale) / BigInt(den)
    def share(v: BigInt, w: BigInt, deg: BigInt): BigInt = v * w / deg
    def finish(sum: BigInt): BigInt = base + BigInt(num) * sum / den
    def shareCol(v: Column, w: Column, deg: Column): Column =
      if (weighted) floorDiv(v * w, deg) else floorDiv(v, deg)
    def finishCol(sum: Column): Column =
      decLit(base) +
        floorDiv(lit(num).cast(Dec) * sum, lit(den).cast(Dec))
  }

  /** Raw HITS ([[hitsTrace]]): two alternating half-steps of plain
    * sums, `a_t(v) = Σ_{u→v} h_{t−1}(u)` over in-edges, then
    * `h_t(u) = Σ_{u→v} a_t(v)` over out-edges.
    */
  private case object RawHits extends Recurrence {
    val steps = Seq(
      Step("a_raw", in = true, reads = 1, lag = 1, init = BigInt(0)),
      Step("h_raw", in = false, reads = 0, lag = 0, init = BigInt(1)))
    def weighted = false
    def byDegree = false
    def share(v: BigInt, w: BigInt, deg: BigInt): BigInt = v
    def finish(sum: BigInt): BigInt = sum
    def shareCol(v: Column, w: Column, deg: Column): Column = v
    def finishCol(sum: Column): Column = sum
  }

  /** Where one step's frontier starts: `direct` nodes are dirty
    * outright (an added node, a changed in-multiset); `via` nodes'
    * outgoing shares changed (a changed out-degree), so their
    * neighbors along the step's edges are dirty.
    */
  private final case class Seeds(direct: DataFrame,
                                 via: Option[DataFrame] = None)

  /** The rank family's ONE incremental fold — one kernel, two
    * recurrences: [[PageRank]] for [[pagerankDelta]] and
    * [[pagerankRefresh]], [[RawHits]] for [[hitsDelta]]. It re-runs
    * recurrence `rec` over the new edge frame `e` (plain
    * `src, dst[, w]`) for ONLY the dirty frontier, copying every
    * other node's score from the trace, and returns the patched final
    * trace element. One pre-flight ([[endpointFlags]]), one
    * driver-resident fold and one distributed fold serve both; only
    * the recurrence's steps and round arithmetic differ.
    *
    * Frontier: step X's dirty set at round t is
    * `seeds ∪ nbr(dirty set of the step X reads ∪ via)` — a node is
    * dirty when an edge's far end is. Every such recurrence is
    * MONOTONE in t (round 1's set is contained in round 2's, and so
    * on), so the round-k frontier covers every round. Recomputing a
    * covered-but-unchanged node is harmless: its sum over the patched
    * frame reproduces the trace value bit-for-bit. `added` nodes
    * (absent from the trace) must sit in every step's seeds; being
    * permanently dirty, they enter at the step's round-0 value.
    * Round 0 is the canonical placement everywhere (the callers'
    * pre-flight), so it is read from `init`, never from the trace.
    *
    * Dispatch: a frontier whose edges fit `maxBroadcastBytes` folds
    * driver-resident ([[foldDriver]]); past the budget the fold runs
    * distributed ([[foldDistributed]]). Either way the result is ONE
    * eager node-sized cut, so every internal frame is released
    * before returning.
    */
  private def fold(rec: Recurrence, e: DataFrame, seeds: Seq[Seeds],
                   added: DataFrame, trace: Seq[DataFrame],
                   checkpointDir: Option[String],
                   maxBroadcastBytes: Long,
                   layout: Option[EdgeLayout] = None): DataFrame =
    foldDriver(rec, e, seeds, added, trace, checkpointDir,
        maxBroadcastBytes, layout)
      .getOrElse(foldDistributed(rec, e, seeds, added, trace,
        checkpointDir, layout))

  /** Rows admissible under a BYTE budget for a schema: budget
    * divided by the estimated row width (field defaultSizes + 16
    * bytes of per-row object overhead). A row cap alone (the first
    * cut's budget/32) under-priced wide frames: a hub source puts
    * one node in millions of collected in-edge ROWS whose
    * (src, dst, DECIMAL(38) w) width is several times 32 bytes, so
    * the driver materialized far past the budget while the node
    * COUNT stayed small — the skewed frontier must fall back to the
    * distributed rounds BEFORE collecting, not after.
    */
  private def byteRowLimit(
      schema: org.apache.spark.sql.types.StructType,
      maxBytes: Long): Long = {
    val width = schema.fields.map(_.dataType.defaultSize).sum + 16
    (maxBytes / width.max(1)).max(1L)
  }

  /** Collect at most `rowLimit` rows of a frame: `None` when it holds
    * more. The `limit(n+1)` bounds the collect ITSELF — an
    * over-budget frame costs one row past the limit, never a driver
    * OOM.
    */
  private def collectUpTo(df: DataFrame, rowLimit: Long)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val rows = df.limit((rowLimit + 1).min(Int.MaxValue).toInt)
      .collect()
    if (rows.length > rowLimit) None else Some(rows)
  }

  /** [[collectUpTo]] the rows of `df` a byte budget admits
    * ([[byteRowLimit]] of the frame's own schema).
    */
  private def collectBounded(df: DataFrame, maxBytes: Long)
      : Option[Array[org.apache.spark.sql.Row]] =
    collectUpTo(df, byteRowLimit(df.schema, maxBytes))

  /** Run `body` with limit-collects executing as ONE single-wave job
    * — the default CollectLimit escalation (1 partition, then 4×…)
    * turns every bounded probe into up to five scheduler
    * round-trips. Restores the previous setting on exit.
    *
    * CONCURRENCY: this toggles a session-wide SQL conf
    * (`spark.sql.limit.initialNumPartitions`) for the duration of
    * the driver fold's bounded probes — a concurrent query on the
    * SAME SparkSession would observe the temporary value, and a
    * concurrent setter would be clobbered by the finally-restore.
    * The bounded probes cannot move to a cloned session (a DataFrame
    * is bound to the session that planned it), so the delta folds
    * carry the same precondition as the release machinery above:
    * one query at a time per session. The only effect of a violation
    * is a limit executing in one wave instead of escalating — a
    * scheduling detail, never a different answer.
    */
  private def withSingleWaveLimit[A](
      spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.limit.initialNumPartitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1000000")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A driver-resident node set as a one-column local frame — the
    * build side every bounded edge probe broadcasts.
    */
  private def localNodeFrame(
      spark: org.apache.spark.sql.SparkSession,
      nodes: Iterable[Any], name: String,
      dt: org.apache.spark.sql.types.DataType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      nodes.map(n => org.apache.spark.sql.Row(n)).toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(name, dt))))
  }

  /** The driver fold's memo of the edge frame `e`: each node's
    * out-edges (probed by `src`) and in-edges (by `dst`) as
    * `(far end, w)` lists, every node probed at most ONCE per
    * direction. A probe is one bounded collect of a broadcast join
    * between the layout's pruned slice and a local frame of the
    * not-yet-probed nodes; all probes together hold at most the
    * edge rows `maxBytes` admits — one cumulative cap, past which
    * [[probe]] answers false and the fold goes distributed.
    */
  private final class EdgeProbe(
      e: DataFrame, layout: Option[EdgeLayout],
      nodeType: org.apache.spark.sql.types.DataType,
      weighted: Boolean, maxBytes: Long) {
    import scala.collection.mutable
    private val out, in = mutable.HashMap.empty[Any, List[(Any, BigInt)]]
    private val probedOut, probedIn = mutable.HashSet.empty[Any]
    private var held = 0L

    /** Memoize the out-edges (`bySrc`) or in-edges of `nodes`. */
    def probe(nodes: Iterable[Any], bySrc: Boolean): Boolean = {
      val probed = if (bySrc) probedOut else probedIn
      val fresh = nodes.filterNot(probed).toSet
      fresh.isEmpty || {
        val f = pruneOrWhole(layout, !bySrc, e)(
          bucketIdsDriver(fresh, nodeType, _))
        val (key, far) = if (bySrc) ("src", "dst") else ("dst", "src")
        val probeFrame = f.join(
            broadcast(localNodeFrame(e.sparkSession, fresh, "__f",
              nodeType)), f(key) === col("__f"))
          .select(f(key), f(far), if (weighted) f("w") else lit(1L))
        collectUpTo(probeFrame,
            byteRowLimit(probeFrame.schema, maxBytes) - held) match {
          case Some(rows) =>
            held += rows.length
            probed ++= fresh
            val memo = if (bySrc) out else in
            rows.foreach { r =>
              val w = r.get(2) match {
                case d: java.math.BigDecimal => BigInt(d.toBigInteger)
                case n: Number => BigInt(n.longValue)
              }
              memo.update(r.get(0), (r.get(1), w) ::
                memo.getOrElse(r.get(0), Nil))
            }
            true
          case None => false
        }
      }
    }

    /** The memoized edges at `n`: in-edges for an in-step, else
      * out-edges, as `(far end, w)`.
      */
    def edges(n: Any, inEdges: Boolean): List[(Any, BigInt)] =
      (if (inEdges) in else out).getOrElse(n, Nil)
  }

  /** Driver-resident fold — the small-delta production profile. The
    * broadcast budget is the admission test: a frontier (plus its
    * edges and their degree totals) inside `maxBroadcastBytes` is BY
    * DEFINITION driver-collectable — it is exactly what every
    * broadcast join would ship to the driver anyway, so collect it
    * ONCE and run the k rounds as exact BigInt arithmetic with zero
    * cluster round-trips. Every collect is bounded: past the budget
    * the fold returns None and [[fold]] goes distributed.
    *
    * Cluster work that remains: one bounded collect of each seed
    * set (added nodes sit in the seeds; the compose reads `added`
    * itself), one [[EdgeProbe]] per expansion step that meets new nodes
    * (the closure stops early when the frontier closes, e.g.
    * cycles), one degree aggregate for `byDegree` recurrences, one
    * scan of the off-frontier far ends' trace scores (all rounds in
    * one tagged union), and the ONE node-sized [[compose]] that
    * patches the final trace element.
    */
  private def foldDriver(rec: Recurrence, e: DataFrame,
                         seeds: Seq[Seeds], added: DataFrame,
                         trace: Seq[DataFrame],
                         checkpointDir: Option[String],
                         maxBytes: Long,
                         layout: Option[EdgeLayout])
      : Option[DataFrame] = {
    val k = trace.length - 1
    val steps = rec.steps
    val spark = e.sparkSession
    val nodeType = added.schema("node").dataType
    // cap for driver-resident NODE SETS (collected frames are capped
    // per-frame by their own byte-derived row limit)
    val nodeLimit = (maxBytes / (nodeType.defaultSize + 16)).max(1L)
    def local(nodes: Iterable[Any], name: String): DataFrame =
      localNodeFrame(spark, nodes, name, nodeType)
    def nodesOf(df: DataFrame): Option[Set[Any]] =
      collectBounded(df.select(col("node")), maxBytes)
        .map(_.iterator.map(_.get(0)).toSet)
    def big(d: java.math.BigDecimal): BigInt = BigInt(d.toBigInteger)
    val probe = new EdgeProbe(e, layout, nodeType, rec.weighted,
      maxBytes)
    withSingleWaveLimit(spark) { for {
      seedSets <- seeds.foldLeft(Option(Vector.empty[(Set[Any],
          Set[Any])])) { (acc, s) =>
        for {
          v <- acc
          d <- nodesOf(s.direct)
          p <- s.via.fold(Option(Set.empty[Any]))(nodesOf)
        } yield v :+ (d -> p)
      }
      // the monotone frontiers, one per step, expanded a round at a
      // time until round k or until a whole round adds nothing
      frontier <- {
        val f = Array.fill(steps.size)(Set.empty[Any])
        var ok = true
        var grew = true
        var t = 0
        while (ok && grew && t < k) {
          t += 1
          grew = false
          for ((s, i) <- steps.zipWithIndex if ok) {
            val (direct, via) = seedSets(i)
            val from = f(s.reads) ++ via
            // an in-step's far ends are its sources: their
            // out-neighbors turn dirty, and vice versa
            ok = probe.probe(from, bySrc = s.in)
            if (ok) {
              val next = f(i) ++ direct ++ from.iterator.flatMap(n =>
                probe.edges(n, inEdges = !s.in).map(_._1))
              grew ||= next.size > f(i).size
              f(i) = next
              ok = next.size <= nodeLimit
            }
          }
        }
        // every step's own edges: in-edges of an in-step's frontier,
        // out-edges of an out-step's
        if (ok) ok = steps.zipWithIndex.forall { case (s, i) =>
          probe.probe(f(i), bySrc = !s.in) }
        if (ok) Some(f.toSeq) else None
      }
      // out-degree TOTALS of every edge source a byDegree step reads
      // (each source's full out-edge sum — aggregated cluster-side,
      // so the collect is source-set-sized even for hub sources;
      // unweighted degrees are long counts, w ≡ 1 sums exactly)
      deg <- {
        val srcs = if (!rec.byDegree) Set.empty[Any]
          else steps.zipWithIndex.iterator.flatMap { case (s, i) =>
            frontier(i).iterator.flatMap(n =>
              if (s.in) probe.edges(n, inEdges = true).map(_._1)
              else Iterator.single(n)) }.toSet
        if (srcs.isEmpty) Some(Map.empty[Any, BigInt])
        else {
          val de = pruneOrWhole(layout, dstKeyed = false, e)(
            bucketIdsDriver(srcs, nodeType, _))
          collectBounded(
            de.join(broadcast(local(srcs, "__s")), de("src") === col("__s"))
              .groupBy(de("src").as("src"))
              .agg((if (rec.weighted) sum(col("w")) else count(lit(1)))
                .cast(Dec).as("deg")), maxBytes)
            .map(_.iterator.map(r => r.get(0) -> big(r.getDecimal(1)))
              .toMap)
        }
      }
      // trace scores of the far ends OUTSIDE the frontier of the
      // step they read (frontier scores are recomputed; round 0 is
      // the canonical `init`) — every round in ONE tagged-union scan
      traceVals <- {
        val lastRound = k - steps.map(_.lag).min
        val outside = steps.zipWithIndex.iterator.flatMap { case (s, i) =>
          frontier(i).iterator.flatMap(n =>
            probe.edges(n, inEdges = s.in).map(_._1))
            .filterNot(frontier(s.reads)) }.toSet
        if (lastRound < 1 || outside.isEmpty)
          Some(Map.empty[(Int, Any), IndexedSeq[BigInt]])
        else {
          val cols = steps.map(s => col(s.col))
          val tagged = (1 to lastRound).map(r =>
              trace(r).select(lit(r).as("__rt") +: col("node") +: cols: _*))
            .reduce(_ unionAll _)
          collectBounded(
            tagged.join(broadcast(local(outside, "node")), Seq("node"))
              .select(col("__rt") +: col("node") +: cols: _*),
            maxBytes)
            .map(_.iterator.map(r => (r.getInt(0), r.get(1)) ->
              steps.indices.map(j => big(r.getDecimal(2 + j)))).toMap)
        }
      }
    } yield {
      // k rounds of exact BigInt arithmetic over the collected
      // frontier, each step in order (a lag-0 step reads the step
      // this round just computed, a lag-1 step the previous round's)
      val fresh = Array.fill(steps.size)(Map.empty[Any, BigInt])
      for (t <- 1 to k; (s, i) <- steps.zipWithIndex) {
        val r = t - s.lag
        val j = s.reads
        def score(m: Any): BigInt =
          if (r == 0) steps(j).init
          else if (frontier(j).contains(m)) fresh(j)(m)
          else traceVals((r, m))(j)
        fresh(i) = frontier(i).iterator.map { n =>
          n -> rec.finish(probe.edges(n, inEdges = s.in)
            .foldLeft(BigInt(0)) { case (acc, (m, w)) =>
              acc + rec.share(score(m), w,
                if (rec.byDegree) deg(if (s.in) m else n) else 1)
            })
        }.toMap
      }
      val freshRows = frontier.flatten.distinct.map { n =>
        org.apache.spark.sql.Row(n +: fresh.toSeq.map(_.get(n)
          .map(v => new java.math.BigDecimal(v.bigInteger)).orNull): _*)
      }
      import scala.jdk.CollectionConverters._
      val freshFrame = spark.createDataFrame(freshRows.asJava,
        org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("node", nodeType) +:
            steps.map(s => org.apache.spark.sql.types.StructField(
              "__n" + s.col, org.apache.spark.sql.types.DataTypes
                .createDecimalType(38, 0)))))
      compose(trace(k), broadcast(freshFrame), added,
        steps.map(_.col), checkpointDir)
    } }
  }

  /** Distributed fold — the large-frontier fallback, in three
    * passes:
    *
    *  - EXPAND the monotone frontiers once, through k rounds of cut
    *    hops (AQE sizes each join off the checkpointed frames' real
    *    stats, broadcasting what fits; with a layout hint each hop
    *    reads only the frontier's partition buckets). The round-k
    *    frontiers serve every round ([[fold]]).
    *  - EXTRACT each step's edges once — in-edges of an in-step's
    *    frontier, out-edges of an out-step's — with a `byDegree`
    *    recurrence's source out-degree totals pre-joined, and cut
    *    them: the k rounds then scan these frontier-proportional
    *    frames and never the full edge frame. Each edge carries
    *    whether its far end's score is recomputed (`__in`) or comes
    *    from the trace verbatim, and the far ends are cut once
    *    beside them.
    *  - FOLD the k rounds as ONE lazy chain: each round's fresh frame
    *    is referenced exactly once (by the step that reads it next),
    *    so no per-round cut is needed — the final frontier-sized cut
    *    of the last round's scores is the chain's one cluster action.
    *
    * NO node-sized shuffle anywhere: each round reads a trace
    * element only to look up the step's far ends (frontier-sized)
    * — the trace scan joins that set directly, so
    * when the trace is a node-BUCKETED table the scan reaches its
    * join without an Exchange over it. The one node-sized pass left
    * is the closing [[compose]] of trace(k) — same no-trace-shuffle
    * shape. A full re-rank pays an edge-sized shuffle join and a
    * node-sized checkpoint EVERY round; the fold pays
    * frontier-sized shuffles and ONE node-sized (shuffle-free)
    * compose.
    */
  private def foldDistributed(rec: Recurrence, e: DataFrame,
                              seeds: Seq[Seeds], added: DataFrame,
                              trace: Seq[DataFrame],
                              checkpointDir: Option[String],
                              layout: Option[EdgeLayout])
      : DataFrame = {
    val k = trace.length - 1
    val steps = rec.steps
    val pins = Seq.newBuilder[RDD[_]]
    def keep(df: DataFrame): DataFrame = {
      val (c, p) = cutTracked(df, checkpointDir)
      pins ++= p
      c
    }
    def edgeCols(f: DataFrame): Seq[Column] =
      Seq(f("src"), f("dst")) ++ (if (rec.weighted) Seq(f("w")) else Nil)
    // the edges of `nodes` keyed by `key` ("src": out-edges, "dst":
    // in-edges), pruned through the layout to the nodes' buckets
    def edgesAt(nodes: DataFrame, key: String): DataFrame = {
      val pe = pruneOrWhole(layout, key == "dst", e)(bucketIds(nodes, _))
      pe.join(nodes.withColumnRenamed("node", "__k"),
        pe(key) === col("__k"))
    }
    val frontier = Array.fill[Option[DataFrame]](steps.size)(None)
    for (_ <- 1 to k; (s, i) <- steps.zipWithIndex) {
      val from = (frontier(s.reads).toSeq ++ seeds(i).via)
        .reduceOption(_ unionAll _)
      val hop = from.map { f =>
        val (key, far) = if (s.in) ("src", "dst") else ("dst", "src")
        val h = edgesAt(f, key).select(col(far).as("node"))
        foldAudit("hop", h)
        h
      }
      frontier(i) = Some(keep((seeds(i).direct.select(col("node")) +:
        hop.toSeq).reduce(_ unionAll _).distinct()))
    }
    val dirty = frontier.map(_.get)
    val stepEdges = steps.zipWithIndex.map { case (s, i) =>
      val (key, far) = if (s.in) ("dst", "src") else ("src", "dst")
      val x = edgesAt(dirty(i), key)
      val extract = x.select(edgeCols(x): _*)
      if (s.in) foldAudit("inedge", extract)
      val eX = keep(extract)
      // out-degree TOTALS of the extract's sources — summed over
      // each source's full out-edge set (a function of src, so a
      // layout hint prunes this scan to those sources' buckets)
      val withDeg =
        if (!rec.byDegree) eX
        else eX.join(edgesAt(eX.select(col("src").as("node")).distinct(),
              "src")
            .groupBy(col("src").as("__dn"))
            .agg((if (rec.weighted) sum(col("w")) else count(lit(1)))
              .cast(Dec).as("deg")), col("__dn") === eX("src"))
          .select(edgeCols(eX) :+ col("deg"): _*)
      // `__in`: the step this one reads recomputes the far end's
      // score, so the round takes it fresh instead of from the trace
      keep(withDeg.join(dirty(s.reads).select(col("node").as("__r"),
          lit(true).as("__rin")), col(far) === col("__r"), "left")
        .select(withDeg.columns.map(col) :+
          coalesce(col("__rin"), lit(false)).as("__in"): _*))
    }
    // every far end, cut once: the trace lookups join this set
    // directly (never empty while the step has edges — an empty
    // build side would let AQE re-plan mid-query)
    val farEnds = steps.zipWithIndex.map { case (s, i) =>
      keep(stepEdges(i).select(col(if (s.in) "src" else "dst").as("node"))
        .distinct())
    }
    val fresh = Array.fill[Option[DataFrame]](steps.size)(None)
    for (t <- 1 to k; (s, i) <- steps.zipWithIndex) {
      val r = t - s.lag
      val j = s.reads
      val (near, far) = if (s.in) ("dst", "src") else ("src", "dst")
      val x = stepEdges(i)
      val shares =
        if (r == 0)
          x.select(col(near).as("node"), rec.shareCol(
            decLit(steps(j).init), col("w"),
            col("deg")).as("__sh"))
        else {
          // far-end scores: fresh where the read step recomputes the
          // far end, the trace verbatim elsewhere — each edge meets
          // exactly one through its `__in`
          val scores = fresh(j).get
            .select(col("node"), col("__v"), lit(true).as("__sin"))
            .unionAll(trace(r).select(col("node"),
                col(steps(j).col).as("__v"))
              .join(farEnds(i), Seq("node"))
              .select(col("node"), col("__v"), lit(false).as("__sin")))
          x.join(scores.withColumnRenamed("node", "__m"),
              col(far) === col("__m") && col("__in") === col("__sin"))
            .select(col(near).as("node"), rec.shareCol(col("__v"),
              col("w"), col("deg")).as("__sh"))
        }
      val sums = shares.groupBy(col("node"))
        .agg(sum(col("__sh")).cast(Dec).as("__s"))
      // NOT cut: single-reference linear chain (see scaladoc)
      fresh(i) = Some(dirty(i).join(sums, Seq("node"), "left")
        .select(col("node"), rec.finishCol(
          coalesce(col("__s"), lit(0).cast(Dec))).as("__v")))
    }
    val last = keep(steps.indices.map(i => fresh(i).get
        .select(col("node"), col("__v").as("__n" + steps(i).col)))
      .reduce(_.join(_, Seq("node"), "full_outer")))
    val out = compose(trace(k), last, added, steps.map(_.col),
      checkpointDir)
    release(pins.result())
    out
  }

  /** The closing patch both folds share: trace(k)'s `cols`, each
    * coalesced against the frontier's fresh `__n<col>` value (dirty
    * nodes win), plus the added nodes — present only in `fresh` —
    * appended from it directly, as ONE eager node-sized cut. No
    * union sits below the join, so a bucketed trace scan reaches the
    * join unshuffled.
    */
  private def compose(last: DataFrame, fresh: DataFrame,
                      added: DataFrame, cols: Seq[String],
                      checkpointDir: Option[String]): DataFrame = {
    val patched = last.select(col("node") +: cols.map(col): _*)
      .join(fresh, Seq("node"), "left")
      .select(col("node") +: cols.map(c =>
        coalesce(col("__n" + c), col(c)).as(c)): _*)
      .unionAll(fresh.join(added, Seq("node"), "left_semi")
        .select(col("node") +: cols.map(c =>
          coalesce(col("__n" + c), lit(0).cast(Dec)).as(c)): _*))
    foldAudit("compose", patched)
    cutTracked(patched, checkpointDir)._1
  }

  /** How hot is the hottest reduce key? `Some(warning)` when one
    * `dst` holds more than `num/den` of all edges (default 1/8) in a
    * graph of at least `minEdges` edges (tiny graphs never warn) —
    * the pre-flight a rank run reads before committing a cluster to
    * N iterations over a star-shaped frame. One aggregate, two
    * numbers; compared by exact cross-multiplication.
    */
  def skewPreflight(edges: DataFrame, num: Long = 1L, den: Long = 8L,
                    minEdges: Long = 10000L): Option[String] = {
    require(num > 0 && den > 0, s"need a positive ratio: $num/$den")
    val r = edges.groupBy(col("dst"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("mx"),
        coalesce(sum(col("c")), lit(0L)).cast("long").as("tot"))
      .head()
    val (mx, tot) = (r.getLong(0), r.getLong(1))
    if (tot >= minEdges && mx * den >= tot * num)
      Some(s"pagerank degree skew: hottest in-degree key holds " +
        s"$mx of $tot edges (>= $num/$den) — one reducer clocks " +
        "every round; consider AQE skew handling, or pass " +
        "inflowSalt > 1 to pagerank/pagerankTrace for a two-stage " +
        "(dst, salt) inflow sum (identical scores, spec-pinned)")
    else None
  }

  /** `iterations` rounds of HITS (Kleinberg, JACM 1999) in exact
    * scaled integers: authority = inflow of hub mass, hub = outflow
    * of authority mass, each half-step renormalized to total mass
    * `scale` by exact floor division (sum-normalization — L1, not
    * the classic L2, which would need a square root; rankings are
    * unaffected and the arithmetic stays engine-exact):
    * {{{
    *   a_raw(v) = Σ_{u→v} h(u);  a(v) = floor(a_raw(v)·scale / Σ a_raw)
    *   h_raw(u) = Σ_{u→v} a(v);  h(u) = floor(h_raw(u)·scale / Σ h_raw)
    * }}}
    * Nodes outside the edge frame's src (resp. dst) side hold hub
    * (resp. authority) 0. Returns `(node, hub, auth)`.
    *
    * Shape: per iteration TWO edges⋈scores joins + two keyed sums +
    * two 1-row total broadcasts; one localCheckpoint per iteration,
    * the superseded round released as the next lands. An edge frame
    * with no edges is rejected up front (both totals would be zero).
    */
  def hits(edges: DataFrame, iterations: Int = 2,
           scale: Long = 1000000L,
           checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"driver-looped plan growth is specified for 1..16 " +
        s"iterations: $iterations")
    val e = edges.select(col("src"), col("dst"))
      .repartition(shuffleWidth(edges), col("src")).persist()
    val (nodes, nodesPins) = cutTracked(
      e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct(), checkpointDir)
    val sc = lit(scale).cast(Dec)
    var (scores, scoresPins) = cutTracked(
      nodes.select(col("node"), sc.as("hub"), sc.as("auth")),
      checkpointDir)
    for (_ <- 1 to iterations) {
      val aRaw = e.join(scores.select(col("node"), col("hub")),
          e("src") === col("node"))
        .groupBy(e("dst").as("node"))
        .agg(sum(col("hub")).cast(Dec).as("a_raw"))
      val aTot = aRaw.agg(
        coalesce(sum(col("a_raw")), lit(0)).cast(Dec).as("at"))
      val (withA, withAPins) = cutTracked(nodes
        .join(aRaw, Seq("node"), "left")
        .crossJoin(broadcast(aTot))
        .select(col("node"),
          when(col("a_raw").isNull || col("at") <= 0,
            lit(0).cast(Dec))
            .otherwise(floorDiv(col("a_raw") * sc, col("at")))
            .as("auth")), checkpointDir)
      val hRaw = e.join(withA.select(col("node"), col("auth")),
          e("dst") === col("node"))
        .groupBy(e("src").as("node"))
        .agg(sum(col("auth")).cast(Dec).as("h_raw"))
      val hTot = hRaw.agg(
        coalesce(sum(col("h_raw")), lit(0)).cast(Dec).as("ht"))
      val (next, nextPins) = cutTracked(withA
        .join(hRaw, Seq("node"), "left")
        .crossJoin(broadcast(hTot))
        .select(col("node"),
          when(col("h_raw").isNull || col("ht") <= 0,
            lit(0).cast(Dec))
            .otherwise(floorDiv(col("h_raw") * sc, col("ht")))
            .as("hub"),
          col("auth")), checkpointDir)
      // both the half-step and the superseded round are dead now
      release(withAPins)
      release(scoresPins)
      scores = next
      scoresPins = nextPins
    }
    e.unpersist()
    release(nodesPins)
    scores.select(col("node"), col("hub"), col("auth"))
  }

  /** HITS with DEFERRED normalization: raw power iteration
    * (Kleinberg's original formulation — per-round normalization
    * exists only for float stability, which exact integers don't
    * need), L1-normalized to total mass `scale` ONCE at the end:
    * {{{
    *   h_0(u)  = 1
    *   a_t(v)  = Σ_{u→v} h_{t−1}(u)
    *   h_t(u)  = Σ_{u→v} a_t(v)
    *   auth(v) = floor(a_k(v)·scale / Σ a_k);  hub likewise
    * }}}
    * Same ranking family as [[hits]] (each round's raw frame is a
    * positive scalar multiple of the renormalized one in real
    * arithmetic); the raw linear recurrences are what make an
    * incremental fold possible — [[hitsDelta]] folds an edge batch
    * against a [[hitsTrace]] run, which the per-round floor
    * renormalization forbids (every round's divisor is global, so
    * no change stays local).
    *
    * Growth is PRICED up front: raw scores grow like Din^t·Dout^t,
    * so the one-aggregate pre-flight bounds a_k ≤ N·Din^k·Dout^(k−1)
    * (and h_k ≤ N·Din^k·Dout^k) in BigInt and refuses iterations
    * DECIMAL(38,0) cannot hold, naming the knobs (fewer iterations,
    * or the per-round-normalized [[hits]]).
    */
  def hitsDeferred(edges: DataFrame, iterations: Int = 2,
                   scale: Long = 1000000L,
                   checkpointDir: Option[String] = None): DataFrame =
    normalizeHits(hitsTraceImpl(edges, iterations, checkpointDir,
      keepTrace = false).last, scale)

  /** [[hitsDeferred]]'s full per-round raw trace: element t holds
    * `(node, a_raw, h_raw)` AFTER t rounds (element 0 = the initial
    * placement: h_raw = 1, a_raw = 0), each materialized and
    * lineage-cut — the artifact [[hitsDelta]] folds edge batches
    * against. Every element stays pinned (the caller owns the
    * artifact).
    */
  def hitsTrace(edges: DataFrame, iterations: Int = 2,
                checkpointDir: Option[String] = None)
      : Seq[DataFrame] =
    hitsTraceImpl(edges, iterations, checkpointDir, keepTrace = true)

  private def hitsTraceImpl(edges: DataFrame, iterations: Int,
                            checkpointDir: Option[String],
                            keepTrace: Boolean)
      : Seq[DataFrame] = {
    require(iterations >= 1 && iterations <= 16,
      s"driver-looped plan growth is specified for 1..16 " +
        s"iterations: $iterations")
    val e = edges.select(col("src"), col("dst"))
      .repartition(shuffleWidth(edges), col("src")).persist()
    hitsGrowthPreflight(e, iterations)
    val (nodes, nodesPins) = cutTracked(
      e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct(), checkpointDir)
    var (state, statePins) = cutTracked(nodes.select(col("node"),
      lit(0).cast(Dec).as("a_raw"),
      lit(1).cast(Dec).as("h_raw")), checkpointDir)
    val trace = Seq.newBuilder[DataFrame]
    trace += state
    for (_ <- 1 to iterations) {
      val aRaw = e.join(state.select(col("node"), col("h_raw")),
          e("src") === col("node"))
        .groupBy(e("dst").as("node"))
        .agg(sum(col("h_raw")).cast(Dec).as("__a"))
      val (withA, withAPins) = cutTracked(
        nodes.join(aRaw, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__a"), lit(0).cast(Dec)).as("a_raw")),
        checkpointDir)
      val hRaw = e.join(withA.select(col("node"), col("a_raw")),
          e("dst") === col("node"))
        .groupBy(e("src").as("node"))
        .agg(sum(col("a_raw")).cast(Dec).as("__h"))
      val (next, nextPins) = cutTracked(
        withA.join(hRaw, Seq("node"), "left")
        .select(col("node"), col("a_raw"),
          coalesce(col("__h"), lit(0).cast(Dec)).as("h_raw")),
        checkpointDir)
      release(withAPins)
      if (!keepTrace) release(statePins)
      state = next
      statePins = nextPins
      trace += state
    }
    e.unpersist()
    release(nodesPins)
    trace.result()
  }

  /** Fold a batch of NEW edges into a completed [[hitsTrace]] run —
    * the q169 delta discipline applied to HITS. Result is spec- and
    * oracle-pinned EXACTLY equal to
    * `hitsDeferred(edges ∪ delta, iterations)`.
    *
    * Why this folds where [[hits]] cannot: the raw recurrences are
    * LINEAR with no global term, so round t's a_raw changes only at
    * nodes whose in-multiset changed (dsts(Δ)) or with an
    * in-neighbor whose h_raw changed, and h_raw likewise through
    * out-edges — two alternating frontiers, expanded through E∪Δ by
    * the rank family's one frontier fold ([[fold]], recurrence
    * [[RawHits]]). New nodes are allowed (they enter at h_0 = 1,
    * permanently dirty — no global base to rebase, unlike PageRank's
    * teleport). The final L1 normalization is global but O(nodes):
    * two scalar aggregates over the composed final frame.
    *
    * Trace-consistency pre-flight (`require`d): round 0 must be the
    * canonical placement (a_raw = 0, h_raw = 1 everywhere) and must
    * COVER the base frame's node set — a trace built from a
    * different edge frame would otherwise fold silently into wrong
    * scores. The growth bound, its statistics read off the flag
    * rows themselves, refuses what DECIMAL(38,0) cannot hold.
    */
  def hitsDelta(edges: DataFrame, delta: DataFrame,
                trace: Seq[DataFrame],
                scale: Long = 1000000L,
                checkpointDir: Option[String] = None,
                maxBroadcastBytes: Long = 128L << 20): DataFrame = {
    // >= 2 for the same reason as pagerankDelta: a zero-round fold
    // has nothing to fold — refuse
    require(trace.length >= 2,
      "need a hitsTrace run (round 0 + >=1 iteration) to fold into")
    val iterations = trace.length - 1
    // width-normalized caches (the pagerankTrace e0 note); the
    // combined frame stays a lazy union of the two — persisting it
    // separately would double the cached bytes for zero scans saved.
    // Coalesce, not repartition: every fold probe broadcasts the
    // frontier side, so src-hash partitioning buys nothing here and
    // the up-front edge shuffle was pure cost (the pagerankDelta
    // finding).
    val eOld = edges.select(col("src"), col("dst"))
      .coalesce(shuffleWidth(edges)).persist()
    val eDelta = delta.select(col("src"), col("dst"))
      .coalesce(shuffleWidth(delta)).persist()
    val e = eOld.unionAll(eDelta)
    // the shared flag pass, with each node's out-edge count and its
    // round-0 trace rows in the same aggregate
    val (flags, flagPins) = endpointFlags(eOld, eDelta, checkpointDir,
      outDegree = true, round0 = Some(trace.head -> canonicalRound0(RawHits)))
    val inOld = col("os") === 1 || col("od") === 1
    val isAdded = (col("ds") === 1 || col("dd") === 1) && !inOld
    // growth bound (a_k ≤ N·Din^k·Dout^(k−1) in DECIMAL(38,0) — the
    // hitsGrowthPreflight arithmetic) and trace consistency
    // (canonical round 0 covering the base node set), all read off
    // the flag rows — one per node, so round 0 repeating a node
    // cannot inflate the edge count — in ONE action
    val pre = preflight(flags, Seq(
      coalesce(max(col("outc")), lit(0L)).as("dout"),
      coalesce(sum(col("outc")), lit(0L)).cast("long").as("m"),
      count(when(isAdded, 1)).as("added_node"),
      coalesce(sum(col("off0")), lit(0L)).cast("long")
        .as("noncanonical_round0"),
      count(when(inOld && col("r0") === 0, 1))
        .as("uncovered_base_node")))
    hitsGrowthCheck(pre("dout"), pre("m"), iterations,
      () => e.groupBy(col("dst")).agg(count(lit(1)).as("c"))
        .agg(coalesce(max(col("c")), lit(0L)).as("din"))
        .head().getLong(0))
    val probe = Seq("noncanonical_round0", "uncovered_base_node")
      .map(k => k -> pre(k)).filter(_._2 > 0)
    require(probe.isEmpty,
      "hitsDelta: trace mismatch — " + probe.map {
        case ("noncanonical_round0", n) => s"$n round-0 rows " +
          "differ from the canonical placement (a_raw = 0, " +
          "h_raw = 1) — not a hitsTrace round 0"
        case (_, n) => s"$n base-frame nodes " +
          "missing from trace round 0 — the trace was built from " +
          "a different edge frame"
      }.mkString("; ") + "; rebuild the trace with hitsTrace")
    val added = nodesWhere(flags, isAdded, pre("added_node") > 0)
    // a_raw is dirty outright where the in-multiset changed (delta
    // destinations), h_raw where the out-multiset did (delta
    // sources); added nodes are both
    val composed = fold(RawHits, e,
      Seq(Seeds(flags.where(col("dd") === 1 || isAdded)
          .select(col("node"))),
        Seeds(flags.where(col("ds") === 1 || isAdded)
          .select(col("node")))),
      added, trace, checkpointDir, maxBroadcastBytes)
    release(flagPins)
    eOld.unpersist()
    eDelta.unpersist()
    normalizeHits(composed, scale)
  }

  /** The one global step of deferred HITS: L1-normalize the final
    * raw frame to total mass `scale` (two scalar aggregates riding
    * a 1-row broadcast — O(nodes), no shuffle beyond them).
    */
  private def normalizeHits(raw: DataFrame, scale: Long)
      : DataFrame = {
    val sc = lit(scale).cast(Dec)
    val tot = raw.agg(
      coalesce(sum(col("a_raw")), lit(0)).cast(Dec).as("at"),
      coalesce(sum(col("h_raw")), lit(0)).cast(Dec).as("ht"))
    raw.crossJoin(broadcast(tot))
      .select(col("node"),
        when(col("ht") <= 0, lit(0).cast(Dec))
          .otherwise(floorDiv(col("h_raw") * sc, col("ht")))
          .as("hub"),
        when(col("at") <= 0, lit(0).cast(Dec))
          .otherwise(floorDiv(col("a_raw") * sc, col("at")))
          .as("auth"))
  }

  /** Priced growth pre-flight for the deferred family: ONE
    * aggregate bounds the raw scores (a_k ≤ N·Din^k·Dout^(k−1),
    * h_k ≤ N·(Din·Dout)^k) in BigInt and refuses what DECIMAL(38,0)
    * cannot hold.
    */
  private def hitsGrowthPreflight(e: DataFrame,
                                  iterations: Int): Unit = {
    val r = e.select(col("src"), col("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("dout"),
        coalesce(sum(col("c")), lit(0L)).cast("long").as("m"))
      .head()
    hitsGrowthCheck(r.getLong(0), r.getLong(1), iterations,
      () => e.groupBy(col("dst")).agg(count(lit(1)).as("c"))
        .agg(coalesce(max(col("c")), lit(0L)).as("din"))
        .head().getLong(0))
  }

  /** The growth-bound arithmetic of [[hitsGrowthPreflight]] with the
    * (max out-degree, edge count) stats supplied by the caller —
    * hitsDelta reads them off its flag pass instead of paying a
    * dedicated aggregate. `dinOf` is only invoked when the cheap
    * Din ≤ m bound already fails.
    */
  private def hitsGrowthCheck(dout: Long, m: Long, iterations: Int,
                              dinOf: () => Long): Unit = {
    // Din ≤ total edges in the worst case; a second groupBy(dst)
    // would cost another shuffle, so bound it by the max in-degree
    // aggregate only when the cheap bound already fails
    val nBound = BigInt(2) * m.max(1L)
    def pow(b: BigInt, k: Int): BigInt = Iterator.fill(k)(b)
      .foldLeft(BigInt(1))(_ * _)
    val cap = BigInt(10).pow(38) - 1
    val cheap = nBound * pow(BigInt(dout.max(1L)) * nBound,
      iterations)
    if (cheap > cap) {
      val din = dinOf()
      val bound = nBound *
        pow(BigInt(din.max(1L)), iterations) *
        pow(BigInt(dout.max(1L)), iterations)
      require(bound <= cap,
        s"hitsDeferred: $iterations raw iterations can reach " +
          s"~$bound (> DECIMAL(38,0)) on this degree profile " +
          s"(max in $din, max out $dout, $m edges) — use fewer " +
          "iterations or the per-round-normalized hits()")
    }
  }

  /** Exact BFS hop census from a seed set — the reach diagnostic
    * pairing with seeded [[pagerank]]: how many nodes sit at each
    * minimum hop distance from ANY seed (contamination blast
    * radius, trust coverage, crawl frontier depth). Returns
    * `(hop, n_nodes)` with `hop = NULL` collecting the unreachable
    * tail; hops beyond `maxHops` count as unreachable (documented —
    * the census is the bounded-radius question).
    *
    * Shape: `maxHops` rounds of frontier expansion — each ONE
    * edges⋈frontier join + distinct + a node-keyed left join, with
    * the per-round localCheckpoint (the CC-loop contract; superseded
    * rounds released as the walk advances). The frontier only ever
    * shrinks relative to the node frame; no global structures, no
    * driver data.
    */
  def hopCensus(edges: DataFrame, seeds: DataFrame,
                maxHops: Int = 4,
                checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 1 && maxHops <= 16,
      s"driver-looped plan growth is specified for 1..16 hops: " +
        s"$maxHops")
    val e = edges.select(col("src"), col("dst"))
      .repartition(shuffleWidth(edges), col("src")).persist()
    val (nodes, nodesPins) = cutTracked(
      e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct(), checkpointDir)
    val sn = seeds.select(col("node")).distinct()
    var (depth, depthPins) = cutTracked(nodes
      .join(sn.withColumn("__s", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("__s"), lit(0)).otherwise(lit(null).cast("int"))
          .as("hop")), checkpointDir)
    for (d <- 1 to maxHops) {
      val frontier = depth.where(col("hop") === d - 1)
        .select(col("node").as("__f"))
      val reached = e.join(frontier, e("src") === col("__f"))
        .select(e("dst").as("node")).distinct()
        .withColumn("__r", lit(true))
      val (next, nextPins) = cutTracked(
        depth.join(reached, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("hop"),
            when(col("__r"), lit(d))).as("hop")), checkpointDir)
      release(depthPins)
      depth = next
      depthPins = nextPins
    }
    e.unpersist()
    release(nodesPins)
    depth.groupBy(col("hop"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Degree census of an edge frame: per-node out/in degree and the
    * distribution head — the graph-shape numbers read before a rank
    * run (skew → hot-key handling). One pass per direction.
    */
  def degreeCensus(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
