package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation. The canonical 100 TB
  * use is domain/page authority as a quality prior: crawl corpora
  * (C4/CCNet-style pipelines) weight or filter documents by the link
  * authority of their host, which is PageRank over the host graph.
  * The reference's data model has no link graph (its quality signal
  * is per-document validation, articles.py), so this is one of the
  * beyond-reference curation surfaces, next to perplexity filtering
  * (LangModel) and near-dup clustering (Dedup.resolveClusters).
  *
  * Execution shape, per power iteration: ONE shuffle — ranks join
  * edges on `src` (edges are hash-partitioned on `src` once, up
  * front, and every iteration's join reuses that exchange because the
  * rank side is re-partitioned to match), then the contribution sum
  * shuffles by `dst`. The dangling-node mass (rank parked on nodes
  * with no out-edges) is a ONE-ROW aggregate broadcast back into the
  * update — never a driver collect inside the loop, so the whole
  * run stays one lazy plan per iteration. Each iteration's ranks are
  * persisted and the previous iteration's unpersisted: without the
  * persist the lineage re-executes all prior iterations (exponential
  * blowup), which is THE classic iterative-Spark trap.
  */
object Graph {

  /** PageRank over `edges` restricted to the node universe `nodes`.
    *
    * Semantics (classic, with dangling redistribution): every node
    * starts at rank 1/N; each iteration
    * `r'(v) = (1-d)/N + d * (Σ_{u→v} r(u)/outdeg(u) + D/N)`
    * where `D` is the summed rank of dangling nodes (no out-edges).
    * Σ r stays exactly 1 per iteration, which DoubleSpec-style checks
    * can pin. Self-loops are dropped (a page linking to itself
    * contributes nothing in the classic formulation); parallel edges
    * are collapsed — an endorsement is counted once.
    *
    * `nodes` fixes the universe N independently of edge structure so
    * isolated nodes (no in- OR out-edges) still hold baseline rank —
    * deriving N from the edge list silently shrinks the universe when
    * a node's only edges are dropped self-loops.
    *
    * Returns (`node`, `rank`) for every node in `nodes`.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame,
               srcCol: String, dstCol: String,
               iterations: Int = 5, damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, nodes, srcCol, dstCol, None, iterations, damping)

  /** Warm-start PageRank — the incremental-maintenance form. After an
    * edge delta, the old ranks are already near the new fixed point
    * (power iteration contracts at rate `damping` per step), so
    * resuming from `prior` for 1-2 iterations replaces a full 5+-
    * iteration recompute: at 100 TB graph scale that is the
    * difference between touching every edge twice and five-plus
    * times. `prior` is (node, rank) from any earlier run; nodes new
    * to the universe start at 1/N, and the seed is renormalized to
    * total mass 1 in-plan (one broadcast aggregate) so the
    * conservation invariant survives node churn.
    */
  def pageRankResume(edges: DataFrame, nodes: DataFrame,
                     srcCol: String, dstCol: String, prior: DataFrame,
                     iterations: Int = 2,
                     damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, nodes, srcCol, dstCol, Some(prior), iterations,
      damping, None, None)

  /** Personalized (topic-sensitive, Haveliwala 2002) and optionally
    * edge-weighted PageRank. The teleport vector concentrates the
    * (1-d) restart mass — and the dangling-node mass — on `seeds`
    * instead of spreading it uniformly, so ranks measure authority AS
    * SEEN FROM the seed neighborhood: curation pipelines seed with
    * vetted domains (reference corpora, allowlists) and use the
    * resulting rank as a trust prior (the TrustRank construction).
    *
    * `seeds`: first column = node id; optional second NUMERIC column =
    * teleport weight (normalized in-plan to sum 1; absent ⇒ uniform
    * over the seed set). Seeds outside the node universe are ignored;
    * at least one in-universe seed is required (checked lazily — an
    * empty teleport vector divides 0/0 into NaN ranks, so callers get
    * a loud wrong answer, not a silent uniform fallback... hence the
    * eager require below instead).
    *
    * `weightCol`: optional edge-weight column in `edges`. Parallel
    * edges SUM their weights (each endorsement counts, unlike the
    * unweighted collapse), and a node's contribution splits
    * proportionally to out-weight: r(u)·w(u→v)/W(u). Non-positive
    * total out-weight rows are treated as dangling.
    *
    * Iteration update:
    * `r'(v) = (1-d)·t(v) + d·(Σ_{u→v} r(u)·w(u,v)/W(u) + D·t(v))`.
    * Σr stays exactly 1 (mass conservation holds for any teleport
    * distribution). Starts from `t` itself — the standard PPR start,
    * inside the contraction ball of the fixed point.
    */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame,
                           srcCol: String, dstCol: String,
                           seeds: DataFrame,
                           iterations: Int = 5, damping: Double = 0.85,
                           weightCol: Option[String] = None): DataFrame =
    pageRankImpl(edges, nodes, srcCol, dstCol, None, iterations,
      damping, Some(seeds), weightCol)

  /** Warm-start personalized PageRank — [[pageRankResume]]'s
    * incremental form with [[personalizedPageRank]]'s teleport/weight
    * semantics: resume from `prior` (renormalized to mass 1 over the
    * possibly-churned universe) and iterate the seeded update. The
    * trust-prior maintenance loop at 100 TB: re-rank after an edge
    * delta in 1-2 iterations instead of a full recompute, without
    * giving up the seeded teleport.
    */
  def personalizedPageRankResume(edges: DataFrame, nodes: DataFrame,
                                 srcCol: String, dstCol: String,
                                 seeds: DataFrame, prior: DataFrame,
                                 iterations: Int = 2,
                                 damping: Double = 0.85,
                                 weightCol: Option[String] = None)
      : DataFrame =
    pageRankImpl(edges, nodes, srcCol, dstCol, Some(prior), iterations,
      damping, Some(seeds), weightCol)

  /** [[pageRank]] plus per-iteration convergence evidence: returns
    * `(ranks, residuals)` where `residuals` is one row per iteration
    * `(iteration, l1_delta)` with `l1_delta = Σ_v |r_i(v) − r_{i−1}(v)|`
    * — the L1 distance each power step moved. Power iteration
    * contracts the residual at rate ≈ `damping` per step (GraphSpec
    * pins the monotone geometric decay), so a 100 TB user budgets
    * iterations on measured evidence — "run until l1 < ε" becomes a
    * plotted line, not a guess. Each delta is ONE one-row aggregate
    * job over the two already-materialized iteration frames (both
    * sides are iterCut blocks, so the scan is cache-resident) — a
    * bounded scalar per iteration, never a per-node collect.
    */
  def pageRankResiduals(edges: DataFrame, nodes: DataFrame,
                        srcCol: String, dstCol: String,
                        iterations: Int = 5, damping: Double = 0.85,
                        prior: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val ranks = pageRankImpl(edges, nodes, srcCol, dstCol, prior,
      iterations, damping, None, None, Some(buf))
    val spark = edges.sparkSession
    import spark.implicits._
    (ranks, buf.toSeq.toDF("iteration", "l1_delta"))
  }

  private def pageRankImpl(edges: DataFrame, nodes: DataFrame,
                           srcCol: String, dstCol: String,
                           prior: Option[DataFrame],
                           iterations: Int, damping: Double,
                           seeds: Option[DataFrame] = None,
                           weightCol: Option[String] = None,
                           residuals: Option[scala.collection.mutable
                             .Buffer[(Int, Double)]] = None,
                           withDegrees: Boolean = false): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")

    // probed three times before the loop (the two endpoint semi-joins
    // and base); materialize the distinct once — the hits/LPA pattern
    // (iterCut so the AQE-coalesced layout is kept, see `base` below)
    val universe = Materialize.iterCut(
      nodes.select(col(nodes.columns.head).as("node")).distinct())

    val eRaw = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        weightCol.map(w => col(w).cast("double"))
          .getOrElse(lit(1.0)).as("ew"))
      .filter(col("src") =!= col("dst"))
      // restrict BOTH endpoints to the node universe: an edge whose
      // dst lies outside would have its contribution computed then
      // dropped by the universe left-join while still inflating its
      // src's out-degree — rank mass silently leaks and Σrank=1
      // breaks (the normal case for host link graphs, where the edge
      // list covers more hosts than the curated node table)
      .join(universe.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(universe.select(col("node").as("dst")), Seq("dst"), "left_semi")
      // co-locate every iteration's rank⋈edges probe on src FIRST,
      // then dedup/weight-sum grouped by (src, dst): HashPartitioning
      // on src satisfies the (src, dst) clustering requirement, so the
      // collapse rides the SAME exchange instead of paying its own
      // (src, dst) shuffle first — one exchange of the edge relation
      // per call, not two (at 100 TB the saved one is a full shuffle
      // of the edge table).
      // iterCut (localCheckpoint) rather than persist for the same
      // reason as `base` below: the checkpointed RDD keeps the
      // AQE-coalesced hash layout (its outputPartitioning survives in
      // the LogicalRDD, so the per-iteration join still reuses the
      // co-location), where a cached plan would freeze the pre-AQE
      // partition count AND auto-broadcast a tiny cached e every
      // iteration — rebuilding the broadcast per power step is
      // exactly what the one-time co-location was designed to avoid
      .repartition(col("src"))
    val ePart = weightCol match {
      // weighted: parallel edges SUM (each endorsement counts);
      // unweighted: collapse to one (the classic formulation — ew is
      // the constant 1.0, so deduping on the endpoints ≡ distinct())
      case Some(_) => eRaw.groupBy(col("src"), col("dst"))
        .agg(sum(col("ew")).as("ew"))
      case None => eRaw.dropDuplicates(Seq("src", "dst"))
    }
    val e = Materialize.iterCut(ePart)
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(sum(col("ew")).as("out_deg"))
      .filter(col("out_deg") > 0.0)

    // teleport vector t: uniform 1/N, or normalized over the seed set
    // — folded into `base` below so no per-iteration join needs it.
    val tele = seeds.map { s =>
      val sc = s.columns
      val sw = if (sc.length >= 2) col(sc(1)).cast("double") else lit(1.0)
      val inU = s.select(col(sc(0)).as("node"), sw.as("tw"))
        .groupBy(col("node")).agg(sum(col("tw")).as("tw"))
        .join(universe, Seq("node"), "left_semi")
      val tot = inU.agg(sum(col("tw")).as("tot"))
      inU.crossJoin(broadcast(tot))
        .select(col("node"), (col("tw") / col("tot")).as("t"))
    }

    // ONE loop-invariant node frame, materialized once: the node
    // universe with its out-degree (and teleport weight, when
    // personalized) attached. Every iteration's rank frame CARRIES
    // out_deg/t through the lineage cut, so the former per-iteration
    // ranks⋈outDeg join (a full shuffle/broadcast of the rank table
    // per power step at scale) and the per-iteration teleport join
    // disappear — each iteration is now exactly one rank⋈edges join,
    // one contribution aggregate, one base⋈contribs fill-in, and the
    // one-row dangling broadcast (guide §2.4: remove shuffles
    // outright).
    // iterCut (localCheckpoint), NOT cacheManager persist: a cached
    // plan freezes its pre-AQE output partitioning (AQE may not
    // change cached partitioning), so every later probe would rescan
    // the frame at the full configured shuffle-partition count; the
    // checkpointed RDD keeps the AQE-coalesced layout.
    val base = Materialize.iterCut(tele.foldLeft(
      universe.join(outDeg, Seq("node"), "left")) { (u, t) =>
      u.join(t, Seq("node"), "left")
        .withColumn("t", coalesce(col("t"), lit(0.0)))
    })
    // N once, as a driver scalar: replaces the former per-iteration
    // one-row broadcast (same double arithmetic — count cast to
    // double either way).
    val nD = base.count().toDouble
    val nLit = lit(nD)
    tele.foreach { _ =>
      // one bounded aggregate over the materialized base distinguishes
      // the two failure modes: no seed in the universe (every t is the
      // coalesced 0.0) vs degenerate weights (tot <= 0 turns t into
      // NaN/negative through the tw/tot division) — the latter used to
      // fail with the misleading no-seed message
      val chk = base.agg(
        coalesce(sum(when(isnan(col("t")) || col("t") =!= 0.0, 1L)
          .otherwise(0L)), lit(0L)).as("n_seed"),
        coalesce(max(when(!isnan(col("t")), col("t"))), lit(0.0))
          .as("mx")).collect()(0)
      require(chk.getLong(0) > 0,
        "personalizedPageRank: no seed lies in the node universe")
      require(chk.getDouble(1) > 0.0,
        "personalizedPageRank: seed teleport weights sum to " +
          "zero/negative — the teleport vector is undefined")
    }
    // columns the iteration state carries alongside (node, rank)
    val carry = col("out_deg") +: tele.map(_ => col("t")).toSeq

    // uniform path keeps the r14 expression verbatim ((1-d)/n, D/n):
    // rewriting it as (1-d)·t with t=1/n changes the fp rounding by an
    // ulp, enough to flip a 6dp oracle hash on a boundary value.
    // `withCarry=false` on the LAST iteration drops the carried
    // iteration state so the returned frame is the tracked checkpoint
    // itself with the (node, rank) contract — returning a projection
    // instead would leave the final frame only weakly referenced and
    // its blocks invisible to Materialize.releaseAll.
    def update(df: DataFrame, withCarry: Boolean): DataFrame = {
      val c = if (withCarry) carry else Nil
      tele match {
        case Some(_) => df
          .select(col("node") +:
            (lit(1.0 - damping) * col("t") + lit(damping) *
              (coalesce(col("contrib"), lit(0.0)) +
                col("dangling") * col("t"))).as("rank") +: c: _*)
        case None => df
          .select(col("node") +:
            (lit(1.0 - damping) / nLit + lit(damping) *
              (coalesce(col("contrib"), lit(0.0)) +
                col("dangling") / nLit)).as("rank") +: c: _*)
      }
    }

    // The seed rides as a cheap PROJECTION over an already-materialized
    // frame (base, or the prior-join cut below) instead of paying its
    // own eager checkpoint job: iteration 0's two probes (dangling +
    // contribs) re-scan checkpointed blocks plus a projection, cheaper
    // than one more materialization per call — q149x enters here nine
    // times per entry. `seedCut` is the frame backing the projection
    // that may be RELEASED once iteration 0 is cut (None when the seed
    // rides on `base`, which every iteration's fill-in join still
    // probes).
    val (seed, seedCut): (DataFrame, Option[DataFrame]) =
      (prior, tele) match {
        case (None, None) =>
          (base.select(col("node") +:
            (lit(1.0) / nLit).as("rank") +: carry: _*), None)
        case (None, Some(_)) =>
          (base.select(col("node") +: col("t").as("rank") +: carry: _*),
            None)
        case (Some(p), _) =>
          val cols = p.columns
          // the prior join is materialized ONCE: the former lazy form
          // was computed twice per call (once building the broadcast
          // normalizer, once in the seed plan). The mass is the same
          // one-row Spark aggregate, collected to a driver scalar —
          // identical double, no BroadcastExchange/CrossJoin
          val projected = Materialize.iterCut(base
            .join(p.select(col(cols(0)).as("node"),
              col(cols(1)).as("prior_rank")), Seq("node"), "left")
            .select(col("node") +:
              coalesce(col("prior_rank"), lit(1.0) / nLit).as("rank") +:
              carry: _*))
          // the mass normalizer broadcast now builds over the
          // CHECKPOINTED blocks (a cheap sub-job of iteration 0's
          // materialization) instead of re-running the prior join
          val mass = projected.agg(sum(col("rank")).as("mass"))
          (projected.crossJoin(broadcast(mass))
            .select(col("node") +:
              (col("rank") / col("mass")).as("rank") +: carry: _*),
            Some(projected))
      }
    var ranks = seed
    var ranksCut: Option[DataFrame] = seedCut

    var i = 0
    while (i < iterations) graft.BenchProbe.time(s"pr_iter$i") {
      // mass parked on dangling nodes, as a broadcast one-row agg
      // (out_deg rides IN the rank frame — no join needed). Broadcast,
      // NOT a collected scalar: the broadcast builds as a sub-job of
      // the iteration's one materialization, where a collect would be
      // a second blocking job round-trip per power step (measured
      // +0.1 s/iteration at sf0.1 — tried and reverted this round).
      val dangling = ranks.filter(col("out_deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dangling"))
      val contribs = ranks.filter(col("out_deg").isNotNull)
        .select(col("node").as("src"),
          (col("rank") / col("out_deg")).as("w"))
        .join(e, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w") * col("ew")).as("contrib"))
      val next = update(base
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling)),
        withCarry = i < iterations - 1)
      // measurement hook (guide §1): dump the ITERATION body's plan —
      // the final frame's explain only shows checkpoint-truncated
      // lineage, so per-iteration plan claims need this
      if (i <= 1 && sys.env.contains("GRAFT_EXPLAIN_ITER"))
        next.explain("formatted")
      // eager lineage cut, not persist: each iteration's plan embeds
      // the previous one ~4× (contribs, dangling, the node join), so
      // lineage grows 4^k — the ANALYZER chokes long before the
      // executor does (a 7-iteration warm-start plan stringifies to
      // gigabytes). Materialize.iterCut truncates to the materialized
      // blocks (localCheckpoint locally; reliable checkpoint /
      // replicated persist under spark.graft.materialize=resilient,
      // so executor loss mid-run recovers instead of killing the job).
      val cut = Materialize.iterCut(next)
      // one-row L1 diagnostic over the two materialized frames (see
      // pageRankResiduals) — computed BEFORE the previous frame's
      // blocks are released
      residuals.foreach { buf =>
        val d = cut.select(col("node"), col("rank").as("r_new"))
          .join(ranks.select(col("node"), col("rank").as("r_old")),
            Seq("node"))
          .agg(coalesce(sum(abs(col("r_new") - col("r_old"))),
            lit(0.0)).as("l1"))
          .collect()(0).getDouble(0)
        buf += ((i + 1, d))
      }
      // release, not unpersist: iterCut frames persist at the RDD
      // layer, where Dataset.unpersist is a silent no-op
      ranksCut.foreach(Materialize.release)
      ranksCut = Some(cut)
      ranks = cut
      i += 1
    }
    Materialize.release(base)
    if (withDegrees) {
      // the companion degree counts over the SAME deduped,
      // universe-restricted, checkpointed edge frame the rank loop
      // probed — [[degrees]]'s exact row set, minus its rebuild of the
      // edge dedup pipeline (one fewer scan+dedup of the edge relation
      // in q144/q178's final frame). e and universe stay tracked for
      // the returned plan; harnesses drop them via releaseAll.
      val degs = universe
        .join(e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("out_deg")), Seq("node"), "left")
        .join(e.groupBy(col("dst").as("node"))
          .agg(count(lit(1)).as("in_deg")), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      ranks.join(degs, Seq("node"))
    } else {
      Materialize.release(e)
      Materialize.release(universe)
      // the FINAL frame stays persisted for the caller; harnesses drop
      // it post-consume via Materialize.releaseAll (the bench hook)
      ranks
    }
  }

  /** [[pageRank]] plus [[degrees]] in one call, sharing ONE
    * materialization of the deduped universe-restricted edge frame —
    * the authority-report shape (rank next to degree, q144/q178)
    * without degrees' second scan+dedup of the edge relation. Returns
    * `(node, rank, out_deg, in_deg)`; values are exactly
    * `pageRank(...).join(degrees(...), "node")`.
    *
    * The returned plan reads the checkpointed edge frame, the node
    * universe and the final ranks, so all three stay persisted after
    * the call; free them with `Materialize.releaseAll` once the result
    * has been consumed.
    */
  def pageRankWithDegrees(edges: DataFrame, nodes: DataFrame,
                          srcCol: String, dstCol: String,
                          iterations: Int = 5,
                          damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, nodes, srcCol, dstCol, None, iterations, damping,
      withDegrees = true)

  /** HITS hubs-and-authorities (Kleinberg, JACM 1999) — the OTHER
    * authority model next to the PageRank family: PageRank measures
    * global endorsement flow; HITS separates "points at good pages"
    * (hub) from "is pointed at by good hubs" (authority), the pair a
    * crawl frontier uses to rank DIRECTORY pages (high hub — fetch
    * them to discover links) differently from CONTENT pages (high
    * authority — fetch them for the corpus). Synchronous mutual
    * recursion per iteration: `a(v) = Σ_{u→v} h(u)` then L1-normalize,
    * `h(u) = Σ_{u→v} a(v)` then L1-normalize — L1 (not the classic
    * L2) so the oracle replays plain sum ratios; the RANKING is
    * normalization-invariant. Starts from uniform hubs. Edges are
    * deduped, self-loop-free, both endpoints restricted to the node
    * universe (the pageRank lesson: out-of-universe endpoints leak
    * mass). Nodes outside every edge hold hub = authority = 0 after
    * the first normalize. Requires ≥1 surviving edge (an empty graph
    * normalizes 0/0 into NaN — loud, not silently uniform).
    *
    * Scale shape: identical to a PageRank iteration — the edge frame
    * is co-located on src once and each half-step is one broadcast-
    * normalizer aggregate plus one key-partitioned join+sum;
    * [[Materialize.iterCut]] truncates lineage per half-step
    * (resilient mode on clusters, the round-15 contract).
    */
  def hits(edges: DataFrame, nodes: DataFrame,
           srcCol: String, dstCol: String,
           iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    // the universe is probed twice per iteration (authority and hub
    // zero-fill); materialize the distinct once (iterCut, so the
    // AQE-coalesced layout is kept — see pageRankImpl's base note)
    // instead of paying its shuffle 2×iterations times
    val universe = Materialize.iterCut(
      nodes.select(col(nodes.columns.head).as("node")).distinct())
    // iterCut for the same cached-plan-partitioning reason as
    // pageRankImpl's e
    val e = Materialize.iterCut(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(universe.select(col("node").as("src")), Seq("src"),
          "left_semi")
        .join(universe.select(col("node").as("dst")), Seq("dst"),
          "left_semi")
        // co-locate FIRST, dedup after: HashPartitioning(src)
        // satisfies the all-column dedup's clustering requirement, so
        // one exchange of the edge relation replaces the former
        // distinct-then-repartition pair (pageRankImpl's ePart note)
        .repartition(col("src"))
        .dropDuplicates(Seq("src", "dst")))
    // N once as a driver scalar; same double arithmetic as the
    // former one-row broadcast
    val nD = universe.count().toDouble
    var hub = Materialize.iterCut(universe
      .select(col("node"), (lit(1.0) / lit(nD)).as("hub")))
    // the tracked cuts backing the current hub/auth views — released
    // one iteration behind, exactly like the former normalized cuts
    var hubCut: DataFrame = hub
    var auth: DataFrame = null
    var authCut: DataFrame = null
    // per half-step, the RAW (pre-normalization) frame is what gets
    // materialized: the former form checkpointed the NORMALIZED frame,
    // whose plan computed the join+aggregate TWICE per half-step (once
    // building the broadcast normalizer, once in the main plan). The
    // normalized scores now ride as lazy broadcast-normalized
    // projections over the checkpointed raw blocks — identical doubles
    // (same aggregate, same division, 0/0 on an edgeless graph still
    // yields loud NaNs), half the join work per half-step. The
    // normalizer stays a BROADCAST (a cheap sub-job over the raw
    // blocks), not a collected scalar — a collect would add a blocking
    // job round-trip per half-step (the pageRankImpl dangling lesson).
    def l1Normalized(raw: DataFrame, c: String, outCol: String)
        : DataFrame = {
      val s = raw.agg(sum(col(c)).as("s"))
      raw.crossJoin(broadcast(s))
        .select(col("node"), (col(c) / col("s")).as(outCol))
    }
    var i = 0
    while (i < iterations) graft.BenchProbe.time(s"hits_iter$i") {
      val aRaw = Materialize.iterCut(universe.join(
        hub.select(col("node").as("src"), col("hub"))
          .join(e, Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("hub")).as("a0")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("a0"), lit(0.0)).as("a0")))
      val aN = l1Normalized(aRaw, "a0", "authority")
      val hRaw = Materialize.iterCut(universe.join(
        aN.select(col("node").as("dst"), col("authority"))
          .join(e, Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(col("authority")).as("h0")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("h0"), lit(0.0)).as("h0")))
      val hN = l1Normalized(hRaw, "h0", "hub")
      if (authCut != null) Materialize.release(authCut)
      Materialize.release(hubCut)
      auth = aN; authCut = aRaw
      hub = hN; hubCut = hRaw
      i += 1
    }
    Materialize.release(e)
    Materialize.release(universe)
    hub.join(auth, Seq("node"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for
    * community detection — the lightweight complement to
    * [[graft.operators.Dedup.resolveClusters]]: connected components
    * find REACHABILITY clusters, label propagation finds DENSITY
    * clusters (a weakly-connected pair of communities separates).
    * Corpus curation uses it to group near-dup neighborhoods and
    * topic clusters without training anything.
    *
    * Semantics, per synchronous round: every node adopts the most
    * frequent label among its neighbors (edges treated as undirected
    * — the union of both directions, deduped, self-loop-free), ties
    * broken by the SMALLEST label; isolated nodes keep their own.
    * Deterministic by construction — no async sweep, no random order
    * — so two engines agree round for round. Fixed `iterations`
    * rather than convergence detection: each round is ONE
    * neighbor-join shuffle + ONE (node, label) count shuffle, and at
    * scale you budget rounds, not fixpoints (labels stabilize in a
    * handful of rounds on community-structured graphs).
    *
    * `weightCol`: optional edge weights — the vote becomes
    * max-sum-of-weights instead of max-count (parallel/bidirectional
    * duplicates SUM into a stronger tie), ties still break on the
    * smallest label. Unweighted keeps the classic deduped-edge vote.
    */
  def labelPropagation(edges: DataFrame, nodes: DataFrame,
                       srcCol: String, dstCol: String,
                       iterations: Int = 4,
                       weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, "labelPropagation needs >= 1 iteration")
    // probed three times (label init + the two und semi-joins);
    // materialize the distinct once (iterCut — see pageRankImpl's
    // base note on cached-plan partitioning)
    val universe = Materialize.iterCut(
      nodes.select(col(nodes.columns.head).as("node")).distinct())
    val directed = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        weightCol.map(w => col(w).cast("double"))
          .getOrElse(lit(1.0)).as("ew"))
    val undRaw = directed
      .unionByName(directed.select(col("dst").as("src"),
        col("src").as("dst"), col("ew")))
      .filter(col("src") =!= col("dst"))
      // same universe restriction as pageRank: out-of-universe
      // endpoints must not shape neighbor-label counts
      .join(universe.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(universe.select(col("node").as("dst")), Seq("dst"), "left_semi")
    // iterCut for the same cached-plan-partitioning reason as
    // pageRankImpl's e; co-locate FIRST, collapse after — the (src,
    // dst) dedup/weight-sum rides the src exchange (HashPartitioning
    // on src satisfies the (src, dst) clustering), so ONE exchange of
    // the undirected edge relation replaces the former pair
    val undCo = undRaw.repartition(col("src"))
    val und = Materialize.iterCut(weightCol match {
      // weighted: parallel/bidirectional duplicates SUM (a doubly-
      // listed link is a stronger tie); unweighted keeps the classic
      // deduped-edge vote, bit-identical to the r14 plan. NOTE: NaN
      // edge weights are unsupported — min(struct(-cnt, label)) sorts
      // a NaN vote last where the r14 rank window sorted it first;
      // normalize or filter NaNs before calling with a weight column.
      case Some(_) => undCo.groupBy(col("src"), col("dst"))
        .agg(sum(col("ew")).as("ew"))
      case None => undCo.dropDuplicates(Seq("src", "dst"))
    })

    var labels = Materialize.iterCut(
      universe.select(col("node"), col("node").as("label")))
    var i = 0
    while (i < iterations) graft.BenchProbe.time(s"lp_iter$i") {
      val counts = und.withColumnRenamed("src", "node")
        .join(labels, Seq("node"))
        .select(col("dst").as("node"), col("label"), col("ew"))
        .groupBy(col("node"), col("label"))
        .agg(weightCol.map(_ => sum(col("ew")).as("cnt"))
          .getOrElse(count(lit(1)).as("cnt")))
      // the vote (max cnt, ties → smallest label) as a HASH AGGREGATE
      // instead of a rank window: min(struct(-cnt, label)) picks the
      // identical winner, but the aggregate partial-combines map-side
      // and needs no per-node sort (guide §2.3 — aggregate before you
      // shuffle); exact integer/double comparison, no fp change
      val winners = counts
        .groupBy(col("node"))
        .agg(min(struct((-col("cnt")).as("nc"),
          col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("new_label"))
      // lineage cut per round — see pageRankImpl's note
      val next = Materialize.iterCut(labels
        .join(winners, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label")))
      Materialize.release(labels)
      labels = next
      i += 1
    }
    Materialize.release(und)
    Materialize.release(universe)
    labels
  }

  /** In-/out-degree per node over the deduped, self-loop-free edge
    * view `pageRank` ranks on — the companion diagnostic (authority
    * queries usually report rank next to degree).
    */
  def degrees(edges: DataFrame, nodes: DataFrame,
              srcCol: String, dstCol: String): DataFrame = {
    val universe = nodes.select(col(nodes.columns.head).as("node"))
      .distinct()
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .join(universe.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(universe.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .distinct()
    universe
      .join(e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("out_deg")), Seq("node"), "left")
      .join(e.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("in_deg")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
