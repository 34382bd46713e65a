package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.core.Fixpoint

/** Distributed graph analytics over plain edge DataFrames — the
  * companion of [[Dedup.connectedComponents]] (pointer-jumping): link
  * analysis for crawl corpora (domain authority from the URL graph —
  * [[Urls.apexDomain]] provides the nodes) and influence scoring over
  * interaction graphs.
  *
  * Scale shape: one iteration = one src-keyed equi-join (edge shares
  * persisted once, partitioned by src) + one dst-keyed partial
  * aggregation; the dangling-mass term rides each iteration's own plan
  * as a broadcast 1-row frame — no per-iteration driver collect.
  * Per-iteration `localCheckpoint` truncates lineage so 20 iterations
  * stay 20 shuffles, not an exponentially re-derived plan.
  */
object Graphs {

  /** shared input collapse: raw multigraph edges fold to (src, dst, w)
    * by count; pre-collapsed input (e.g. a [[GraphStore.read]]) passes
    * its weight column through a sum-merge — identical totals, so both
    * forms feed the weighted operators interchangeably */
  private def collapseWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: Option[String]): DataFrame = weightCol match {
    case Some(wc) => edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), col(wc).cast("double").as("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    case None => edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).cast("double").as("w"))
  }

  /** The simple undirected graph of `edges`: each unordered pair once
    * as (a, b) with a < b — direction, parallel edges and self-loops
    * dropped. The edge prep of [[kCore]], [[labelPropagation]],
    * [[adamicAdar]] and [[triangles]]. */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Damped PageRank by power iteration: rank = (1−d)/n + d·(Σ
    * incoming rank·w/outW + danglingMass/n), with parallel edges
    * collapsed to weights and dangling nodes (no out-edges)
    * redistributing their rank uniformly — the standard formulation,
    * so ranks sum to exactly 1 every iteration. Returns (id, rank);
    * an empty edge list returns zero rows.
    *
    * Deterministic: no randomness anywhere; the spec gates the result
    * against an independent driver-side dense power iteration.
    *
    * `weightCol`: pre-collapsed multiplicity weights (a [[GraphStore]]
    * read) — sum-merged, so feeding collapsed counts equals feeding the
    * raw multigraph.
    *
    * `init`: optional WARM-START vector (id, rank) — typically the last
    * converged ranks persisted next to a [[GraphStore]] artifact
    * ([[GraphStore.loadRanks]]). The damped iteration is a contraction
    * (error shrinks ×d per step toward the unique fixpoint), so after a
    * small append, a handful of iterations from the previous fixpoint
    * reaches the accuracy a cold start needs ~4× the iterations for.
    * Nodes absent from `init` (the append's new arrivals) start at the
    * uniform 1/n; the vector is renormalized to sum 1 so per-iteration
    * mass conservation holds exactly. The REGISTERED queries stay
    * cold-start (their oracles unroll from uniform); warm-start is the
    * maintenance path, gated by IndexMaintenanceSpec. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 20, damping: Double = 0.85,
      weightCol: Option[String] = None,
      init: Option[DataFrame] = None): DataFrame =
    dampedRank(edges, srcCol, dstCol, weightCol, None, iterations, damping, init) { nodes =>
      val n = nodes.count().toDouble
      if (n == 0) None else Some((nodes, lit(1.0 / n)))
    }

  /** Personalized PageRank (the random walker teleports to the SEED set
    * instead of uniformly — Page et al. 1999 §6; the standard relevance
    * propagation for "expand this curated set" data selection and
    * recommendation): rank = (1−d)·p + d·(Σ incoming share·rank +
    * danglingMass·p), p = uniform over `seeds`, start = p. Mass
    * conserves exactly (ranks sum to 1 every iteration, spec-gated) and
    * on a disconnected graph stays entirely in the seeds' components.
    * An empty seed set is rejected.
    *
    * Plan shape = [[pageRank]] (the same kernel with p as the teleport):
    * per iteration one src-keyed join + one dst-keyed partial agg,
    * dangling mass as an in-plan broadcast 1-row frame, one
    * materialization per iteration ([[Fixpoint.rounds]]) — no other
    * driver action. `init` warm-starts as in [[pageRank]], absent nodes
    * entering at their personalization value.
    * Deterministic → the fixed iteration count unrolls into a FULL
    * DuckDB oracle. Returns (id, rank). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int = 6,
      damping: Double = 0.85, weightCol: Option[String] = None,
      init: Option[DataFrame] = None): DataFrame = {
    val seedIds = seeds.select(col(seedCol).cast("long").as("id")).distinct()
    dampedRank(edges, srcCol, dstCol, weightCol, Some(seedIds), iterations, damping, init) {
      nodes =>
        val nSeeds = seedIds.count().toDouble
        require(nSeeds > 0, "seed set is empty")
        // the personalization vector: 1/|S| on seeds, 0 elsewhere — a
        // node-keyed column, not a broadcast (seeds can be large)
        val p = nodes
          .join(seedIds.withColumn("__p", lit(1.0 / nSeeds)), Seq("id"), "left")
          .select(col("id"), coalesce(col("__p"), lit(0.0)).as("p"))
        Some((p, col("p")))
    }
  }

  /** The damped rank propagation behind [[pageRank]] and
    * [[personalizedPageRank]] — one sparse matrix × vector product plus
    * a teleport term per iteration: rank = (1−d)·t + d·(Σ incoming
    * share·rank + danglingMass·t), t the caller's teleport.
    *
    * The collapsed edges, their per-source out-weights, the node set
    * (edge endpoints plus `extraIds`, id-partitioned) and the
    * share-annotated edges (src-partitioned) persist once and are
    * released on exit. `teleport` gets the persisted node set and answers the frame
    * the iteration runs over (`id` plus whatever columns t reads) and
    * t itself, or None for an empty graph, which returns zero rows.
    * The rank frame carries those columns, a has-out-edges flag `__ho`
    * and `rank`; the start is t, or the warm `init` with absent nodes
    * at t, renormalized to sum 1. */
  private def dampedRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], extraIds: Option[DataFrame], iterations: Int,
      damping: Double, init: Option[DataFrame])(
      teleport: DataFrame => Option[(DataFrame, Column)]): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(damping >= 0 && damping <= 1, s"damping must be in [0,1]: $damping")
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val e = collapseWeighted(edges, srcCol, dstCol, weightCol).persist(MEMORY_AND_DISK)
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("ow")).persist(MEMORY_AND_DISK)
    val ids = e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id")))
    val nodes = extraIds.fold(ids)(ids.unionByName(_))
      .distinct()
      .repartition(par, col("id"))
      .persist(MEMORY_AND_DISK)
    // edges annotated once with the sender's out-weight share
    val ej = e.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("share"))
      .repartition(par, col("src"))
      .persist(MEMORY_AND_DISK)
    try teleport(nodes) match {
      case None => nodes.withColumn("rank", lit(0.0))
      case Some((base, t)) =>
        // the rank frame carries a has-out-edges flag (__ho) so the per-
        // iteration dangling mass is a map-side filter + 1-row aggregate
        // instead of an anti-join that re-exchanges the whole rank vector
        // every step (one exchange fewer per iteration; identical sum —
        // the filtered rows ARE the anti-join's rows)
        val flagged = base.join(outW.select(col("src").as("id"), lit(true).as("__ho")),
          Seq("id"), "left")
        val carried = flagged.columns.toSeq.map(col)
        val start = init match {
          case None => flagged.withColumn("rank", t)
          case Some(warm) =>
            // absent ids (new nodes since the ranks were saved) start at
            // t; renormalize so the vector sums to exactly 1
            val filled = flagged
              .join(warm.select(col("id"), col("rank").as("__w")), Seq("id"), "left")
              .select(carried :+ coalesce(col("__w"), t).as("rank"): _*)
            val tot = filled.agg(sum(col("rank")).as("__t"))
            filled.crossJoin(broadcast(tot))
              .select(carried :+ (col("rank") / col("__t")).as("rank"): _*)
        }
        // mass parked on dangling nodes (no out-edges) spreads by t —
        // computed as a broadcast 1-ROW FRAME riding the iteration's own
        // plan, never a driver-side action (per-iteration collects
        // double the job count)
        def step(r: DataFrame): DataFrame = {
          val dangling = r.filter(col("__ho").isNull)
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dang"))
          // (r17 note: routing both reads of r through one explicit
          // id-keyed repartition was tried and REVERTED — the pinned
          // exchange defeats AQE's byte-coalescing of the rank-vector
          // shuffles, measured +50% tasks at no wall win)
          val contribs = ej.join(
              r.select(col("id").as("src"), col("rank")), "src")
            .groupBy(col("dst").as("id"))
            .agg(sum(col("share") * col("rank")).as("__in"))
          r.select(carried: _*).join(contribs, Seq("id"), "left")
            .crossJoin(broadcast(dangling))
            .select(carried :+ (lit(1.0 - damping) * t +
              lit(damping) * (coalesce(col("__in"), lit(0.0)) +
                col("__dang") * t)).as("rank"): _*)
        }
        Fixpoint.rounds(start, iterations)((r, _) => step(r))
          .select(col("id"), col("rank"))
    } finally {
      ej.unpersist(false); e.unpersist(false)
      outW.unpersist(false); nodes.unpersist(false); ()
    }
  }

  /** k-core decomposition membership (Seidman 1983; the standard
    * "dense enough to matter" graph filter before community/embedding
    * work): iteratively PEEL nodes of degree < k from the symmetrized
    * simple graph until the remainder is stable — what survives is the
    * maximal subgraph where every node keeps >= k neighbors. Returns
    * (id, core_deg) for k-core members, core_deg = degree INSIDE the
    * core (>= k by definition, spec-gated).
    *
    * Plan shape: each peel round is one degree hash-agg + two semi-joins
    * of the edge list against the surviving-node table; the round's
    * edge count is its one action ([[Fixpoint.converge]]; peeling
    * rounds are few on real graphs — bounded by the degeneracy
    * ordering's depth, not |V|). Early stop is SAFE for the unrolled
    * oracle: peeling is monotone, so extra unrolled rounds past the
    * fixpoint are no-ops and both engines agree. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIter: Int = 20): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = edges.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val und0 = undirected(edges, srcCol, dstCol)
    val und = und0.unionByName(und0.select(col("b").as("a"), col("a").as("b")))
      .repartition(par, col("a"))
    // stable edge count == nothing peeled; an edgeless graph runs no round
    val core = Fixpoint.converge(und, maxIter)(e => Some(e.count()).filter(_ > 0L)) { e =>
      val alive = e.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("id"))
      e.join(alive.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    core.groupBy(col("a").as("id")).agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
  }

  /** HITS hubs & authorities (Kleinberg) by power iteration:
    * authority(j) = Σ hub over in-edges, then hub(i) = Σ authority over
    * out-edges — the natural ranking for BIPARTITE interaction graphs
    * (buyers↔suppliers, crawlers↔domains) where PageRank's single score
    * conflates the two roles. Parallel edges collapse to weights.
    *
    * Normalization happens ONCE at the end: power iteration is
    * scale-invariant, so end-L2-normalizing the raw recurrences yields
    * EXACTLY the per-half-step-normalized vectors (auth_i ∝ AᵀHUB_{i−1}
    * whatever the intermediate scaling) while cutting each iteration
    * from four jobs (2 propagation checkpoints + 2 norm aggregates) to
    * ONE — the half-steps stay lazy, one checkpoint per full iteration
    * bounds the lineage. Overflow envelope, ENFORCED: raw values grow
    * ~‖A‖₂ per half-step and the renorm SQUARES them, so the hub
    * vector is renormalized every B iterations with B sized from the
    * spectral bound ‖A‖₂ ≤ √(‖A‖₁·‖A‖∞) (two O(edges) aggs, computed
    * once) such that a block's growth stays under 1e140 — safe for any
    * weights at any iteration count (two small per-block jobs, never
    * per-iteration). On the registered count-weighted graphs B ≥ the
    * default 20 iterations, so the oracle arithmetic is untouched;
    * scale invariance makes the block renorm a no-op on the final
    * vectors regardless. (Sub-unit-weight graphs that DECAY >1e140 per
    * block underflow to the zero vector and return zeros — outside the
    * envelope, norm-guarded rather than NaN.)
    *
    * Per iteration: two src/dst-keyed joins + two partial aggs.
    * Returns (id, hub, authority), each vector L2-normalized. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 20, weightCol: Option[String] = None,
      init: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val spark = edges.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val e = collapseWeighted(edges, srcCol, dstCol, weightCol)
      .repartition(par, col("src"))
      .persist(MEMORY_AND_DISK)
    // the hub half-step joins on dst — a dst-partitioned cached copy
    // saves one full edge re-shuffle PER ITERATION
    val eDst = e.repartition(par, col("dst"))
      .persist(MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
      .repartition(par, col("id"))
      .persist(MEMORY_AND_DISK)
    try {
      if (nodes.isEmpty) return nodes
        .withColumn("hub", lit(0.0)).withColumn("authority", lit(0.0))
      // renorm block size from the spectral bound ‖A‖₂ ≤ √(‖A‖₁·‖A‖∞)
      // (max weighted in-degree × max weighted out-degree): one full
      // iteration multiplies scale by ≤ bound², so B iterations stay
      // under 1e140 (squares under 1e280, n-term square sums safe)
      val normBound = math.max(2.0, math.sqrt {
        // both degree maxima in ONE job: a single explode-keyed agg over
        // the cached edges instead of two separate head() actions
        val r = e.select(explode(array(
            struct(lit(0).as("side"), col("src").as("node"), col("w")),
            struct(lit(1).as("side"), col("dst").as("node"), col("w")))).as("x"))
          .select(col("x.side").as("side"), col("x.node").as("node"),
            col("x.w").as("w"))
          .groupBy(col("side"), col("node")).agg(sum(col("w")).as("s"))
          .groupBy(col("side")).agg(max(col("s")).as("m"))
          .agg(min(col("m")).cast("double"), max(col("m")).cast("double"))
          .head()
        r.getDouble(0) * r.getDouble(1)
      })
      val renormEvery = math.max(1, (140.0 / (2.0 * math.log10(normBound))).toInt)
      // SPARSE iteration vectors (r17, guide §2.3/§2.4): a node with no
      // out-edges has hub EXACTLY 0 from iteration 1 on (and its initial
      // hub=1 feeds no authority — it has no out-edges), and a node with
      // no in-edges has authority exactly 0 — so the per-half-step
      // `nodes` left-join that reinstated those zero rows did nothing
      // but pay two joins per iteration and double the vector size on
      // bipartite graphs. The loop now carries hub over SOURCE nodes
      // only and authority over SINK nodes only (absent row == 0.0 —
      // every propagation sum is unchanged because absent rows
      // contribute 0 via the inner join); the zeros are reinstated ONCE
      // in the output join below. The auth half-step's join needs no
      // exchange at all: the authority agg leaves it partitioned on the
      // node id, which IS eDst's cached dst partitioning.
      val srcNodes = e.select(col("src").as("id")).distinct()
        .repartition(par, col("id"))
      // warm start: a previously converged hub vector (id, rank) — the
      // iteration is scale-invariant, so the warm vector rescales to
      // MEAN 1 (matching the cold all-ones scale) and nodes absent from
      // it (post-append arrivals) enter at 1; power iteration from a
      // near-fixpoint direction needs a fraction of the cold count
      val start = init match {
        case None => srcNodes.withColumn("hub", lit(1.0))
        case Some(warm) =>
          val w = warm.select(col("id"), col("rank").as("__w"))
          val mean = w.agg((sum(col("__w")) / count(lit(1))).as("__m"))
          srcNodes.join(w, Seq("id"), "left")
            .crossJoin(broadcast(mean))
            .select(col("id"),
              when(col("__w").isNotNull && col("__m") > 0,
                col("__w") / col("__m")).otherwise(lit(1.0)).as("hub"))
      }
      def authStep(h: DataFrame): DataFrame =
        e.join(h.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id"))
          .agg(sum(col("w") * col("hub")).as("authority"))
      def hubStep(a: DataFrame): DataFrame =
        eDst.join(a.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id"))
          .agg(sum(col("w") * col("authority")).as("hub"))
      // one materialization per full iteration. Fusing 2 iterations per
      // materialization was re-tried on the sparse shape (r17) and was
      // again a measured LOSS (wall 5.1-5.5 → 7.0-8.0s, jobsum +45% at
      // ~same stage count) — same verdict as the r16 dense-shape sweep:
      // the rank loops' optimum on this engine is one checkpoint per
      // iteration.
      // (r17 experiment, REVERTED: materializing hub via persist+count —
      // hoping InMemoryRelation's preserved hash(id) partitioning would
      // delete the per-iteration hub re-exchange — measured WORSE:
      // 59→63 jobs, 173→248 stages, 3203→5684 tasks; AQE's coalescing of
      // the agg's shuffle leaves the cached partitioning incompatible
      // with e's 32-way layout, so the exchange stays and the cache
      // build is pure overhead. Checkpoint-per-iteration stands.)
      var auth: DataFrame = null
      val hub = Fixpoint.rounds(start, iterations) { (h, it) =>
        // overflow envelope enforced (r13 advice): block renorm of the
        // hub the previous `renormEvery` rounds grew, not per-step, so
        // the one-job-per-iteration win stands
        val hr = if (it == 0 || it % renormEvery != 0) h else {
          // driver-side norm (1 double): same one agg job the broadcast
          // form cost, and a zero block norm — a sub-unit-weight graph
          // that DECAYED through the envelope — becomes diagnosable
          // instead of a silent all-zero result (r14 advice)
          val n = h.agg(sqrt(sum(col("hub") * col("hub")))).head().getDouble(0)
          if (n == 0.0)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"HITS block norm underflowed to 0 at iteration $it " +
                s"(renorm block $renormEvery): weights decay faster than the " +
                "overflow envelope sizes for; hub/authority will return zeros")
          Fixpoint.leaf(
            if (n > 0) h.select(col("id"), (col("hub") / lit(n)).as("hub")) else h)
        }
        auth = authStep(hr)
        hubStep(auth)
      }
      // the last auth is read twice below (its norm + the output join):
      // materialize it once — one extra propagation join total, not per
      // iteration. Norms over the SPARSE vectors equal the dense norms
      // (the absent rows are exact zeros); the zeros themselves are
      // reinstated here, once, by the left joins against `nodes`.
      val authM = auth.localCheckpoint()
      val hn = hub.agg(sqrt(sum(col("hub") * col("hub"))).as("__hn"))
      val an = authM.agg(sqrt(sum(col("authority") * col("authority"))).as("__an"))
      nodes.join(hub, Seq("id"), "left").join(authM, Seq("id"), "left")
        .crossJoin(broadcast(hn)).crossJoin(broadcast(an))
        .select(col("id"),
          when(col("__hn") > 0,
            coalesce(col("hub"), lit(0.0)) / col("__hn"))
            .otherwise(coalesce(col("hub"), lit(0.0))).as("hub"),
          when(col("__an") > 0,
            coalesce(col("authority"), lit(0.0)) / col("__an"))
            .otherwise(coalesce(col("authority"), lit(0.0))).as("authority"))
        .localCheckpoint()
    } finally {
      eDst.unpersist(false); e.unpersist(false); nodes.unpersist(false); ()
    }
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, the LPA baseline every graph library ships): labels start as
    * node ids; each iteration every node adopts the label occurring most
    * among its neighbors, ties to the SMALLEST label — fully
    * deterministic (no random visit order), so a fixed iteration count
    * replays exactly in any engine: the DuckDB oracle unrolls the
    * iterations like [[pageRank]]'s, and the math is all-integer (no
    * float rounding anywhere). Returns (id, label).
    *
    * Scale shape: the undirected adjacency persists once partitioned on
    * the JOIN key (`nb`); one iteration = one equi-join + one
    * (id,label) count agg + one max-struct agg — the majority pick is
    * an aggregate, NOT a per-node window sort. localCheckpoint per
    * iteration keeps lineage linear (same discipline as pageRank). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val spark = edges.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val und = undirected(edges, srcCol, dstCol)
    val adj = und.select(col("a").as("id"), col("b").as("nb"))
      .unionByName(und.select(col("b").as("id"), col("a").as("nb")))
      .repartition(par, col("nb"))
      .persist(MEMORY_AND_DISK)
    try {
      // every node in `adj` has >= 1 neighbor (isolated nodes can't come
      // from an edge list), so the vote inner-join covers all nodes
      // majority label, ties -> smallest: max(struct(count, -label))
      // — ids are non-negative, so -label inverts the tie order
      def step(l: DataFrame): DataFrame = adj
        .join(l.withColumnRenamed("id", "nb"), "nb")
        .groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("label"))
      // the label frame is read ONCE per step, so two iterations chain
      // lazily with no re-execution — one materialization per two
      // iterations halves the job count at identical arithmetic
      Fixpoint.rounds(adj.select(col("id")).distinct().withColumn("label", col("id")),
          (iterations + 1) / 2) { (l, r) =>
        if (2 * r + 2 <= iterations) step(step(l)) else step(l)
      }
    } finally { adj.unpersist(false); () }
  }

  /** Adamic-Adar link prediction (Adamic & Adar 2003 — the classic
    * common-neighbor recommender): for every non-adjacent pair (u, v),
    * score = Σ over common neighbors w of 1/ln(deg(w)), plus the raw
    * common-neighbor count. Pairs enumerate by WEDGE at the middle node
    * (u —w— v with u < v), so each common neighbor contributes exactly
    * one row to the pair's aggregate; existing edges drop by anti-join.
    *
    * Scale shape: the wedge fan-out is Σ deg(w)², which one hub makes
    * quadratic — `maxDegree` caps middle-node degree (the standard
    * hub-cap: a celebrity node's common-neighbor signal is worthless
    * anyway, and its 1/ln(deg) weight is ~0). The cap is part of the
    * operator's contract and the oracle applies it identically. Degree
    * ≥ 2 is structural for any middle (a wedge needs two neighbors), so
    * ln(deg) is never 0. Returns (u, v, common_neighbors, adamic_adar). */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = 10000): DataFrame = {
    require(maxDegree >= 2, "maxDegree must be >= 2")
    val und = undirected(edges, srcCol, dstCol).persist(MEMORY_AND_DISK)
    val adj = und.select(col("a").as("id"), col("b").as("nb"))
      .unionByName(und.select(col("b").as("id"), col("a").as("nb")))
    val deg = adj.groupBy(col("id")).agg(count(lit(1)).as("d"))
    try {
      val mid = adj.join(deg.filter(col("d") <= maxDegree), "id")
      val wedges = mid.as("m1").join(mid.as("m2"),
          col("m1.id") === col("m2.id") && col("m1.nb") < col("m2.nb"))
        .select(col("m1.nb").as("u"), col("m2.nb").as("v"),
          col("m1.d").as("dw"))
      // anti-join BEFORE the aggregation (r17: REVERT of the r16
      // agg-first reorder — VERDICT #2): the reorder was kept on a
      // map-side-combine theory with no local evidence, and a clean-
      // window re-measure shows it strictly worse (Probe steady
      // 5.4-5.7s wall / 6.8-8.6s jobsum vs ~3.8s r15 wall — on the
      // co-purchase bench graph most wedge pairs ARE existing edges,
      // so aggregating first does strictly more aggregation work than
      // dropping them first). All-or-nothing per (u, v) pair, so both
      // orders are result-identical.
      val nonEdges = wedges.join(
        und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      // eager materialization (like triangles): the finally-unpersist
      // below would otherwise yank `und` from under the lazy plan
      nonEdges.groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("common_neighbors"),
          sum(lit(1.0) / log(col("dw"))).as("adamic_adar"))
        .localCheckpoint()
    } finally { und.unpersist(false); () }
  }

  /** Exact per-node triangle counts over the UNDIRECTED graph of
    * `edges` (direction and parallel edges ignored): the clustering
    * signal of a link graph (domains whose neighbors interlink are
    * communities; crawl spam rings show up as abnormal triangle
    * density).
    *
    * DEGREE orientation (the classic compact-forward bound): every
    * undirected edge is directed from its lower-(degree, id) endpoint
    * to the higher, so a triangle {u,v,w} with ranks u<v<w carries
    * edges u→v, u→w, v→w and is enumerated exactly once — by the wedge
    * at its LOWEST-rank corner. Each node's oriented out-degree is
    * O(√m), so the wedge join fans out Σ outdeg² ≤ 2m·√m instead of
    * Σ deg² (which a hub makes quadratic; id-ordering leaves hubs with
    * huge ordered degrees — measured 4x slower on the co-purchase
    * graph). Triangle COUNTS are orientation-invariant, so results
    * (and the id-ordered SQL oracle) are unchanged.
    *
    * Scale shape: dedupe + degree-count shuffles, one wedge join keyed
    * on the low corner, one closing hash join, one corner-count agg —
    * all hash joins on node ids. Returns (id, n_triangles) for nodes
    * in at least one triangle. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol).persist(MEMORY_AND_DISK)
    // persisted: deg feeds TWO joins into e's plan (the a-side and the
    // b-side annotation) — unpersisted, the explode+agg would run twice
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .persist(MEMORY_AND_DISK)
    // orient by (degree, id); carry the head's rank key for the wedge order
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val e = und
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("x"),
        when(lowFirst, col("b")).otherwise(col("a")).as("y"),
        when(lowFirst, col("db")).otherwise(col("da")).as("dy"))
      .persist(MEMORY_AND_DISK)
    try {
      // (r17 note: widening the wedge join's key space with an explicit
      // 4×par repartition on x was tried — the dominant wedge task-set
      // did shrink (5.0→3.9s over 192 tasks), but the self-join cannot
      // share the repartition across its aliases, so it costs TWO extra
      // full exchanges of the data-sized edge table — a local wash and
      // strictly wrong at scale. The wedge join stays at the planner's
      // shuffle sizing; the degree orientation already bounds any
      // corner's fan-out at O(√m).)
      val wedge = e.as("e1").join(e.as("e2"), col("e1.x") === col("e2.x") &&
          (col("e1.dy") < col("e2.dy") ||
            (col("e1.dy") === col("e2.dy") && col("e1.y") < col("e2.y"))))
        .select(col("e1.x").as("u"), col("e1.y").as("v"), col("e2.y").as("w"))
      val tri = wedge.join(
        e.select(col("x").as("__cx"), col("y").as("__cy")),
        col("v") === col("__cx") && col("w") === col("__cy"), "left_semi")
      tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
        .localCheckpoint()
    } finally {
      e.unpersist(false); deg.unpersist(false); und.unpersist(false); ()
    }
  }

  /** Deterministic seeded random walks — the corpus generator for
    * DeepWalk/node2vec-style graph embeddings (Perozzi et al. 2014):
    * one fixed-length walk per start node over the SYMMETRIZED edge
    * set. At each step the walker at node u moves to the neighbor v
    * minimizing the md5-fold uniform of `"<seed>:<walk>:<step>:<v>"` —
    * an exactly-uniform neighbor choice that, unlike Spark's rand(),
    * is layout-independent, identical under task retry, and replayable
    * in any engine with string md5 (the DuckDB oracle unrolls the
    * steps). Walks terminate early at nodes with no neighbors.
    *
    * Plan shape (the `walk` driver): every step is one src-keyed equi-join
    * against the persisted edge list plus a per-walk argmin AGGREGATE,
    * `min(struct(key, dst))` grouped by walk_id — one row per walk
    * survives the map-side partial aggregation. Returns
    * (walk_id, node, step) with step 0 = the start node. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      starts: DataFrame, startCol: String, steps: Int = 4,
      seed: String = "rw42"): DataFrame =
    walk(edges, srcCol, dstCol, starts, startCol, steps, Nil) { (e, cur, t) =>
      val key = Sampling.hashUniform(concat_ws(":",
        lit(seed), col("walk_id"), lit(t), col("dst")))
      // per-walk argmin as an AGGREGATE, not a window (r17, guide
      // §2.3): min(struct(key, dst)) orders exactly like the former
      // row_number() over (ORDER BY key, dst), but the partial
      // aggregation collapses each walk's |frontier|·deg candidate
      // rows to one per walk BEFORE the exchange — the shuffle moves
      // |walks| rows instead of the whole candidate fan-out, and the
      // per-partition sort the window needed is gone.
      cur.join(e, cur("node") === e("src"))
        .select(col("walk_id"), col("dst"))
        .groupBy(col("walk_id"))
        .agg(min(struct(key.as("__k"), col("dst").as("dst"))).as("__m"))
        .select(col("walk_id"), col("__m.dst").as("node"), lit(t).as("step"))
    }

  /** node2vec-biased seeded walks (Grover & Leskovec, KDD 2016) — the
    * (p, q) upgrade of [[randomWalks]]: at node u having arrived from
    * `prev`, each neighbor v is weighted
    *   α(v) = 1/p  if v = prev          (return)
    *        = 1    if edge (prev, v)    (BFS-ish: stays near prev)
    *        = 1/q  otherwise            (DFS-ish: moves outward)
    * and the step samples v with probability ∝ α(v).
    *
    * Determinism & oracle: the weighted choice is an EXPONENTIAL RACE
    * on the md5-fold uniform — v minimizes round(-ln(u_v)/α(v), 6)
    * with u_v = hashUniformOpen("<seed>:<walk>:<step>:<v>") — the
    * Efraimidis-Spirakis key already used by SAMPLE BY, so the choice
    * is layout-independent, retry-stable, and replays 1:1 in SQL (the
    * DuckDB oracle unrolls the steps, one frontier join + one left
    * join against the edge set + one per-walk argmin per step). At
    * step 1 `prev` is NULL, both engines fall through to α = 1/q for
    * every candidate, and the race degenerates to the uniform choice —
    * no special-casing on either side.
    *
    * Plan shape = [[randomWalks]] plus one LEFT join per step against
    * the same src-partitioned persisted edge list to mark
    * distance-1(prev) candidates: per-step cost is |frontier|·deg
    * candidate rows through two keyed joins and a per-walk argmin
    * aggregate (`min(struct(key, dst, u))`). Returns
    * (walk_id, step, node), step 0 = start. */
  def node2vecWalks(edges: DataFrame, srcCol: String, dstCol: String,
      starts: DataFrame, startCol: String, steps: Int = 4,
      p: Double = 4.0, q: Double = 0.25,
      seed: String = "n2v42"): DataFrame = {
    require(p > 0 && q > 0, "p and q must be positive")
    walk(edges, srcCol, dstCol, starts, startCol, steps,
        Seq(lit(null).cast("long").as("prev"))) { (e, cur, t) =>
      val pn = e.select(col("src").as("__ps"), col("dst").as("__pd"),
        lit(true).as("__pn"))
      val cand = cur.join(e, cur("node") === e("src"))
        .select(col("walk_id"), cur("node").as("u"), col("prev"), col("dst"))
      val u = Sampling.hashUniformOpen(concat_ws(":",
        lit(seed), col("walk_id"), lit(t), col("dst")))
      val alpha = when(col("dst") === col("prev"), lit(1.0 / p))
        .when(col("__pn"), lit(1.0))
        .otherwise(lit(1.0 / q))
      // per-walk argmin as an aggregate instead of a window — same
      // (key, dst) order, one surviving row per walk leaves the map
      // side (see [[randomWalks]]); `u` is constant within a walk's
      // candidate group (one frontier row per walk), so carrying it
      // through the struct changes no comparison
      cand.join(pn,
          cand("prev") === col("__ps") && cand("dst") === col("__pd"), "left")
        .withColumn("__key", round(-log(u) / alpha, 6))
        .groupBy(col("walk_id"))
        .agg(min(struct(col("__key").as("__k"), col("dst").as("dst"),
          col("u").as("u"))).as("__m"))
        .select(col("walk_id"), col("__m.dst").as("node"),
          col("__m.u").as("prev"), lit(t).as("step"))
    }.select("walk_id", "step", "node")
  }

  /** The walk driver behind [[randomWalks]] and [[node2vecWalks]]. The
    * deduped symmetric edge list (self-loops kept) is partitioned by src
    * once and persisted; the start frame is (walk_id, node, `carry`…,
    * step 0) per distinct start id. `next(e, frontier, t)` picks step
    * t's node for every live walk from the edge list `e`; each step's
    * frame is a localCheckpoint, so a step is ONE job instead of an
    * O(steps²) re-derived chain. Returns the union of the step frames.
    * Lifecycle note: that union READS the per-step checkpoint blocks,
    * so they live as long as the result frame — caller-owned; dropping
    * the last reference lets the ContextCleaner free them (steps+1
    * block sets, each bounded by walk count — never corpus-sized). */
  private def walk(edges: DataFrame, srcCol: String, dstCol: String,
      starts: DataFrame, startCol: String, steps: Int, carry: Seq[Column])(
      next: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    require(steps >= 1, "need at least one step")
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val dir = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = dir
      .unionByName(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(par, col("src"))
      .persist(MEMORY_AND_DISK)
    try {
      val start = starts
        .select(col(startCol).cast("long").as("walk_id")).distinct()
        .select((col("walk_id") +: col("walk_id").as("node") +: carry) :+
          lit(0).as("step"): _*)
        .localCheckpoint()
      (1 to steps).scanLeft(start)((cur, t) => next(e, cur, t).localCheckpoint())
        .reduce(_ unionByName _)
    } finally {
      e.unpersist(false); ()
    }
  }
}
