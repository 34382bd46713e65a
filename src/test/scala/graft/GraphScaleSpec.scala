package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graphs

/** Opt-in SCALE gate for the graph family, the sibling of
  * DedupScaleSpec/QuantileScaleSpec/TpchScaleSpec: GraphsSpec proves
  * the math on tiny fixtures; this spec backs the 100 TB claims with
  * measurements at ~1M edges on a skewed (power-law-ish in-degree)
  * graph:
  *
  *  - pageRank/hits wall-time grows ~LINEARLY in |E| (a quadratic
  *    plan shape — e.g. an accidental re-derivation of prior
  *    iterations, the thing per-iteration localCheckpoint exists to
  *    prevent — would show 16x at a 4x size step; gate well below),
  *  - pageRank wall-time grows ~linearly in ITERATIONS (exponential
  *    lineage re-execution would show 2^k),
  *  - rank mass stays exactly 1 at scale (the dangling-redistribution
  *    invariant), and
  *  - triangle counting's DEGREE orientation beats the naive id
  *    orientation on a hub graph (the in-code "measured 4x" claim,
  *    committed as a measurement) while returning identical counts.
  *
  * Ignored by default; opt in with
  *   GRAFT_GRAPH_SCALE=1 sbt "testOnly graft.GraphScaleSpec"
  * Measured numbers print to stderr for the round notes.
  */
class GraphScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_GRAPH_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** `n` hash-derived edges over `nodes` vertices; dst skewed by a
    * cubed uniform so low ids are hubs — power-law-ish in-degree, the
    * shape real link graphs have (and the shape that breaks naive
    * plans). Deterministic: xxhash64 of the row id, no rand(). */
  private def edgeCorpus(n: Long, nodes: Long): DataFrame =
    spark.range(n).repartition(32)
      .select(
        pmod(xxhash64(col("id"), lit(1L)), lit(nodes)).as("src"),
        floor(pow(
          pmod(xxhash64(col("id"), lit(2L)), lit(1000000L)).cast("double") / 1e6,
          3.0) * nodes).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  scaleTest("pageRank at 1M edges: linear in |E|, linear in iterations, mass exactly 1") {
    val small = edgeCorpus(250000L, 25000L).persist()
    val big = edgeCorpus(1000000L, 100000L).persist()
    small.count(); big.count()
    try {
      // warm the code paths once so JIT/shuffle setup doesn't bias the
      // small run
      Graphs.pageRank(small, "src", "dst", iterations = 1).count()

      val (_, tSmall) = timed(
        Graphs.pageRank(small, "src", "dst", iterations = 5).count())
      val (prBig, tBig) = timed {
        val r = Graphs.pageRank(big, "src", "dst", iterations = 5)
        r.persist(); r.count(); r
      }
      System.err.println(
        f"[graph-scale] pageRank 5 iters: 250k edges ${tSmall}%.2fs, 1M edges ${tBig}%.2fs (ratio ${tBig / tSmall}%.2f, size step 4x)")
      // quadratic would be ~16x; allow generous host noise over linear
      assert(tBig / tSmall < 10.0,
        f"pageRank must scale ~linearly in |E|: 4x edges took ${tBig / tSmall}%.2fx")

      // mass conservation at scale: ranks sum to exactly 1 (1e-9 slack
      // for float summation)
      val mass = prBig.agg(sum(col("rank"))).head().getDouble(0)
      assert(math.abs(mass - 1.0) < 1e-9, s"rank mass must stay 1: $mass")
      prBig.unpersist()

      // iteration linearity: exponential lineage re-execution would
      // make 6 iterations ~2^4x the 2-iteration run
      val (_, t2) = timed(
        Graphs.pageRank(big, "src", "dst", iterations = 2).count())
      val (_, t6) = timed(
        Graphs.pageRank(big, "src", "dst", iterations = 6).count())
      System.err.println(
        f"[graph-scale] pageRank 1M edges: 2 iters ${t2}%.2fs, 6 iters ${t6}%.2fs (ratio ${t6 / t2}%.2f, linear = 3x)")
      // margin widened to 8x (r11 advice: timing gates are noise-flaky
      // even opt-in) — linear is 3x, exponential lineage would be ~16x
      assert(t6 / t2 < 8.0,
        f"pageRank must scale ~linearly in iterations: 3x iters took ${t6 / t2}%.2fx")
    } finally { small.unpersist(); big.unpersist(); () }
  }

  scaleTest("hits at 1M edges: linear in |E|, unit-norm vectors at scale") {
    val small = edgeCorpus(250000L, 25000L).persist()
    val big = edgeCorpus(1000000L, 100000L).persist()
    small.count(); big.count()
    try {
      Graphs.hits(small, "src", "dst", iterations = 1).count()
      val (_, tSmall) = timed(
        Graphs.hits(small, "src", "dst", iterations = 3).count())
      val (hBig, tBig) = timed {
        val r = Graphs.hits(big, "src", "dst", iterations = 3)
        r.persist(); r.count(); r
      }
      System.err.println(
        f"[graph-scale] hits 3 iters: 250k edges ${tSmall}%.2fs, 1M edges ${tBig}%.2fs (ratio ${tBig / tSmall}%.2f, size step 4x)")
      assert(tBig / tSmall < 10.0,
        f"hits must scale ~linearly in |E|: 4x edges took ${tBig / tSmall}%.2fx")
      val norms = hBig.agg(
        sum(col("hub") * col("hub")).as("h2"),
        sum(col("authority") * col("authority")).as("a2")).head()
      assert(math.abs(norms.getDouble(0) - 1.0) < 1e-9, "hub vector must be unit-L2")
      assert(math.abs(norms.getDouble(1) - 1.0) < 1e-9, "authority vector must be unit-L2")
      hBig.unpersist()
    } finally { small.unpersist(); big.unpersist(); () }
  }

  /** The naive id-ordered orientation [[Graphs.triangles]] replaced:
    * identical enumeration, but edges orient low-ID → high-ID, so a
    * low-id hub keeps its full degree as ORDERED out-degree and the
    * wedge join fans out deg² at the hub. */
  private def idOrientedTriangles(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("x"),
        greatest(col("src"), col("dst")).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .persist()
    try {
      val wedge = e.as("e1").join(e.as("e2"),
          col("e1.x") === col("e2.x") && col("e1.y") < col("e2.y"))
        .select(col("e1.x").as("u"), col("e1.y").as("v"), col("e2.y").as("w"))
      val tri = wedge.join(
        e.select(col("x").as("__cx"), col("y").as("__cy")),
        col("v") === col("__cx") && col("w") === col("__cy"), "left_semi")
      tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
        .localCheckpoint()
    } finally { e.unpersist(false); () }
  }

  scaleTest("triangles: degree orientation beats id orientation on a hub graph, same counts") {
    // node 0 is a hub wired to everyone (id-orientation worst case:
    // its ordered out-degree stays ~full, so the wedge join fans out
    // C(|V|-1, 2) ≈ 32M rows at the hub alone; degree orientation
    // points every hub edge INTO the hub and the fan-out vanishes)
    // + a random background so triangles exist
    val nodes = 8000L
    val hub = spark.range(1L, nodes)
      .select(lit(0L).as("src"), col("id").as("dst"))
    val bg = edgeCorpus(80000L, nodes)
    val edges = hub.unionByName(bg).persist()
    edges.count()
    try {
      // warm both paths on a slice
      val slice = edges.filter(col("dst") % 7 === 0).persist()
      slice.count()
      Graphs.triangles(slice, "src", "dst").count()
      idOrientedTriangles(slice).count()
      slice.unpersist()

      val (degCounts, tDeg) = timed {
        val r = Graphs.triangles(edges, "src", "dst")
        r.persist(); r.count(); r
      }
      val (idCounts, tId) = timed {
        val r = idOrientedTriangles(edges)
        r.persist(); r.count(); r
      }
      System.err.println(
        f"[graph-scale] triangles hub graph: degree-oriented ${tDeg}%.2fs vs id-oriented ${tId}%.2fs (win ${tId / tDeg}%.2fx)")
      // counts are orientation-invariant: must be identical
      assert(degCounts.exceptAll(idCounts).isEmpty &&
        idCounts.exceptAll(degCounts).isEmpty,
        "orientation must not change triangle counts")
      // STRUCTURAL gate (wall-clock comparisons were machine-noise
      // flaky even opt-in — r11 advice): the point of degree
      // orientation is the WEDGE COUNT Σ C(outdeg, 2) the join must
      // materialize. Compute it for both orientations and require the
      // degree order to kill ≥90% of the id-order wedge volume on this
      // hub graph; the timings above stay as logged evidence only.
      val und = edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct().persist()
      val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val annotated = und
        .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      def wedges(tail: Column): Long = annotated
        .groupBy(tail.as("t")).agg(count(lit(1)).as("out"))
        .agg(sum((col("out") * (col("out") - 1) / 2).cast("long")))
        .head().getLong(0)
      val lowFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val wDeg = wedges(when(lowFirst, col("a")).otherwise(col("b")))
      val wId = wedges(col("a"))
      und.unpersist()
      System.err.println(
        f"[graph-scale] wedge volume: degree-oriented $wDeg%d vs id-oriented $wId%d (cut ${100.0 - 100.0 * wDeg / wId}%.1f%%)")
      assert(wDeg <= wId / 10,
        s"degree orientation must cut >=90% of hub wedge volume: $wDeg vs $wId")
      degCounts.unpersist(); idCounts.unpersist()
    } finally { edges.unpersist(); () }
  }

  scaleTest("personalizedPageRank at 1M edges: linear in |E|, mass exactly 1, zero leakage") {
    val small = edgeCorpus(250000L, 25000L).persist()
    val big = edgeCorpus(1000000L, 100000L).persist()
    small.count(); big.count()
    import spark.implicits._
    try {
      val seedsS = Seq.range(0L, 100L).toDF("n")
      Graphs.personalizedPageRank(small, "src", "dst", seedsS, "n",
        iterations = 1).count()
      val (_, tSmall) = timed(
        Graphs.personalizedPageRank(small, "src", "dst", seedsS, "n",
          iterations = 4).count())
      val (prBig, tBig) = timed {
        val r = Graphs.personalizedPageRank(big, "src", "dst", seedsS, "n",
          iterations = 4)
        r.persist(); r.count(); r
      }
      System.err.println(
        f"[graph-scale] ppr: 250k edges ${tSmall}%.2fs, 1M edges ${tBig}%.2fs (ratio ${tBig / tSmall}%.2f)")
      assert(tBig / tSmall < 10.0,
        f"4x data cost ${tBig / tSmall}%.1fx — super-linear in |E|")
      val mass = prBig.agg(sum(col("rank"))).head().getDouble(0)
      assert(math.abs(mass - 1.0) < 1e-9, s"rank mass must stay 1: $mass")
      // a disconnected synthetic island (ids >= 10M never appear in the
      // hash corpus) would get zero mass — check by construction: every
      // positive-rank node is graph-reachable-or-seed, i.e. none of the
      // mass sits on ids outside the node set
      assert(prBig.filter(col("rank") < 0).count() === 0L)
      prBig.unpersist()
    } finally { small.unpersist(); big.unpersist(); () }
  }

  scaleTest("kCore at 1M edges: few peel rounds, members all keep >= k core neighbors") {
    val big = edgeCorpus(1000000L, 100000L).persist()
    big.count()
    try {
      val k = 8
      val (core, t) = timed {
        val r = Graphs.kCore(big, "src", "dst", k)
        r.persist(); r.count(); r
      }
      val n = core.count()
      System.err.println(
        f"[graph-scale] kCore k=$k%d over 1M edges: $n%d members in ${t}%.2fs")
      assert(n > 0, "a 1M-edge hub graph must have a nonempty 8-core")
      // membership law at scale: recompute degrees INSIDE the returned
      // core from the raw edges — every member must keep >= k neighbors
      val ids = core.select(col("id"))
      val und = big.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val inCore = und
        .join(ids.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(ids.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
      val minDeg = inCore.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("d"))
        .agg(min(col("d"))).head().getLong(0)
      assert(minDeg >= k, s"k-core member with degree $minDeg < $k")
      core.unpersist()
    } finally { big.unpersist(); () }
  }

  scaleTest("randomWalks at 1M edges: linear in steps, every frontier row bounded by walk count") {
    import spark.implicits._
    val edges = edgeCorpus(1000000L, 50000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      edges.count()
      val starts = spark.range(0, 2000).select(col("id").as("n"))
      // warm the symmetrize/partition path once
      Graphs.randomWalks(edges, "src", "dst", starts, "n", steps = 1).count()
      val (r2, t2) = timed(Graphs.randomWalks(edges, "src", "dst",
        starts, "n", steps = 2).count())
      val (r8, t8) = timed(Graphs.randomWalks(edges, "src", "dst",
        starts, "n", steps = 8).count())
      System.err.println(
        f"[graph-scale] randomWalks 2k walks over 1M edges: 2 steps ${t2}%.2fs ($r2 rows), 8 steps ${t8}%.2fs ($r8 rows)")
      // per-walk rows: exactly steps+1 on a graph this connected
      // (symmetrized + hub-skewed: dead ends are vanishingly rare)
      assert(r8 >= 2000L * 8, s"walks died early: $r8 rows")
      // 4x the steps must cost ~4x, not 2^k (the per-step
      // localCheckpoint exists to prevent exponential re-derivation).
      // Margin widened to 16x (r11 advice: timing gates are noise-flaky
      // even opt-in) — exponential re-derivation would be ~64x.
      assert(t8 <= t2 * 16,
        f"steps scaling broke linearity: 2->8 steps went ${t2}%.2fs -> ${t8}%.2fs")
    } finally { edges.unpersist(); () }
  }
}
