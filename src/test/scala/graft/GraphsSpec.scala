package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graphs

class GraphsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  /** independent driver-side dense power iteration with the same
    * semantics (weighted parallel edges, uniform dangling spread) */
  private def densePageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val w = Array.ofDim[Double](n, n)
    edges.foreach { case (s, t) => w(idx(s))(idx(t)) += 1.0 }
    val outW = w.map(_.sum)
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val dang = (0 until n).collect { case i if outW(i) == 0 => r(i) }.sum
      val nr = Array.fill(n)((1 - d) / n + d * dang / n)
      for (i <- 0 until n; j <- 0 until n; if w(i)(j) > 0)
        nr(j) += d * r(i) * w(i)(j) / outW(i)
      r = nr
    }
    nodes.zip(r).toMap
  }

  test("pageRank: cycle is uniform; general graph matches a dense reference; ranks sum to 1") {
    import spark.implicits._
    // a directed 3-cycle is uniform at ANY damping, exactly
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val rc = Graphs.pageRank(cyc, "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rc.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))

    // general graph: parallel edges (weight 2), a dangling node (4),
    // and a hub — must match the independent dense iteration to 1e-9
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L),
      (2L, 4L), (5L, 1L), (5L, 4L))
    val got = Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = 15, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = densePageRank(edges, 15, 0.85)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-9, s"node $k: $v vs ${want(k)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "ranks must sum to 1")
    // the dangling sink fed by three nodes outranks its feeders' tail
    assert(got(4L) > got(5L), s"sink rank ${got(4L)} vs source ${got(5L)}")
  }

  test("triangles: exact per-node counts; direction/parallel edges ignored; triangle-free graphs empty") {
    import spark.implicits._
    // K4: C(4,3)=4 triangles, every node in C(3,2)=3
    val k4 = (for (i <- 1L to 4L; j <- 1L to 4L; if i < j) yield (i, j)).toDF("src", "dst")
    val gk4 = Graphs.triangles(k4, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gk4 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a 4-cycle has none; adding one diagonal makes two triangles
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(Graphs.triangles(sq.toDF("src", "dst"), "src", "dst").count() === 0L)
    val diag = (sq :+ (1L, 3L)).toDF("src", "dst")
    val gd = Graphs.triangles(diag, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gd === Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    // reversed + duplicated edges change nothing
    val noisy = (sq ++ sq.map(_.swap) :+ (3L, 1L) :+ (1L, 3L)).toDF("src", "dst")
    val gn = Graphs.triangles(noisy, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gn === gd)
  }

  test("hits: matches a dense reference; bipartite roles separate cleanly") {
    import spark.implicits._
    // independent dense HITS with the same semantics
    def denseHits(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Double, Double)] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      val n = nodes.length
      val w = Array.ofDim[Double](n, n)
      edges.foreach { case (s, t) => w(idx(s))(idx(t)) += 1.0 }
      var hub = Array.fill(n)(1.0)
      var auth = Array.fill(n)(1.0)
      def norm(a: Array[Double]): Array[Double] = {
        val m = math.sqrt(a.map(x => x * x).sum)
        if (m == 0) a else a.map(_ / m)
      }
      for (_ <- 0 until iters) {
        auth = norm(Array.tabulate(n)(j => (0 until n).map(i => w(i)(j) * hub(i)).sum))
        hub = norm(Array.tabulate(n)(i => (0 until n).map(j => w(i)(j) * auth(j)).sum))
      }
      nodes.map(k => k -> ((hub(idx(k)), auth(idx(k))))).toMap
    }
    val edges = Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L),
      (3L, 11L), (3L, 12L), (10L, 12L))
    val got = Graphs.hits(edges.toDF("src", "dst"), "src", "dst", iterations = 12)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val want = denseHits(edges, 12)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, (h, a)) =>
      assert(math.abs(h - want(k)._1) < 1e-9 && math.abs(a - want(k)._2) < 1e-9,
        s"node $k: ($h,$a) vs ${want(k)}")
    }
    // a pure bipartite buyer->supplier graph: buyers are hubs with zero
    // authority, suppliers the reverse
    val bip = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val gb = Graphs.hits(bip, "src", "dst", iterations = 8)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(gb(1L)._2 === 0.0 && gb(10L)._1 === 0.0)
    assert(gb(1L)._1 > gb(2L)._1, "two-edge buyer out-hubs the one-edge buyer")
    assert(gb(10L)._2 > gb(11L)._2, "two-buyer supplier out-ranks the one-buyer one")
  }

  test("hits: 65 heavy-weighted iterations stay finite (block renorm enforces the overflow envelope)") {
    import spark.implicits._
    // ||A||_2 ~ 3e3 here, so 65 raw iterations reach ~1e450 — past
    // double range, and the L2 renorm's SQUARES overflow past 1e154 —
    // without the spectral-bound-sized block renorm; the final vectors
    // must still be the scale-invariant fixpoint (the 20-iteration run
    // has long converged on this 5-node graph, and B >= 20 keeps its
    // arithmetic renorm-free)
    val we = Seq((1L, 10L, 1000.0), (1L, 11L, 2000.0), (2L, 10L, 1500.0),
      (2L, 12L, 500.0)).toDF("src", "dst", "w")
    def run(iters: Int) = Graphs.hits(we, "src", "dst", iterations = iters,
        weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val deep = run(65)
    deep.values.foreach { case (h, a) =>
      assert(java.lang.Double.isFinite(h) && java.lang.Double.isFinite(a),
        s"overflow leaked through: $deep")
    }
    val converged = run(20)
    deep.foreach { case (k, (h, a)) =>
      assert(math.abs(h - converged(k)._1) < 1e-9 &&
        math.abs(a - converged(k)._2) < 1e-9,
        s"node $k drifted from the fixpoint: ($h,$a) vs ${converged(k)}")
    }
  }

  test("labelPropagation: two planted cliques get two labels; bridge node joins the larger") {
    import spark.implicits._
    // clique {1,2,3} + clique {10,11,12,13} + bridge edge 3-10: the
    // 4-clique's min label (10) wins its side; the triangle keeps 1
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((3L, 10L))).toDF("src", "dst")
    val got = Graphs.labelPropagation(edges, "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L, 13L))
    val big = Set(10L, 11L, 12L, 13L).map(got)
    assert(big.size == 1, s"the 4-clique must agree on one label: $big")
    val small = Set(1L, 2L).map(got)
    assert(small.size == 1, s"the triangle interior must agree: $small")
    assert(big.head != small.head, "the cliques must keep distinct communities")
    // determinism: repartitioned input gives bit-identical labels
    val again = Graphs.labelPropagation(edges.repartition(7), "src", "dst",
        iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("adamicAdar: scores match a hand-computed wedge census; existing edges excluded") {
    import spark.implicits._
    // path 1-2-3 plus 2-4: middle 2 has deg 3, so pairs {1,3},{1,4},{3,4}
    // each score 1/ln(3); pair (1,3) also shares no other neighbor
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val got = Graphs.adamicAdar(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set((1L, 3L), (1L, 4L), (3L, 4L)))
    got.values.foreach { case (cn, aa) =>
      assert(cn == 1L)
      assert(math.abs(aa - 1.0 / math.log(3.0)) < 1e-12)
    }
    // square 1-2-3-4-1: diagonal pairs share TWO degree-2 neighbors
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val g2 = Graphs.adamicAdar(sq, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(g2.keySet == Set((1L, 3L), (2L, 4L)), "adjacent pairs must be excluded")
    g2.values.foreach { case (cn, aa) =>
      assert(cn == 2L)
      assert(math.abs(aa - 2.0 / math.log(2.0)) < 1e-12)
    }
    // hub cap: middles above maxDegree contribute nothing
    val capped = Graphs.adamicAdar(edges, "src", "dst", maxDegree = 2)
    assert(capped.count() == 0L, "deg-3 middle capped out -> no wedges")
  }

  test("pageRank: dangling-only graph (star into a sink) stays a distribution") {
    import spark.implicits._
    val star = (1L to 6L).map(i => (i, 99L)).toDF("src", "dst")
    val got = Graphs.pageRank(star, "src", "dst", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(got(99L) > got(1L) * 3, "the sink must dominate")
    // all leaves symmetric
    (2L to 6L).foreach(i => assert(math.abs(got(i) - got(1L)) < 1e-12))
  }

  test("randomWalks: exact match vs a driver-side md5 replay; edge + determinism laws") {
    import spark.implicits._
    // driver-side replica of Sampling.hashUniform's md5 fold
    def uu(s: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val code = hex.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000003L)
      (code + 1).toDouble / 1000004.0
    }
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (5L, 5L),
      (2L, 4L), (4L, 1L)).toDF("src", "dst")
    val starts = Seq(1L, 5L, 3L).toDF("n")
    val got = Graphs.randomWalks(edges, "src", "dst", starts, "n",
        steps = 3, seed = "t7")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    // replay: symmetrized distinct adjacency, argmin-of-uu neighbor choice
    val sym = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (5L, 5L), (2L, 4L), (4L, 1L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val expect = scala.collection.mutable.Set[(Long, Int, Long)]()
    for (w <- Seq(1L, 3L, 5L)) {
      var cur = w
      expect += ((w, 0, w))
      var t = 1
      var alive = true
      while (t <= 3 && alive) {
        adj.get(cur) match {
          case Some(nbrs) =>
            cur = nbrs.minBy(v => (uu(s"t7:$w:$t:$v"), v))
            expect += ((w, t, cur)); t += 1
          case None => alive = false
        }
      }
    }
    assert(got === expect.toSet, s"missing ${expect.toSet -- got}; spurious ${got -- expect.toSet}")
    // every transition must follow a symmetrized edge
    val byWalk = got.groupBy(_._1)
    byWalk.values.foreach { steps =>
      val ord = steps.toSeq.sortBy(_._2).map(_._3)
      ord.zip(ord.tail).foreach { case (u, v) =>
        assert(sym.contains((u, v)), s"non-edge transition $u -> $v") }
    }
    // determinism across re-execution
    val again = Graphs.randomWalks(edges, "src", "dst", starts, "n",
        steps = 3, seed = "t7")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    assert(again === got)
    // a different seed changes at least one choice on this graph
    val other = Graphs.randomWalks(edges, "src", "dst", starts, "n",
        steps = 3, seed = "t8")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    assert(other !== got, "seed must steer the walk")
  }

  test("personalizedPageRank: matches a dense seed-teleport reference; mass = 1; stays in the seed component") {
    import spark.implicits._
    // independent driver-side dense PPR (teleport AND dangling -> seeds)
    def densePpr(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
        d: Double): Map[Long, Double] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2) ++ seeds).distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      val nn = nodes.length
      val w = Array.ofDim[Double](nn, nn)
      edges.foreach { case (s, t) => w(idx(s))(idx(t)) += 1.0 }
      val outW = w.map(_.sum)
      val p = nodes.map(n => if (seeds(n)) 1.0 / seeds.size else 0.0).toArray
      var r = p.clone()
      for (_ <- 0 until iters) {
        val dang = (0 until nn).collect { case i if outW(i) == 0 => r(i) }.sum
        val nr = Array.tabulate(nn)(j => (1 - d) * p(j) + d * dang * p(j))
        for (i <- 0 until nn; j <- 0 until nn; if w(i)(j) > 0)
          nr(j) += d * r(i) * w(i)(j) / outW(i)
        r = nr
      }
      nodes.zip(r).toMap
    }
    // two components: {1,2,3} cyclic (seeded) and {10,11} (unseeded);
    // node 3 dangles into 4 which dangles entirely
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L), (11L, 10L))
    val got = Graphs.personalizedPageRank(edges.toDF("src", "dst"),
        "src", "dst", Seq(1L).toDF("n"), "n", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ref = densePpr(edges, Set(1L), iters = 8, d = 0.85)
    assert(got.keySet === ref.keySet)
    got.foreach { case (id, r) =>
      assert(math.abs(r - ref(id)) < 1e-12, s"node $id: $r vs ${ref(id)}") }
    assert(math.abs(got.values.sum - 1.0) < 1e-12, s"mass ${got.values.sum}")
    // nothing leaks into the unseeded, unreachable component
    assert(got(10L) === 0.0 && got(11L) === 0.0, s"leaked: ${got(10L)}, ${got(11L)}")
  }

  test("rank kernel edges: empty graph, empty seed set, every node seeded") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graphs.pageRank(none, "src", "dst").collect().isEmpty)
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L),
      (2L, 4L), (5L, 1L), (5L, 4L)).toDF("src", "dst")
    val err = intercept[IllegalArgumentException] {
      Graphs.personalizedPageRank(edges, "src", "dst",
        Seq.empty[Long].toDF("n"), "n").collect()
    }
    assert(err.getMessage.contains("seed set is empty"))
    // a uniform teleport over every node IS PageRank
    val pr = Graphs.pageRank(edges, "src", "dst", iterations = 15)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ppr = Graphs.personalizedPageRank(edges, "src", "dst",
        (1L to 5L).toDF("n"), "n", iterations = 15)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr.keySet === pr.keySet)
    pr.foreach { case (id, r) =>
      assert(math.abs(r - ppr(id)) < 1e-12, s"node $id: $r vs ${ppr(id)}") }
  }

  test("kCore: clique core survives peeling, tails peel away, core degrees >= k") {
    import spark.implicits._
    // K6 clique (ids 1-6) + a path tail 6-7-8-9 + an isolated edge
    val clique = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val edges = (clique ++ Seq((6L, 7L), (7L, 8L), (8L, 9L), (20L, 21L)))
      .toDF("src", "dst")
    val core3 = Graphs.kCore(edges, "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3.keySet === (1L to 6L).toSet, s"3-core: ${core3.keySet}")
    // inside the surviving clique every node keeps its 5 clique edges
    assert(core3.values.forall(_ === 5L), core3.toString)
    val core5 = Graphs.kCore(edges, "src", "dst", k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(core5 === (1L to 6L).toSet, s"5-core: $core5")
    val core6 = Graphs.kCore(edges, "src", "dst", k = 6)
    assert(core6.isEmpty, "K6 has no 6-core")
    // general law on the sf fixture: every member's core degree >= k
    val someCore = Graphs.kCore(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst"),
      "src", "dst", k = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(someCore.map(_._1).toSet === Set(1L, 2L, 3L))
    assert(someCore.forall(_._2 >= 2L))
  }

  test("node2vecWalks: exact match vs a driver-side replay of the (p,q) exponential race") {
    import spark.implicits._
    def uuOpen(s: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val code = hex.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000003L)
      (code + 0.5) / 1000004.0
    }
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (p, q, seed) = (4.0, 0.25, "nv1")
    val raw = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L), (4L, 5L))
    val edges = raw.toDF("src", "dst")
    val starts = Seq(1L, 4L).toDF("n")
    val got = Graphs.node2vecWalks(edges, "src", "dst", starts, "n",
        steps = 3, p = p, q = q, seed = seed)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val sym = raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val edgeSet = sym.toSet
    val expect = scala.collection.mutable.Set[(Long, Int, Long)]()
    for (w <- Seq(1L, 4L)) {
      var cur = w
      var prev = -1L // sentinel: step 1 has no prev
      expect += ((w, 0, w))
      for (t <- 1 to 3) {
        val nbrs = adj(cur)
        val pick = nbrs.minBy { v =>
          val alpha =
            if (t > 1 && v == prev) 1.0 / p
            else if (t > 1 && edgeSet.contains((prev, v))) 1.0
            else 1.0 / q
          (r6(-math.log(uuOpen(s"$seed:$w:$t:$v")) / alpha), v)
        }
        prev = cur; cur = pick
        expect += ((w, t, cur))
      }
    }
    assert(got === expect.toSet,
      s"missing ${expect.toSet -- got}; spurious ${got -- expect.toSet}")
  }

  test("node2vecWalks: empirical step-2 transition frequencies follow the (p,q) bias law") {
    import spark.implicits._
    // N disjoint copies of the motif s-u, u-b, u-c, s-b: from u with
    // prev = s the candidates classify as return (s, alpha = 1/p),
    // distance-1 (b, alpha = 1 via the s-b edge), distance-2 (c,
    // alpha = 1/q). Conditioning on walks whose step 1 went s -> u is
    // valid: step-1 and step-2 hashes are independent.
    val n = 6000
    val motif = (0 until n).flatMap { k =>
      val s = 10L * k; val u = s + 1; val b = s + 2; val c = s + 3
      Seq((s, u), (u, b), (u, c), (s, b))
    }
    val edges = motif.toDF("src", "dst")
    val starts = (0 until n).map(k => 10L * k).toDF("n")
    def freqs(p: Double, q: Double): (Double, Double, Double) = {
      val rows = Graphs.node2vecWalks(edges, "src", "dst", starts, "n",
          steps = 2, p = p, q = q, seed = "law")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val byWalk = rows.groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3)).toMap
      val conditioned = byWalk.values.filter(w => w(1) == w(0) + 1).toSeq
      val m = conditioned.size.toDouble
      assert(m > n * 0.4, s"step-1 conditioning lost too many walks: $m")
      def f(off: Long) = conditioned.count(w => w(2) == w(0) + off) / m
      (f(0L), f(2L), f(3L)) // return to s, distance-1 b, distance-2 c
    }
    val (fRet, fB, fC) = freqs(p = 4.0, q = 0.25)
    // alphas {0.25, 1, 4} -> probabilities {0.0476, 0.1905, 0.7619}
    assert(math.abs(fRet - 0.0476) < 0.035, s"return freq $fRet")
    assert(math.abs(fB - 0.1905) < 0.035, s"distance-1 freq $fB")
    assert(math.abs(fC - 0.7619) < 0.035, s"distance-2 freq $fC")
    // p = q = 1 degenerates to the uniform DeepWalk choice
    val (uRet, uB, uC) = freqs(p = 1.0, q = 1.0)
    Seq(uRet, uB, uC).foreach(f =>
      assert(math.abs(f - 1.0 / 3) < 0.04, s"uniform law violated: $f"))
  }
}
