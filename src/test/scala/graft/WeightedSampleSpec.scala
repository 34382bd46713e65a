package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sampling

/** Deterministic weighted per-group sampling: reservoir-equivalent
  * distribution from hash-derived uniforms. */
class WeightedSampleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  test("per-group sizes, determinism across partitionings, zero-weight exclusion") {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      (i.toLong, s"g${i % 3}", if (i % 10 == 0) 0.0 else 1.0 + (i % 7))
    }.toDF("id", "g", "w")
    val a = Sampling.weightedHashSamplePerGroup(df, col("g"), col("id"), col("w"), 20)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedHashSamplePerGroup(df.repartition(13), col("g"), col("id"), col("w"), 20)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must not depend on physical layout")
    val perGroup = Sampling.weightedHashSamplePerGroup(df, col("g"), col("id"), col("w"), 20)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup.values.forall(_ == 20), perGroup.toString)
    assert(a.forall(_ % 10 != 0), "zero-weight rows must never sample")
    // small group: sample is the whole group
    val tiny = Seq((1L, "x", 5.0), (2L, "x", 1.0)).toDF("id", "g", "w")
    assert(Sampling.weightedHashSamplePerGroup(tiny, col("g"), col("id"), col("w"), 20)
      .count() == 2)
  }

  test("heavier rows are sampled proportionally more often") {
    import spark.implicits._
    // 1000 rows, weight 9 for ids < 100, weight 1 otherwise; sample 200.
    // Expected heavy share under weighted sampling >> 10% population share.
    val df = (1 to 1000).map(i => (i.toLong, "g", if (i <= 100) 9.0 else 1.0))
      .toDF("id", "g", "w")
    val got = Sampling.weightedHashSamplePerGroup(df, col("g"), col("id"), col("w"), 200)
      .collect().map(_.getLong(0))
    val heavyShare = got.count(_ <= 100).toDouble / got.length
    assert(heavyShare > 0.25, f"heavy rows underrepresented: $heavyShare%.3f")
  }

  test("interleaveDomains: dense slots, per-domain round ranks, even prefixes") {
    import spark.implicits._
    // 3 domains with sizes 5 / 3 / 2
    val df = ((1 to 5).map(i => (i.toLong, "a")) ++
      (6 to 8).map(i => (i.toLong, "b")) ++
      (9 to 10).map(i => (i.toLong, "c"))).toDF("id", "dom")
    val out = Sampling.interleaveDomains(df, col("dom"), col("id"), seed = 7L)
      .select(col("id"), col("domain"), col("slot"), col("round")).collect()
    assert(out.length === 10, "every row appears exactly once")
    // slots are the dense 0..k-1 index in domain-name order
    val slotOf = out.map(r => r.getString(1) -> r.getInt(2)).toMap
    assert(slotOf === Map("a" -> 0, "b" -> 1, "c" -> 2))
    // rounds within a domain are exactly 0..n_d-1 (a permutation rank)
    val byDom = out.groupBy(_.getString(1))
    assert(byDom("a").map(_.getLong(3)).sorted.toSeq === (0L until 5L))
    assert(byDom("b").map(_.getLong(3)).sorted.toSeq === (0L until 3L))
    assert(byDom("c").map(_.getLong(3)).sorted.toSeq === (0L until 2L))
    // while every domain still has rows, each round holds one row per
    // domain — the round-robin guarantee
    val round0 = out.filter(_.getLong(3) === 0L).map(_.getString(1)).sorted
    val round1 = out.filter(_.getLong(3) === 1L).map(_.getString(1)).sorted
    assert(round0.toSeq === Seq("a", "b", "c"))
    assert(round1.toSeq === Seq("a", "b", "c"))
    // determinism: same seed -> same coordinates; different seed -> a
    // different within-domain order (with 5! x 3! x 2! arrangements the
    // collision odds are negligible)
    val again = Sampling.interleaveDomains(df, col("dom"), col("id"), seed = 7L)
      .select(col("id"), col("round")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(3)).toMap === again)
    val other = Sampling.interleaveDomains(df, col("dom"), col("id"), seed = 8L)
      .select(col("id"), col("round")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(other !== again, "a different seed must reshuffle the order")
  }

  test("prototypeSample picks nearest-to-centroid per cluster; farthest flips") {
    import spark.implicits._
    // two orthogonal centroids; vectors at known angles to each
    val cents = Seq((0, Seq(1.0f, 0.0f)), (1, Seq(0.0f, 1.0f)))
      .toDF("cluster_id", "centroid")
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // cluster 0 (nearer x-axis): ids 1..4 at 5/10/20/40 deg
    // cluster 1 (nearer y-axis): ids 5..7 at 85/70/50 deg
    val emb = Seq(
      (1L, at(5)), (2L, at(10)), (3L, at(20)), (4L, at(40)),
      (5L, at(85)), (6L, at(70)), (7L, at(50))
    ).toDF("vec_id", "embedding")
    val near = Sampling.prototypeSample(emb, "vec_id", "embedding", cents, 2)
      .collect().map(r => (r.getInt(1), r.getLong(0))).sorted.toSeq
    assert(near === Seq((0, 1L), (0, 2L), (1, 5L), (1, 6L)))
    val far = Sampling.prototypeSample(emb, "vec_id", "embedding", cents, 2,
        farthest = true)
      .collect().map(r => (r.getInt(1), r.getLong(0))).sorted.toSeq
    assert(far === Seq((0, 3L), (0, 4L), (1, 6L), (1, 7L)))
    // perCluster beyond a cluster's population returns the whole cluster
    val allOf = Sampling.prototypeSample(emb, "vec_id", "embedding", cents, 10)
    assert(allOf.count() === 7)
    // determinism across runs
    val again = Sampling.prototypeSample(emb, "vec_id", "embedding", cents, 2)
      .collect().map(r => (r.getInt(1), r.getLong(0))).sorted.toSeq
    assert(again === near)
  }

  test("unimaxAllocation: water-filling laws + exact match vs a driver-side waterfill") {
    import spark.implicits._
    // independent driver-side water-filling reference
    def waterfill(caps: Map[String, Double], budget: Double): Map[String, Double] = {
      val sorted = caps.toSeq.sortBy { case (d, c) => (c, d) }
      var remBudget = budget
      var remCount = sorted.size
      val out = scala.collection.mutable.Map[String, Double]()
      var tau = Double.PositiveInfinity
      sorted.foreach { case (d, c) =>
        if (c * remCount <= remBudget) { // capped
          out(d) = c; remBudget -= c; remCount -= 1
        } else if (tau.isPosInfinity) tau = remBudget / remCount
      }
      sorted.foreach { case (d, c) => if (!out.contains(d)) out(d) = math.min(c, tau) }
      out.toMap
    }
    def run(rows: Seq[(String, Long)], budget: Double, epochs: Double) =
      Sampling.unimaxAllocation(rows.toDF("d", "t"), col("d"), col("t"),
          budget, epochs)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
    // three random-ish instances, budget below / at / above the cap sum
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { trial =>
      val domains = (0 until 6).map(i => s"d$i" -> (100L + rnd.nextInt(5000)))
      val capSum = domains.map(_._2 * 2.0).sum
      val budget = Seq(capSum * 0.5, capSum, capSum * 1.5)(trial)
      val got = run(domains.flatMap { case (d, t) =>
        Seq((d, t / 2), (d, t - t / 2)) // split rows: the agg must sum them
      }, budget, 2.0)
      val ref = waterfill(domains.map { case (d, t) => d -> t * 2.0 }.toMap, budget)
      got.foreach { case (d, nTok, cap, alloc, ep) =>
        assert(math.abs(alloc - ref(d)) < 1e-4, s"trial $trial $d: $alloc vs ${ref(d)}")
        assert(alloc <= cap + 1e-6, s"$d over its cap")
        assert(math.abs(ep - alloc / nTok) < 1e-4)
      }
      // budget conservation: Σ alloc = min(budget, Σ cap)
      val total = got.map(_._4).sum
      assert(math.abs(total - math.min(budget, capSum)) < 1e-3,
        s"trial $trial: allocated $total of ${math.min(budget, capSum)}")
      // uncapped domains all sit exactly on the waterline
      val uncapped = got.filter { case (_, _, cap, alloc, _) => alloc < cap - 1e-6 }
      if (uncapped.size > 1)
        assert(uncapped.map(_._4).distinct.size === 1,
          s"waterline not flat: ${uncapped.map(_._4)}")
    }
  }
}
