package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Integrity, InfoTheory, Profiling}

/** Laws for the operational audit operators (key skew, FK integrity,
  * source divergence) on hand-built frames where the right answer is
  * computable by inspection. */
class AuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)
  import spark.implicits._

  test("keyProfile: uniform keys report uniformity ~1 and exact top shares") {
    val df = (0 until 100).map(i => (i % 10).toLong).toDF("k")
    val r = Profiling.keyProfile(df, "k", topK = 3).collect().head
    assert(r.getAs[Long]("n_rows") === 100L && r.getAs[Long]("n_keys") === 10L)
    assert(r.getAs[Double]("top1_share") === 0.1)
    assert(r.getAs[Double]("topk_share") === 0.3)
    assert(math.abs(r.getAs[Double]("uniformity") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("entropy") - math.log(10)) < 1e-6)
  }

  test("keyProfile: planted hot key dominates top1_share; single key degenerates to uniformity 1") {
    val skewed = (Seq.fill(90)(1L) ++ (2L to 11L)).toDF("k")
    val r = Profiling.keyProfile(skewed, "k", topK = 1).collect().head
    assert(r.getAs[Double]("top1_share") === 0.9)
    assert(r.getAs[Double]("uniformity") < 0.25)
    val one = Profiling.keyProfile(Seq(5L, 5L, 5L).toDF("k"), "k").collect().head
    assert(one.getAs[Long]("n_keys") === 1L &&
      one.getAs[Double]("uniformity") === 1.0 &&
      one.getAs[Double]("entropy") === 0.0)
    // NULL keys count as their own key
    val withNull = Seq(Some(1L), Some(1L), None).toDF("k")
    assert(Profiling.keyProfile(withNull, "k").collect().head
      .getAs[Long]("n_keys") === 2L)
  }

  test("benfordAudit: exact Benford data scores ~0 chi-square; uniform digits spike; digit extraction never uses log") {
    // plant an exactly-Benford sample: digit d appears round(10000*log10(1+1/d)) times
    val benford = (1 to 9).flatMap { d =>
      val n = math.round(10000 * math.log10(1.0 + 1.0 / d)).toInt
      Seq.fill(n)(d + 0.23) // value with leading digit d
    }
    val b = Profiling.benfordAudit(benford.toDF("v"), "v").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(4))).sortBy(_._1)
    assert(b.map(_._1).toSeq === (1 to 9))
    assert(b.map(_._3).sum < 1.0, s"near-Benford data must score tiny chi2: ${b.toSeq}")
    // uniform digits: every digit share 1/9 — chi2 blows up on digit 1
    val uni = (1 to 9).flatMap(d => Seq.fill(100)(d * 10.0 + 1))
    val u = Profiling.benfordAudit(uni.toDF("v"), "v").collect()
      .map(r => (r.getInt(0), r.getDouble(2))).toMap
    assert((1 to 9).forall(d => math.abs(u(d) - 1.0 / 9) < 1e-6))
    // power-of-ten values land on the right digit (the log10 trap):
    // 1000.00 -> 1, 999.99 -> 9, 0.01 -> 1 at decimals=2
    val edge = Profiling.benfordAudit(
      Seq(1000.0, 999.99, 0.01).toDF("v"), "v").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(edge(1) === 2L && edge(9) === 1L, s"got ${edge}")
    // zeros and negatives: 0 excluded, sign ignored
    val sg = Profiling.benfordAudit(Seq(0.0, -2.5).toDF("v"), "v").collect()
    assert(sg.length === 1 && sg.head.getInt(0) === 2)
  }

  test("tokenGini: uniform counts score 0; one dominant type approaches 1; scale invariance") {
    import graft.operators.InfoTheory
    // 4 types, equal counts -> gini exactly 0
    val even = Seq((1L, "g", "a b c d a b c d a b c d")).toDF("id", "grp", "text")
    val g0 = InfoTheory.tokenGini(even, "grp", "text").collect().head
    assert(g0.getLong(1) === 4L && g0.getLong(2) === 12L && g0.getDouble(3) === 0.0)
    // one type owns 96 of 99 tokens -> heavy concentration
    val skew = Seq((1L, "g", (Seq.fill(96)("z") ++ Seq("a", "b", "c")).mkString(" ")))
      .toDF("id", "grp", "text")
    val g1 = InfoTheory.tokenGini(skew, "grp", "text").collect().head.getDouble(3)
    assert(g1 > 0.69 && g1 < 0.75, s"expected ~0.70, got $g1")
    // duplicating the corpus leaves gini unchanged (counts scale, shares don't)
    val dbl = Seq((1L, "g", (Seq.fill(192)("z") ++ Seq("a","a","b","b","c","c")).mkString(" ")))
      .toDF("id", "grp", "text")
    val g2 = InfoTheory.tokenGini(dbl, "grp", "text").collect().head.getDouble(3)
    assert(math.abs(g2 - g1) < 1e-6)
  }

  test("logOddsTerms: planted source-exclusive term tops its source; shared background words score near 0") {
    import graft.operators.InfoTheory
    val bg = "the quick brown fox jumps over the lazy dog"
    val docs = (
      Seq.fill(20)(("s1", s"$bg alpha alpha")) ++
      Seq.fill(20)(("s2", s"$bg beta beta")) ++
      Seq.fill(20)(("s3", bg))
    ).zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("id", "src", "text")
    val top = InfoTheory.logOddsTerms(docs, "src", "text", k = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val first = top.filter(_._2 == 1).map(t => t._1 -> (t._3, t._4)).toMap
    assert(first("s1")._1 === "alpha" && first("s2")._1 === "beta",
      s"exclusive terms must rank first: ${top.toSeq}")
    assert(first("s1")._2 > 3.0, "planted exclusive term must be a strong z outlier")
    // background words shared in proportion score well below the planted terms
    val s3top = first("s3")._2
    assert(s3top < first("s1")._2 / 2, s"no-signal source tops at $s3top")
  }

  test("readability: monosyllabic short sentences score high flesch; polysyllabic long sentences low; counts exact") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "the cat sat. the dog ran."),
      (2L, "extraordinary considerations necessitate comprehensive organizational reevaluation")
    ).toDF("id", "text")
    val r = TextAnalysis.readability(df, "text")
      .select("id", "n_words", "n_sentences", "n_syllables", "flesch")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    val (w1, s1, sy1, f1) = r(1L)
    assert(w1 === 6L && s1 === 2L && sy1 === 6L, s"got ${r(1L)}")
    val (w2, s2, _, f2) = r(2L)
    assert(w2 === 6L && s2 === 1L)
    assert(f1 > 90 && f2 < 0, s"flesch must separate: $f1 vs $f2")
  }

  test("chiSquareAssoc: independent columns score ~0; deterministic association maxes Cramér's V; zero cells contribute") {
    // perfectly independent 2x2: equal counts everywhere -> chi2 = 0
    val indep = (for (a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 25)
      yield (a, b)).toDF("a", "b")
    val r0 = Profiling.chiSquareAssoc(indep, "a", "b").collect().head
    assert(r0.getAs[Long]("n") === 100L && r0.getAs[Double]("chi2") === 0.0)
    assert(r0.getAs[Double]("cramers_v") === 0.0 && r0.getAs[Long]("dof") === 1L)
    // deterministic mapping a->b: chi2 = n*(min(r,c)-1), V = 1
    val det = (Seq.fill(30)(("x", "u")) ++ Seq.fill(30)(("y", "v"))).toDF("a", "b")
    val r1 = Profiling.chiSquareAssoc(det, "a", "b").collect().head
    assert(r1.getAs[Double]("cramers_v") === 1.0)
    assert(math.abs(r1.getAs[Double]("chi2") - 60.0) < 1e-6)
    // zero-observed cell must contribute its expected mass: 3 levels x 2,
    // ("z","u") never observed -> naive observed-only sum understates
    val withZero = (Seq.fill(10)(("x", "u")) ++ Seq.fill(10)(("x", "v")) ++
      Seq.fill(10)(("y", "u")) ++ Seq.fill(10)(("y", "v")) ++
      Seq.fill(10)(("z", "v"))).toDF("a", "b")
    val r2 = Profiling.chiSquareAssoc(withZero, "a", "b").collect().head
    // E(z,u) = 10*20/50 = 4; observed 0 contributes (0-4)^2/4 = 4
    assert(r2.getAs[Double]("chi2") > 4.0, s"zero cell dropped: ${r2}")
    assert(r2.getAs[Long]("r_levels") === 3L && r2.getAs[Long]("c_levels") === 2L)
  }

  test("spearmanCorr: monotone nonlinear = 1, reversed = -1, mid-ranks on ties match closed form") {
    // y = x^3 is nonlinear but perfectly monotone -> spearman exactly 1
    val mono = (1 to 50).map(i => (i.toDouble, math.pow(i, 3))).toDF("x", "y")
    val r1 = Profiling.spearmanCorr(mono, "x", "y").collect().head
    assert(r1.getAs[Long]("n") === 50L && r1.getAs[Double]("spearman") === 1.0)
    val rev = (1 to 50).map(i => (i.toDouble, -math.pow(i, 3))).toDF("x", "y")
    assert(Profiling.spearmanCorr(rev, "x", "y").collect().head
      .getAs[Double]("spearman") === -1.0)
    // tie handling: x = (1,1,2), y = (1,2,3). mid-ranks rx = (1.5,1.5,3),
    // ry = (1,2,3) -> rho = cov/sd product = (hand computation) 0.866025
    val ties = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 3.0)).toDF("x", "y")
    val rho = Profiling.spearmanCorr(ties, "x", "y").collect().head
      .getAs[Double]("spearman")
    assert(math.abs(rho - 0.866025) < 1e-6, s"mid-rank rho: $rho")
    // NULL pairs dropped
    val withNull = Seq((Some(1.0), Some(1.0)), (Some(2.0), Some(2.0)),
      (Some(3.0), None)).toDF("x", "y")
    assert(Profiling.spearmanCorr(withNull, "x", "y").collect().head
      .getAs[Long]("n") === 2L)
  }

  test("tCloseness: class matching the global distribution scores 0; concentrated class scores (m-1)-normalized shift") {
    import graft.operators.Pii
    // global: values 0 and 1 equally likely. class A mirrors it (emd 0);
    // class B holds only value 1 -> cum diff |0.5-0|=0.5 at v=0, 0 at v=1
    // -> emd = 0.5/(2-1) = 0.5
    val df = (Seq.fill(10)(("A", 0)) ++ Seq.fill(10)(("A", 1)) ++
      Seq.fill(20)(("B", 1)) ++ Seq.fill(20)(("C", 0))).toDF("grp", "s")
    val r = Pii.tCloseness(df, Seq("grp"), "s", t = 0.3)
      .collect().map(x => x.getString(0) ->
        (x.getAs[Long]("class_size"), x.getAs[Double]("emd"),
         x.getAs[Boolean]("t_violation"))).toMap
    assert(r("A") === ((20L, 0.0, false)),
      s"A mirrors the global 50/50 exactly: ${r("A")}")
    assert(r("B") === ((20L, 0.5, true)) && r("C") === ((20L, 0.5, true)),
      s"one-sided classes: cum diff 0.5 at the first value, m-1=1: $r")
    // degenerate global (single sensitive value): m=1 guard must yield
    // exact 0, not 0/0 NaN
    val single = Seq(("A", 1), ("B", 1)).toDF("grp", "s")
    val rs = Pii.tCloseness(single, Seq("grp"), "s", t = 0.1).collect()
    assert(rs.forall(x => x.getAs[Double]("emd") === 0.0))
  }

  test("selectionRateAudit: equal rates pass, planted disparity flags under the 0.8 floor") {
    // A selects 8/10, B selects 2/10 -> impact ratio 0.25, flagged
    val df = ((1 to 10).map(i => ("A", i <= 8)) ++
      (1 to 10).map(i => ("B", i <= 2))).toDF("grp", "sel")
    val r = Profiling.selectionRateAudit(df, "grp", col("sel"))
      .collect().map(x => x.getString(0) ->
        (x.getAs[Double]("rate"), x.getAs[Double]("impact_ratio"),
         x.getAs[Boolean]("flagged"))).toMap
    assert(r("A") === ((0.8, 1.0, false)))
    assert(r("B") === ((0.2, 0.25, true)))
    // equal rates: both ratio 1, nothing flagged, parity diff 0
    val eq = ((1 to 10).map(i => ("A", i <= 5)) ++
      (1 to 10).map(i => ("B", i <= 5))).toDF("grp", "sel")
    val re = Profiling.selectionRateAudit(eq, "grp", col("sel")).collect()
    assert(re.forall(x => x.getAs[Double]("impact_ratio") === 1.0 &&
      !x.getAs[Boolean]("flagged") && x.getAs[Double]("parity_diff") === 0.0))
  }

  test("doremiWeights: weights sum to 1; symmetric domains split evenly; distinctive domain upweighted") {
    // two domains with IDENTICAL text: excess equal -> weights 0.5/0.5
    val sym = Seq(("a", "x y x y z w"), ("b", "x y x y z w"))
      .toDF("src", "text")
    val rs = InfoTheory.doremiWeights(sym, "src", "text")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("weight")).toMap
    assert(math.abs(rs("a") - 0.5) < 1e-6 && math.abs(rs("b") - 0.5) < 1e-6)
    // weights normalize, follow the excess_bits ordering through the
    // softmax, and epsilon=1 collapses to uniform regardless of excess
    val docs = (Seq.fill(5)(("a", "the quick brown fox jumps over a lazy dog")) ++
      Seq.fill(5)(("b", "pack my box with five dozen brown quick jugs")) ++
      Seq.fill(5)(("c", "qq ww qq ww qq ww qq ww"))).toDF("src", "text")
    val rows = InfoTheory.doremiWeights(docs, "src", "text").collect()
      .map(r => (r.getString(0), r.getAs[Double]("excess_bits"),
        r.getAs[Double]("weight")))
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-5,
      s"weights must normalize: ${rows.toSeq}")
    assert(rows.sortBy(_._2).map(_._1) === rows.sortBy(_._3).map(_._1),
      s"weight order must track excess order: ${rows.toSeq}")
    val uni = InfoTheory.doremiWeights(docs, "src", "text", epsilon = 1.0)
      .collect().map(_.getAs[Double]("weight"))
    assert(uni.forall(w => math.abs(w - 1.0 / 3) < 1e-6),
      s"epsilon=1 must be uniform: ${uni.toSeq}")
  }

  test("fkAudit: planted orphans and NULLs count exactly; intact relation reports coverage 1") {
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(99L), Some(99L),
      Some(98L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Integrity.fkAudit(child, "fk", parent, "pk").collect().head
    assert(r.getAs[Long]("child_rows") === 7L)
    assert(r.getAs[Long]("nonnull_rows") === 6L)
    assert(r.getAs[Long]("distinct_fk") === 4L)
    assert(r.getAs[Long]("orphan_rows") === 3L) // 99,99,98
    assert(r.getAs[Long]("orphan_keys") === 2L)
    assert(r.getAs[Double]("fk_coverage") === 0.5)
    val intact = Integrity.fkAudit(
      Seq(1L, 2L, 2L).toDF("fk"), "fk", parent, "pk").collect().head
    assert(intact.getAs[Long]("orphan_rows") === 0L &&
      intact.getAs[Double]("fk_coverage") === 1.0)
  }

  test("schemaDrift: added/removed/type-changed columns flagged; null rates and mean shifts exact") {
    val ref = Seq((1L, Some(1.0), "a"), (2L, None, "b"), (3L, Some(5.0), "c"))
      .toDF("id", "x", "gone")
    val cur = Seq((1L, 2.0f, "n"), (2L, 4.0f, "n"))
      .toDF("id", "x", "fresh") // x double -> float; gone removed; fresh added
    val r = Integrity.schemaDrift(ref, cur)
      .collect().map(x => x.getAs[String]("column") -> x).toMap
    assert(r("gone").getAs[String]("status") === "removed" &&
      r("gone").getAs[Any]("type_cur") === null)
    assert(r("fresh").getAs[String]("status") === "added" &&
      r("fresh").getAs[Any]("null_rate_ref") === null)
    assert(r("x").getAs[String]("status") === "type_changed")
    assert(r("x").getAs[Double]("null_rate_ref") === 0.333333)
    assert(r("x").getAs[Double]("null_rate_cur") === 0.0)
    assert(r("x").getAs[Double]("mean_ref") === 3.0) // nulls excluded from avg
    assert(r("x").getAs[Double]("mean_cur") === 3.0) // the unit DIDN'T shift
    assert(r("id").getAs[String]("status") === "ok" &&
      r("id").getAs[Double]("mean_ref") === 2.0 &&
      r("id").getAs[Double]("mean_cur") === 1.5)
    // string columns profile null rate but never a mean
    assert(r("gone").getAs[Any]("mean_ref") === null)
  }

  test("sourceDivergence: identical sources diverge 0 from the mixture; disjoint sources are symmetric and bounded") {
    val same = Seq(("a", "x y z"), ("b", "x y z")).toDF("src", "text")
    val r0 = InfoTheory.sourceDivergence(same, "src", "text")
      .collect().map(_.getAs[Double]("js"))
    assert(r0.forall(_ === 0.0))
    val disjoint = Seq(("a", "x y"), ("b", "u v")).toDF("src", "text")
    val r1 = InfoTheory.sourceDivergence(disjoint, "src", "text")
      .collect().map(r => r.getAs[String]("src") -> r.getAs[Double]("js")).toMap
    assert(r1("a") === r1("b")) // equal-size disjoint halves are symmetric
    assert(r1("a") > 0.0 && r1("a") < math.log(2.0))
  }

  test("psiTimeline: identical consecutive buckets score ~0; a planted shift day spikes; first bucket absent") {
    import graft.operators.Drift
    // buckets 1..3 identical uniform; bucket 4 shifted by +100
    val rows = for {
      b <- 1 to 4; i <- 0 until 200
    } yield (b, i.toDouble + (if (b == 4) 100.0 else 0.0))
    val df = rows.toDF("bucket", "v")
    val r = Drift.psiTimeline(df, "bucket", "v", nBins = 10)
      .collect().map(x => x.getAs[Int]("bucket") -> x.getAs[Double]("psi")).toMap
    assert(!r.contains(1)) // no predecessor
    assert(r(2) === 0.0 && r(3) === 0.0) // identical distributions
    assert(r(4) > 1.0, s"planted shift day psi = ${r(4)}") // half the mass leaves every old decile
  }

  test("jsTimeline: identical consecutive mixes score 0; a planted mix flip spikes within [0, ln 2]") {
    import graft.operators.Drift
    val rows = (for (b <- 1 to 3; i <- 0 until 90)
      yield (b, if (i % 3 == 0) "x" else "y")) ++ // buckets 1-3: 30/60 mix
      (for (i <- 0 until 90) yield (4, if (i % 3 == 0) "y" else "x")) // flipped
    val r = Drift.jsTimeline(rows.toDF("bucket", "cat"), "bucket", "cat")
      .collect().map(x => x.getAs[Int]("bucket") -> x.getAs[Double]("js")).toMap
    assert(!r.contains(1))
    assert(r(2) === 0.0 && r(3) === 0.0)
    assert(r(4) > 0.05 && r(4) < math.log(2.0), s"flip day js = ${r(4)}")
  }

  test("latestSnapshot: latest order wins, ties break by id, one row per key") {
    import graft.operators.EventAnalytics
    val log = Seq(
      (1L, "k1", 10L, "old"), (2L, "k1", 20L, "new"),
      (3L, "k2", 5L, "a"), (4L, "k2", 5L, "b"), // order tie -> max id wins
      (5L, "k3", 1L, "only")).toDF("id", "key", "ord", "state")
    val r = EventAnalytics.latestSnapshot(log, Seq("key"), "ord", "id")
      .collect().map(x => x.getAs[String]("key") -> x.getAs[String]("state")).toMap
    assert(r === Map("k1" -> "new", "k2" -> "b", "k3" -> "only"))
  }

  test("assocRules: hand-built baskets give exact support/confidence/lift; within-basket dupes collapse") {
    import graft.operators.EventAnalytics
    // baskets: {x,y}, {x,y}, {x}, {y,z} — n_xy=2, n_x=3, n_y=3, n_yz=1
    val rows = Seq(
      (1, "x"), (1, "y"), (1, "y"), // dupe y in basket 1 collapses
      (2, "x"), (2, "y"),
      (3, "x"),
      (4, "y"), (4, "z")).map { case (b, i) => (b.toLong, i) }
    val df = rows.toDF("basket", "item")
    val r = EventAnalytics.assocRules(df, Seq("basket"), "item")
      .collect().map(x => (x.getAs[String]("antecedent"), x.getAs[String]("consequent")) -> x).toMap
    val xy = r(("x", "y"))
    assert(xy.getAs[Long]("n_ab") === 2L && xy.getAs[Long]("n_a") === 3L)
    assert(xy.getAs[Double]("support") === 0.5) // 2 of 4 baskets
    assert(xy.getAs[Double]("confidence") === 0.666667)
    assert(xy.getAs[Double]("lift") === 0.888889) // 2*4/(3*3)
    // both directions present, symmetric n_ab, direction-specific confidence
    val yx = r(("y", "x"))
    assert(yx.getAs[Long]("n_ab") === 2L &&
      yx.getAs[Double]("confidence") === 0.666667)
    assert(r(("y", "z")).getAs[Double]("lift") === 1.333333) // 1*4/(3*1)
    assert(!r.contains(("x", "z")))
    // minSupport prunes the rare pair in BOTH directions
    val pruned = EventAnalytics.assocRules(df, Seq("basket"), "item", minSupport = 0.4)
      .collect().map(x => (x.getAs[String]("antecedent"), x.getAs[String]("consequent")))
    assert(pruned.toSet === Set(("x", "y"), ("y", "x")))
  }

  test("exactQuantiles: bit-identical to percentile() on random, dup-heavy, and NULL-bearing data") {
    import graft.operators.Quantiles
    val qs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    def viaPercentile(df: org.apache.spark.sql.DataFrame): Array[Double] =
      df.agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
        .head().getSeq[Double](0).toArray
    // seeded pseudo-random doubles (mostly distinct)
    val rnd = spark.range(5000).select(
      (pmod(xxhash64(col("id"), lit(3L)), lit(100000L)) / 7.0).as("v"))
    assert(Quantiles.exactQuantiles(rnd, "v", qs).toSeq === viaPercentile(rnd).toSeq)
    // duplicate-heavy (interpolation lands INSIDE value runs)
    val dup = spark.range(5000).select(pmod(col("id"), lit(7L)).cast("double").as("v"))
    assert(Quantiles.exactQuantiles(dup, "v", qs).toSeq === viaPercentile(dup).toSeq)
    // NULLs excluded on both sides
    val withNull = spark.range(5000).select(
      when(col("id") % 3 === 0, col("id").cast("double")).as("v"))
    assert(Quantiles.exactQuantiles(withNull, "v", qs).toSeq ===
      viaPercentile(withNull).toSeq)
    // single row: every quantile is that value
    val one = Seq(42.0).toDF("v")
    assert(Quantiles.exactQuantiles(one, "v", qs).toSeq === Seq.fill(qs.size)(42.0))
  }

  test("exactQuantilesByKey: one pass == per-key percentile(); all-NULL keys absent") {
    import graft.operators.Quantiles
    val qs = Seq(0.1, 0.5, 0.9)
    // three keyed populations with different shapes + one all-NULL key
    val kv = spark.range(6000).select(
      concat(lit("k"), pmod(col("id"), lit(3L))).as("k"),
      when(col("id") % 3 =!= 2,
        (pmod(xxhash64(col("id"), lit(7L)), lit(1000L)) / 3.0))
        .as("v"))
      .unionByName(spark.range(10).select(lit("knull").as("k"),
        lit(null).cast("double").as("v")))
    val got = Quantiles.exactQuantilesByKey(kv, "k", "v", qs)
    assert(!got.contains("knull"))
    for (k <- Seq("k0", "k1")) {
      val expected = kv.filter(col("k") === k)
        .agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
        .head().getSeq[Double](0)
      assert(got(k).toSeq === expected, s"key $k")
    }
    // k2 is all-NULL by construction (id % 3 == 2 rows) — absent
    assert(!got.contains("k2"))
  }

  test("exactQuantiles: a median tied across more rows than the slice cap equals percentile()") {
    import graft.operators.Quantiles
    val qs = Seq(0.25, 0.5, 0.75)
    // 3000 of 5000 rows tie at 7.0, spanning every target rank
    val tied = spark.range(5000).select(
      when(col("id") % 5 < 3, lit(7.0))
        .otherwise(pmod(xxhash64(col("id"), lit(5L)), lit(1000L)) / 100.0).as("v"))
    val expected = tied.agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
      .head().getSeq[Double](0)
    val kv = tied.select(lit("").as("k"), col("v"))
    for (cap <- Seq(10, 10000)) {
      val (got, n) = Quantiles.exactQuantilesByKeyWithN(kv, "k", "v", qs, cap)("")
      assert(got.toSeq === expected && n === 5000L, s"cap $cap")
    }
  }

  test("exactQuantiles: a forced refine stays bit-identical to percentile()") {
    import graft.operators.Quantiles
    val qs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val rnd = spark.range(5000).select(lit("").as("k"),
      (pmod(xxhash64(col("id"), lit(3L)), lit(100000L)) / 7.0).as("v"))
    val expected = rnd.agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
      .head().getSeq[Double](0)
    var got = Seq.empty[Double]
    // cap 0: no inner slice is ever collected, every rank is narrowed
    // until it lands on a bound
    val refined = JobCount(spark) {
      got = Quantiles.exactQuantilesByKeyWithN(rnd, "k", "v", qs, 0)("")._1.toSeq
    }
    assert(got === expected)
    val plain = JobCount(spark)(Quantiles.exactQuantiles(rnd, "v", qs))
    assert(refined > plain, s"refine ran $refined jobs, one round $plain")
  }

  test("exactQuantilesByKey: one-value and two-value keys at q in {0, 0.5, 1}") {
    import graft.operators.Quantiles
    val qs = Seq(0.0, 0.5, 1.0)
    val kv = Seq(("a", 3.5), ("b", -1.0), ("b", 2.0)).toDF("k", "v")
    for (cap <- Seq(0, 10000)) {
      val got = Quantiles.exactQuantilesByKeyWithN(kv, "k", "v", qs, cap)
      assert(got("a")._1.toSeq === Seq(3.5, 3.5, 3.5) && got("a")._2 === 1L, s"cap $cap")
      for (k <- Seq("a", "b")) {
        val expected = kv.filter(col("k") === k)
          .agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
          .head().getSeq[Double](0)
        assert(got(k)._1.toSeq === expected, s"key $k cap $cap")
      }
      assert(got("b")._1.toSeq === Seq(-1.0, 0.5, 2.0) && got("b")._2 === 2L)
    }
  }

  test("exactQuantilesByKey: keys of 1 to 60 rows and 300 keys of 7 rows read every rank from the first sketch, in 2 jobs") {
    import graft.operators.Quantiles
    val qs = Seq(0.0, 0.1, 0.25, 0.5, 0.9, 0.99, 1.0)
    // ties within keys (values mod 5); a key of n rows has ranks at every
    // fraction of q·(n−1), so each sketch bound is checked at small n
    val kv = ((1 to 60).flatMap(n => (0 until n).map(i => (s"n$n", ((i * 7919) % 5).toDouble))) ++
      (0 until 300).flatMap(k => (0 until 7).map(i => (s"s$k", ((k * 31 + i * 17) % 11) / 3.0))))
      .toDF("k", "v")
    val expected = kv.groupBy("k").agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    var got = Map.empty[String, Array[Double]]
    val jobs = JobCount(spark) { got = Quantiles.exactQuantilesByKey(kv, "k", "v", qs) }
    assert(got.keySet === expected.keySet)
    for ((k, e) <- expected) assert(got(k).toSeq === e, s"key $k")
    assert(jobs <= 2, s"$jobs jobs for 360 small keys")
  }

  test("exactQuantilesByKey: a forced refine narrows every key's open ranks in one more round") {
    import graft.operators.Quantiles
    val qs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val kv = spark.range(2000).select((col("id") % 40).cast("string").as("k"),
      (pmod(xxhash64(col("id"), lit(5L)), lit(100000L)) / 7.0).as("v"))
    val expected = kv.groupBy("k").agg(expr(s"percentile(v, array(${qs.mkString(",")}))"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    var got = Map.empty[String, (Array[Double], Long)]
    // cap 0: no inner slice is collected, so every rank between the
    // bounds of all 40 keys and 7 quantiles refines, all in round 2
    val jobs = JobCount(spark) { got = Quantiles.exactQuantilesByKeyWithN(kv, "k", "v", qs, 0) }
    for ((k, e) <- expected) assert(got(k)._1.toSeq === e && got(k)._2 === 50L, s"key $k")
    assert(jobs <= 4, s"$jobs jobs for 2 rounds")
  }

  test("exactQuantiles: a rank the sketch misses narrows to the span beside its slice") {
    import graft.operators.Quantiles.{Probe, locate}
    // a span of 100 rows in (0, 50) with 10 rows below it; bounds 5 and
    // 7: 20 rows below 5, 3 equal to 5, 10 between, 2 equal to 7
    val p = Probe(Some(0.0), Some(50.0), 10L, 100L, Nil, Some(5.0), Some(7.0))
    val ends = Seq(30L, 33L, 43L, 45L)
    val inside = (1 to 10).map(i => 5.0 + i / 10.0).toArray
    assert(locate(p, ends, inside, 12L, 100) ===
      Left(Probe(Some(0.0), Some(5.0), 10L, 20L, Seq(12L))))
    assert(locate(p, ends, inside, 31L, 100) === Right(5.0))
    assert(locate(p, ends, inside, 35L, 100) === Right(inside(2)))
    assert(locate(p, ends, inside, 35L, 5) ===
      Left(Probe(Some(5.0), Some(7.0), 33L, 10L, Seq(35L))))
    assert(locate(p, ends, inside, 44L, 100) === Right(7.0))
    assert(locate(p, ends, inside, 60L, 100) ===
      Left(Probe(Some(7.0), Some(50.0), 45L, 65L, Seq(60L))))
  }

  test("exactQuantiles: one key runs 2 jobs (a bounds and a slice pass)") {
    import graft.operators.Quantiles
    val rnd = spark.range(5000).select(
      (pmod(xxhash64(col("id"), lit(11L)), lit(100000L)) / 7.0).as("v"))
    val jobs = JobCount(spark)(Quantiles.exactQuantiles(rnd, "v", Seq(0.1, 0.5, 0.9)))
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("timeWeightedAvg: holding intervals weight the mean; constant signals equal the row mean") {
    import graft.operators.EventAnalytics
    // v=10 held for 10s, then v=0 for 1s: twa = 100/11, row mean = 10/3
    val bursty = Seq((1L, 0L, 10.0), (2L, 10L * 1000000000L, 0.0),
      (3L, 11L * 1000000000L, 0.0)).toDF("id", "ts_ns", "v")
    val b = EventAnalytics.timeWeightedAvg(
      bursty.withColumn("k", lit(1L)), "k", "ts_ns", "v", "id").collect().head
    assert(b.getAs[Double]("twa") === 9.090909)
    assert(b.getAs[Double]("row_mean") === 3.333333)
    assert(b.getAs[Double]("span_s") === 11.0)
    // constant signal: twa == row mean regardless of spacing
    val const = Seq((1L, 0L, 5.0), (2L, 999L, 5.0), (3L, 7L * 1000000000L, 5.0))
      .toDF("id", "ts_ns", "v").withColumn("k", lit(1L))
    val c = EventAnalytics.timeWeightedAvg(const, "k", "ts_ns", "v", "id").collect().head
    assert(c.getAs[Double]("twa") === 5.0 && c.getAs[Double]("row_mean") === 5.0)
    // single observation: zero span falls back to that value
    val one = Seq((1L, 5L, 42.0)).toDF("id", "ts_ns", "v").withColumn("k", lit(1L))
    assert(EventAnalytics.timeWeightedAvg(one, "k", "ts_ns", "v", "id")
      .collect().head.getAs[Double]("twa") === 42.0)
  }

  test("cdcChunks: chunks reassemble to the text; an insertion only disturbs chunks before re-alignment") {
    import graft.operators.TextAnalysis
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark woods to sleep until morning comes again"
    val edited = "XXINSERTXX " + base // prefix insertion
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val rows = TextAnalysis.cdcChunks(df, "doc_id", "text", window = 8, prefix = "0")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("chunk_idx"),
        r.getAs[String]("chunk")))
    // chunks concatenate back to the original, in chunk_idx order
    def joined(id: Long) = rows.filter(_._1 == id).sortBy(_._2).map(_._3).mkString
    assert(joined(1L) === base && joined(2L) === edited)
    // content-defined: the two docs share a SUFFIX of identical chunks
    // (fixed-size chunking would share none after a prefix insertion)
    val c1 = rows.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    val c2 = rows.filter(_._1 == 2L).sortBy(_._2).map(_._3)
    val sharedSuffix = c1.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }.length
    assert(sharedSuffix >= 2,
      s"expected re-aligned suffix chunks, got $sharedSuffix\n${c1.toSeq}\n${c2.toSeq}")
    // an EMPTY document must not vanish: it keeps one "" chunk (so a
    // downstream chunk-dedup rebuild still emits a row for it)
    val empty = TextAnalysis.cdcChunks(
      Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text", 8, "0")
      .collect()
    assert(empty.length === 1 && empty.head.getAs[String]("chunk") === "" &&
      empty.head.getAs[Int]("chunk_idx") === 0)
  }

  test("knBigramLmScore: per-context probabilities sum to 1; frequent-but-predictable words back off low") {
    import graft.operators.TextAnalysis
    val train = Seq((1L, "a b a c b c"), (2L, "b a a b")).toDF("doc_id", "text")
    val vocab = Seq("a", "b", "c")
    // one probe doc per (context, next) pair: each has exactly ONE
    // bigram, so P(next|context) = 2^(-kn_bits)
    val probes = (for {
      (w1, i) <- vocab.zipWithIndex; (w2, j) <- vocab.zipWithIndex
    } yield ((i * 3 + j).toLong, s"$w1 $w2")).toDF("doc_id", "text")
    val bits = TextAnalysis.knBigramLmScore(train, probes, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("kn_bits")).toMap
    for (i <- vocab.indices) {
      val sum = vocab.indices.map(j => math.pow(2.0, -bits(i * 3L + j))).sum
      assert(math.abs(sum - 1.0) < 1e-4,
        s"P(.|${vocab(i)}) sums to $sum")
    }
    // interpolation: an unseen bigram over a seen context still gets
    // backoff mass (finite bits, below the eps floor's 33.2)
    assert(bits.values.forall(b => b > 0 && b < 33.0))
  }

  test("KN maintained counts: state-scored == inline to 1e-9; absorb == rebuild") {
    import graft.operators.TextAnalysis
    val vocab = Seq("the", "cat", "sat", "on", "mat", "a", "dog", "ran")
    def sent(i: Int) = (0 until 6).map(j => vocab((i * 7 + j * 3) % vocab.size)).mkString(" ")
    val trainA = (1 to 60).map(i => (i.toLong, sent(i))).toDF("doc_id", "text")
    val trainB = (61 to 90).map(i => (i.toLong, sent(i * 11))).toDF("doc_id", "text")
    val probes = (1 to 20).map(i => (i.toLong, sent(i * 5 + 2))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn_counts").toString + "/bigrams"
    // segment zero from corpus A, absorb delta B — one O(delta) explode each
    TextAnalysis.writeKnCounts(trainA, "text", dir)
    TextAnalysis.absorbKnCounts(trainB, "text", dir, segment = "b0")
    // replay idempotence: re-absorbing the SAME delta under the SAME
    // segment id rewrites, never double-counts (the at-least-once
    // foreachBatch contract StreamingLm relies on)
    TextAnalysis.absorbKnCounts(trainB, "text", dir, segment = "b0")
    val merged = TextAnalysis.readKnCounts(spark, dir)
    // absorb == rebuild: merged segments carry exactly the union corpus counts
    val rebuilt = trainA.unionByName(trainB)
      .select(explode(expr("transform(sequence(1, size(split(text,' '))-1)," +
        " i -> struct(split(text,' ')[i-1] as w1, split(text,' ')[i] as w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    assert(merged.join(rebuilt, Seq("w1", "w2"), "full")
      .filter(merged("c") =!= rebuilt("c") ||
        merged("c").isNull || rebuilt("c").isNull)
      .count() === 0)
    // state-scored == inline on the union corpus, to 1e-9
    val viaState = TextAnalysis.knFromCounts(merged, probes, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("kn_bits")).toMap
    val inline = TextAnalysis.knBigramLmScore(
      trainA.unionByName(trainB), probes, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("kn_bits")).toMap
    assert(viaState.keySet === inline.keySet)
    viaState.foreach { case (id, b) =>
      assert(math.abs(b - inline(id)) < 1e-9, s"doc $id: $b vs ${inline(id)}")
    }
  }

  test("gearChunks: native boundaries == per-char reference; reassembly; insertion re-aligns; sane mean length") {
    import graft.operators.TextAnalysis
    import graft.functions.TextKernels
    val base = (1 to 400).map(i => s"w${i * 7 % 97}").mkString(" ")
    val edited = "XXINSERTXX " + base
    // non-BMP fixture: supplementary-plane code points (2 UTF-16 units each)
    // interleaved through ASCII — boundaries must stay code-point positions,
    // never exceed codePointCount, and chunks must reassemble exactly
    val emoji = new String(Character.toChars(0x1F600)) +
      new String(Character.toChars(0x1F680))
    val nonBmp = (1 to 120).map(i => s"w${i * 7 % 97}$emoji").mkString(" ")
    val df = Seq((1L, base), (2L, edited), (3L, nonBmp)).toDF("doc_id", "text")
    val rows = TextAnalysis.gearChunks(df, "doc_id", "text", bits = 5)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("chunk_idx"),
        r.getAs[String]("chunk")))
    def chunksOf(id: Long) = rows.filter(_._1 == id).sortBy(_._2).map(_._3).toSeq
    // independent per-CODE-POINT reference of the SAME gear rule
    def refChunks(s: String): Seq[String] = {
      var h = 0L
      val cps = s.codePoints().toArray.toSeq
      val bps = cps.zipWithIndex.flatMap { case (c, i) =>
        h = (h << 1) + TextKernels.gearTable(c & 0xFF)
        if ((h & 31L) == 0L) Some(i + 1) else None
      }
      val starts = 1 +: bps.map(_ + 1)
      val ends = bps :+ cps.length
      def sub(a: Int, e: Int) =
        new String(cps.slice(a - 1, e).flatMap(c => Character.toChars(c).toSeq).toArray)
      starts.zip(ends).collect { case (a, e) if e >= a => sub(a, e) }
    }
    assert(chunksOf(1L) === refChunks(base))
    assert(chunksOf(2L) === refChunks(edited))
    assert(chunksOf(3L) === refChunks(nonBmp))
    assert(chunksOf(1L).mkString === base && chunksOf(2L).mkString === edited)
    assert(chunksOf(3L).mkString === nonBmp)
    // content-defined: prefix insertion leaves a shared chunk suffix
    val shared = chunksOf(1L).reverse.zip(chunksOf(2L).reverse)
      .takeWhile { case (a, b) => a == b }.length
    assert(shared >= 2, s"suffix re-alignment: $shared")
    // expected chunk length 2^5 = 32: allow [8, 128] for hash variance
    val mean = base.length.toDouble / chunksOf(1L).size
    assert(mean > 8 && mean < 128, s"mean chunk length $mean")
  }

  test("embeddingDrift: identical snapshots report cosine 1 / shift 0; opposite directions report cosine -1") {
    import graft.operators.Drift
    val a = Seq(Array(1f, 0f, 0f), Array(1f, 0.1f, 0f)).toDF("embedding")
    val r = Drift.embeddingDrift(a, a, "embedding").collect().head
    assert(r.getAs[Double]("centroid_cosine") === 1.0)
    assert(r.getAs[Double]("centroid_shift") === 0.0)
    val b = Seq(Array(-1f, 0f, 0f), Array(-1f, -0.1f, 0f)).toDF("embedding")
    val r2 = Drift.embeddingDrift(a, b, "embedding").collect().head
    assert(r2.getAs[Double]("centroid_cosine") === -1.0)
    assert(r2.getAs[Double]("norm_ref") === r2.getAs[Double]("norm_cur"))
  }

  test("entropy l-diversity: uniform class scores effective_l = m; skew collapses it; distinct-l is blind to the skew") {
    import graft.operators.Pii
    // class A: 8 values uniform (2 each); class B: same 8 DISTINCT
    // values but one owns 93% of rows — distinct-l sees 8 in both
    val rows =
      (0 until 8).flatMap(v => Seq(("A", v), ("A", v))) ++
      (0 until 8).map(v => ("B", v)) ++ Seq.fill(93)(("B", 0))
    val df = rows.toDF("qid", "s")
    val got = Pii.entropyLDiversity(df, Seq("qid"), "s", l = 6.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("effective_l"), r.getBoolean(4))).toMap
    val (nA, elA, vA) = got("A")
    assert(nA === 16L && math.abs(elA - 8.0) < 1e-9 && !vA,
      s"uniform class: $elA")
    val (nB, elB, vB) = got("B")
    assert(nB === 101L && elB < 2.0 && vB,
      s"skewed class must collapse below l: $elB")
    // distinct-count l-diversity is blind to exactly this leak
    val kl = Pii.kAnonymity(df, Seq("qid"), "s", k = 1, l = 6)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_sensitive")).toMap
    assert(kl("B") === 8L, "distinct-l sees 8 values in the skewed class")
  }

  test("Bradley-Terry: dominance orders strengths, symmetric record equalizes, strengths sum to 1, never-winner -> 0") {
    import graft.operators.Ranking
    // round-robin: 1 beats everyone; 2 beats 3, 4; 3 beats 4; plus a
    // symmetric 5<->6 record and a never-winning 7
    val comp = (
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ++
      Seq.fill(5)((5L, 6L)) ++ Seq.fill(5)((6L, 5L)) ++
      Seq((4L, 7L))).toDF("w", "l")
    val got = Ranking.bradleyTerry(comp, "w", "l", iterations = 12)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val s = got.view.mapValues(_._2).toMap
    assert(s(1L) > s(2L) && s(2L) > s(3L) && s(3L) > s(4L),
      s"dominance chain must order strengths: $s")
    assert(math.abs(s(5L) - s(6L)) < 1e-6, "symmetric record must equalize")
    assert(s(7L) === 0.0, "a never-winning item's MLE strength is 0")
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-4,
      "strengths sum-normalize to 1")
    assert(got(1L)._1 === 3L && got(7L)._1 === 0L, "win counts carried")
  }

  test("cohenKappa: perfect agreement 1; hand-computed 2x2; constant-vs-varying rater lands at 0") {
    import graft.operators.Profiling
    val same = (1 to 50).map(i => (s"l${i % 3}", s"l${i % 3}")).toDF("a", "b")
    val rs = Profiling.cohenKappa(same, "a", "b").collect().head
    assert(rs.getAs[Double]("po") === 1.0 && rs.getAs[Double]("kappa") === 1.0)
    // the textbook 2x2: agree on 20 yes + 15 no, disagree 10 + 5
    // po = 35/50 = 0.7; pe = (25/50)(30/50) + (25/50)(20/50) = 0.5
    // kappa = (0.7-0.5)/0.5 = 0.4
    val hand = (Seq.fill(20)(("y", "y")) ++ Seq.fill(15)(("n", "n")) ++
      Seq.fill(10)(("y", "n")) ++ Seq.fill(5)(("n", "y"))).toDF("a", "b")
    val rh = Profiling.cohenKappa(hand, "a", "b").collect().head
    assert(rh.getAs[Long]("n") === 50L && rh.getAs[Long]("n_labels") === 2L)
    assert(rh.getAs[Double]("po") === 0.7 && rh.getAs[Double]("pe") === 0.5)
    assert(rh.getAs[Double]("kappa") === 0.4)
    // one rater constant: whatever agreement happens is exactly what
    // chance predicts (po = pe = rater B's marginal) -> kappa 0
    val const = (1 to 40).map(i => ("k", if (i % 4 == 0) "k" else "x")).toDF("a", "b")
    val rc = Profiling.cohenKappa(const, "a", "b").collect().head
    assert(rc.getAs[Double]("kappa") === 0.0)
    // both constant and identical: pe = 1, kappa undefined -> NULL
    val degen = Seq.fill(5)(("k", "k")).toDF("a", "b")
    assert(Profiling.cohenKappa(degen, "a", "b").collect().head.isNullAt(4))
  }

  test("welchT: null shift ~0 and unflagged; planted shift flags; Welch dof below pooled dof under variance imbalance") {
    import graft.operators.Drift
    def gauss(i: Int, salt: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$i".getBytes("UTF-8"))
      val u1 = (((md(0) & 0xff) * 256 + (md(1) & 0xff)) + 1).toDouble / 65537.0
      val u2 = (((md(2) & 0xff) * 256 + (md(3) & 0xff)) + 1).toDouble / 65537.0
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val same = ((1 to 400).map(i => (0, gauss(i, "a"))) ++
      (1 to 400).map(i => (1, gauss(i, "b")))).toDF("g", "v")
    val r0 = Drift.welchT(same, "v", col("g") === 0, col("g") === 1).collect().head
    assert(math.abs(r0.getAs[Double]("t")) < 3.29 && !r0.getAs[Boolean]("big_shift"))
    // planted mean shift of 1 sigma on n=400: t ~ 14, flagged
    val shift = ((1 to 400).map(i => (0, gauss(i, "a"))) ++
      (1 to 400).map(i => (1, gauss(i, "b") + 1.0))).toDF("g", "v")
    val r1 = Drift.welchT(shift, "v", col("g") === 0, col("g") === 1).collect().head
    assert(math.abs(r1.getAs[Double]("t")) > 5 && r1.getAs[Boolean]("big_shift"))
    assert(r1.getAs[Double]("mean_b") - r1.getAs[Double]("mean_a") > 0.7)
    // unequal variances: Welch dof < pooled n_a+n_b-2, >= min(n)-1
    val skewed = ((1 to 300).map(i => (0, gauss(i, "a") * 5)) ++
      (1 to 30).map(i => (1, gauss(i, "b") * 0.1))).toDF("g", "v")
    val r2 = Drift.welchT(skewed, "v", col("g") === 0, col("g") === 1).collect().head
    val dof = r2.getAs[Double]("dof")
    assert(dof < 328.0 && dof >= 29.0, s"Welch dof out of envelope: $dof")
    // degenerate: both sides the same constant -> 0/0 would be NaN, and
    // Spark sorts NaN above every number, so an unguarded flag fires a
    // FALSE drift alarm; the posture is NULL, never NaN
    val const = (1 to 10).map(i => (i % 2, 5.0)).toDF("g", "v")
    val rc = Drift.welchT(const, "v", col("g") === 0, col("g") === 1).collect().head
    assert(rc.isNullAt(rc.fieldIndex("t")) && rc.isNullAt(rc.fieldIndex("big_shift")),
      s"zero-variance data must not flag: $rc")
  }

  test("poissonBootstrapMean: constant data collapses the CI; spread data brackets the mean; deterministic") {
    import graft.operators.Resampling
    val const = (1L to 300L).map(i => (i, 7.5)).toDF("id", "x")
    val rc = Resampling.poissonBootstrapMean(const, "id", "x").collect().head
    assert(rc.getAs[Double]("mean") === 7.5 &&
      rc.getAs[Double]("ci_lo") === 7.5 && rc.getAs[Double]("ci_hi") === 7.5)
    assert(rc.getAs[Long]("n_rows") === 300L && rc.getAs[Int]("n_replicates") === 40)
    val spread = (1L to 500L).map(i => (i, (i % 37).toDouble)).toDF("id", "x")
    val rs = Resampling.poissonBootstrapMean(spread, "id", "x").collect().head
    val (m, lo, hi) = (rs.getAs[Double]("mean"), rs.getAs[Double]("ci_lo"),
      rs.getAs[Double]("ci_hi"))
    assert(lo < m && m < hi, s"CI must bracket the point mean: $lo $m $hi")
    assert(hi - lo < 4.0, "95% CI of a bounded 500-row mean is tight")
    val rs2 = Resampling.poissonBootstrapMean(spread, "id", "x").collect().head
    assert(rs2 === rs, "hash-PRF bootstrap is deterministic")
  }

  test("ebBetaBinomialRates: small samples shrink harder; shrunk stays between raw and prior; flat rates shrink nothing") {
    import graft.operators.Profiling
    // three big domains anchor the prior near 0.5; two extreme-rate
    // domains at different n: the small one must travel further back
    val rows =
      (1 to 1000).map(i => ("big1", if (i % 2 == 0) 1.0 else 0.0)) ++
      (1 to 1000).map(i => ("big2", if (i % 5 < 3) 1.0 else 0.0)) ++
      (1 to 1000).map(i => ("big3", if (i % 5 < 2) 1.0 else 0.0)) ++
      (1 to 4).map(_ => ("tiny", 1.0)) ++
      (1 to 400).map(_ => ("large", 1.0))
    val got = Profiling.ebBetaBinomialRates(rows.toDF("d", "s"), "d", "s")
      .collect().map(r => r.getAs[String]("domain") ->
        (r.getAs[Double]("rate"), r.getAs[Double]("shrunk_rate"))).toMap
    val priorMean = got.values.map(_._1).sum / got.size // MoM m = avg of rates
    got.foreach { case (d, (raw, shrunk)) =>
      val lo = math.min(raw, priorMean) - 1e-9
      val hi = math.max(raw, priorMean) + 1e-9
      assert(shrunk >= lo && shrunk <= hi, s"$d: $shrunk outside [$lo,$hi]")
    }
    assert(got("tiny")._1 === 1.0 && got("large")._1 === 1.0)
    assert(got("tiny")._2 < got("large")._2,
      "4/4 must shrink further toward the prior than 400/400")
    // flat per-domain rates: v = 0 -> no usable prior -> raw rates kept
    val flat = (1 to 90).map(i => (s"d${i % 3}", if (i % 2 == 0) 1.0 else 0.0))
    Profiling.ebBetaBinomialRates(flat.toDF("d", "s"), "d", "s")
      .collect().foreach { r =>
        assert(r.getAs[Double]("shrunk_rate") === r.getAs[Double]("rate"))
        assert(r.isNullAt(r.fieldIndex("alpha")))
      }
  }

  test("cupedAdjust: a perfectly predictive covariate removes all variance; an orthogonal one removes none") {
    import graft.operators.EventAnalytics
    // unit i: pre value i, post value i + 10 (y = x + const, corr 1)
    val perfect = (1L to 100L).flatMap(i => Seq(
      (i, 0, i.toDouble), (i, 1, i.toDouble + 10.0))).toDF("u", "ph", "v")
    val rp = EventAnalytics.cupedAdjust(perfect, "u", "v",
      col("ph") === 0, col("ph") === 1).collect().head
    assert(rp.getAs[Long]("n_units") === 100L)
    assert(rp.getAs[Double]("theta") === 1.0)
    assert(rp.getAs[Double]("var_adj") === 0.0 &&
      rp.getAs[Double]("var_reduction_pct") === 100.0)
    // orthogonal covariate: x alternates independently of y's pattern
    val orth = (1L to 200L).flatMap(i => Seq(
      (i, 0, (i % 2).toDouble), (i, 1, (i % 5).toDouble))).toDF("u", "ph", "v")
    val ro = EventAnalytics.cupedAdjust(orth, "u", "v",
      col("ph") === 0, col("ph") === 1).collect().head
    assert(math.abs(ro.getAs[Double]("var_reduction_pct")) < 10.0,
      s"near-orthogonal covariate must not fake a big reduction: $ro")
    assert(math.abs(ro.getAs[Double]("var_y") - ro.getAs[Double]("var_adj")) <
      0.1 * ro.getAs[Double]("var_y") + 1e-9)
    // degenerate: constant covariate -> theta is 0/0; NULL, never NaN
    val flat = (1L to 50L).flatMap(i => Seq(
      (i, 0, 1.0), (i, 1, i.toDouble))).toDF("u", "ph", "v")
    val rf = EventAnalytics.cupedAdjust(flat, "u", "v",
      col("ph") === 0, col("ph") === 1).collect().head
    assert(rf.isNullAt(rf.fieldIndex("theta")) &&
      rf.isNullAt(rf.fieldIndex("var_adj")),
      s"zero-variance covariate must degrade to NULL: $rf")
  }

  test("goodTuring: hand-computed classes, unseen mass N1/N, truncated tail keeps raw r") {
    import graft.operators.TextAnalysis
    // counts [1,1,1,2,2,3]: N1=3 N2=2 N3=1, N=10
    val counts = Seq(("a", 1L), ("b", 1L), ("c", 1L), ("d", 2L), ("e", 2L),
      ("f", 3L)).toDF("w", "u")
    val got = TextAnalysis.goodTuring(counts, "u", maxR = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    assert(got(0L) === ((0L, None, 0.0, 0.3)), "unseen mass = N1/N")
    assert(got(1L) === ((3L, Some(1.333333), 0.3, 0.4)), "r*=2*N2/N1")
    assert(got(2L) === ((2L, Some(1.5), 0.4, 0.3)), "r*=3*N3/N2")
    assert(got(3L) === ((1L, Some(3.0), 0.3, 0.3)),
      "empty successor class truncates to raw r")
  }

  test("fleissKappa: unanimity 1; hand-computed 2-item panel -0.2 exactly; ragged panel rejected") {
    import graft.operators.Profiling
    val unanimous = (1 to 30).flatMap(i =>
      Seq.fill(3)((i.toLong, s"l${i % 2}"))).toDF("item", "lab")
    val ru = Profiling.fleissKappa(unanimous, "item", "lab").collect().head
    assert(ru.getAs[Double]("p_bar") === 1.0 && ru.getAs[Double]("kappa") === 1.0)
    assert(ru.getAs[Long]("m_raters") === 3L)
    // item1 (a,a,b): P=1/3; item2 (a,a,a): P=1 -> Pbar=2/3
    // p_a=5/6, p_b=1/6 -> Pe=26/36 -> kappa=(2/3-26/36)/(1-26/36)=-0.2
    val hand = Seq((1L, "a"), (1L, "a"), (1L, "b"),
      (2L, "a"), (2L, "a"), (2L, "a")).toDF("item", "lab")
    val rh = Profiling.fleissKappa(hand, "item", "lab").collect().head
    assert(rh.getAs[Double]("kappa") === -0.2, s"hand kappa: $rh")
    val ragged = hand.unionByName(Seq((2L, "b")).toDF("item", "lab"))
    intercept[IllegalArgumentException] {
      Profiling.fleissKappa(ragged, "item", "lab").collect()
    }
  }

  test("simpsonAudit: planted Berkeley reversal flags every stratum; no-confounding data flags none") {
    import graft.operators.Profiling
    // stratum A: treat 10/100 pass 90%, ctrl 90/100 pass 80%
    // stratum B: treat 90/100 pass 30%, ctrl 10/100 pass 20%
    // within BOTH strata treat wins (+10pp); aggregate: treat
    // (9+27)/100 = 36%, ctrl (72+2)/100 = 74% -> aggregate REVERSES
    def rows(st: String, t: Boolean, n: Int, pass: Int) =
      (1 to n).map(i => (st, t, i <= pass))
    val planted = (rows("A", true, 10, 9) ++ rows("A", false, 90, 72) ++
      rows("B", true, 90, 27) ++ rows("B", false, 10, 2)).toDF("s", "t", "y")
    val got = Profiling.simpsonAudit(planted, col("t"), col("y"), "s")
      .collect().map(r => r.getAs[String]("stratum") -> r).toMap
    assert(got("A").getAs[Double]("diff") > 0 && got("B").getAs[Double]("diff") > 0)
    assert(got("A").getAs[Double]("agg_diff") < 0)
    assert(got("A").getAs[Boolean]("reversed") && got("B").getAs[Boolean]("reversed"),
      "both strata must flag the reversal")
    // no confounding: same treat share everywhere, treat always +20pp
    val clean = (rows("A", true, 50, 40) ++ rows("A", false, 50, 30) ++
      rows("B", true, 50, 20) ++ rows("B", false, 50, 10)).toDF("s", "t", "y")
    Profiling.simpsonAudit(clean, col("t"), col("y"), "s")
      .collect().foreach(r => assert(!r.getAs[Boolean]("reversed"), s"$r"))
  }

  test("retrievalMetrics: a duplicated run document counts once (precision stays <= 1)") {
    import graft.operators.SearchMetrics
    // retriever echoes doc 100 three times inside the top-3 for query 1;
    // query 2's run is clean. Judgments: q1 -> {100}, q2 -> {200, 201}.
    val run = Seq((1L, 100L, 1L), (1L, 100L, 2L), (1L, 100L, 3L),
      (2L, 200L, 1L), (2L, 999L, 2L), (2L, 201L, 3L)).toDF("q", "id", "rank")
    val rel = Seq((1L, 100L), (2L, 200L), (2L, 201L)).toDF("q", "id")
    val m = SearchMetrics.retrievalMetrics(run, "q", "id", "rank",
        rel, "q", "id", k = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Long]("hits") === 1L, "triple echo counts once")
    assert(m(1L).getAs[Double]("precision_at_k") === round6(1.0 / 3))
    assert(m(1L).getAs[Double]("recall_at_k") === 1.0)
    assert(m(1L).getAs[Double]("mrr") === 1.0, "best rank of the dup is kept")
    assert(m(1L).getAs[Double]("ndcg_at_k") === 1.0,
      "one relevant found at rank 1 is ideal; the echoes add no dcg")
    assert(m(2L).getAs[Long]("hits") === 2L, "clean run unchanged")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
