package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EventAnalytics

/** Ordered funnel, cohort retention, lag-debounce: the semantics the
  * oracles can't explain — strict ordering, offset-0 cohort identity,
  * predecessor-distance suppression — pinned on hand-built sequences. */
class EventAnalyticsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  private def ts(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("funnel: strictly-after ordering; out-of-order users do not convert") {
    import spark.implicits._
    val ev = Seq(
      // u1: clean view(1) -> click(2) -> purchase(3): converts all stages
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // u2: purchase BEFORE view: stops at stage 1
      (2L, ts(5), "purchase"), (2L, ts(6), "view"),
      // u3: view only
      (3L, ts(1), "view"),
      // u4: click with no view: appears in NO stage
      (4L, ts(1), "click"),
      // u5: view(1), click(2), but an EARLIER purchase(1) does not count;
      // the later purchase(4) does
      (5L, ts(1), "view"), (5L, ts(2), "click"),
      (5L, ts(1), "purchase"), (5L, ts(4), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sorted
    assert(got.toSeq === Seq(
      (1, "view", 4L),      // u1, u2, u3, u5
      (2, "click", 2L),     // u1, u5
      (3, "purchase", 2L))) // u1, u5 (u5 via the later purchase)
  }

  test("funnel: same-timestamp events are NOT strictly after (no conversion)") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts(1), "view"), (1L, ts(1), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click"))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(got === Map(1 -> 1L, 2 -> 0L))
  }

  test("retention: offset 0 equals cohort size; later offsets dedupe per day") {
    import spark.implicits._
    def d(day: Int, min: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:$min%02d:00")
    val ev = Seq(
      (1L, d(1, 0)), (1L, d(1, 30)),       // u1 joins day 1, twice that day
      (1L, d(3, 0)), (1L, d(3, 5)),        // back on day 3 (two events, one active)
      (2L, d(1, 0)),                       // u2 joins day 1, never returns
      (3L, d(2, 0)), (3L, d(2, 10))        // u3 joins day 2
    ).toDF("user_id", "ts")
    val got = EventAnalytics.retentionCohorts(ev, "user_id", "ts", 7)
      .collect().map(r =>
        (r.getDate(0).toString, r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got === Seq(
      ("2024-01-01", 0, 2L),  // u1 + u2
      ("2024-01-01", 2, 1L),  // u1 back on day 3 (offset 2), deduped
      ("2024-01-02", 0, 1L))) // u3
  }

  test("debounceStrict collapses a rapid-fire chain to one keeper; debounce does not") {
    import spark.implicits._
    // chain at 0,50,120,130 with gap 100: every consecutive step < 100
    // except 50->120 (70 < 100 too) — one unbroken burst => ONE keeper.
    // A later isolated event at 400 starts a new burst.
    val ev = Seq(
      (1L, 1L, 0L, "click"), (2L, 1L, 50L, "click"),
      (3L, 1L, 120L, "click"), (4L, 1L, 130L, "click"),
      (5L, 1L, 400L, "click")
    ).toDF("event_id", "user_id", "ts_ns", "event_type")
    val strict = EventAnalytics.debounceStrict(ev, "user_id", "ts_ns",
        "event_type", 100L).collect().map(_.getLong(0)).sorted.toSeq
    assert(strict === Seq(1L, 5L))
    // lag-debounce keeps any event >= gap from its immediate predecessor:
    // here every consecutive gap < 100 except 130->400
    val lagKept = EventAnalytics.debounce(ev, "user_id", "ts_ns",
        "event_type", 100L).collect().map(_.getLong(0)).sorted.toSeq
    assert(lagKept === Seq(1L, 5L)) // same here...
    // ...the semantics split when a chain has an internal >= gap step
    val ev2 = Seq(
      (1L, 1L, 0L, "click"), (2L, 1L, 110L, "click"), (3L, 1L, 160L, "click")
    ).toDF("event_id", "user_id", "ts_ns", "event_type")
    assert(EventAnalytics.debounce(ev2, "user_id", "ts_ns", "event_type", 100L)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    assert(EventAnalytics.debounceStrict(ev2, "user_id", "ts_ns", "event_type", 100L)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // and when the chain is unbroken but long: strict keeps 1, lag keeps 1 too;
    // the distinguishing case is gap-steps inside a burst window
    val ev3 = Seq(
      (1L, 1L, 0L, "click"), (2L, 1L, 90L, "click"), (3L, 1L, 180L, "click")
    ).toDF("event_id", "user_id", "ts_ns", "event_type")
    // each step 90 < 100: lag drops 2 and 3; strict also one burst -> keeper 1
    assert(EventAnalytics.debounceStrict(ev3, "user_id", "ts_ns", "event_type", 100L)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L))
    assert(EventAnalytics.debounce(ev3, "user_id", "ts_ns", "event_type", 100L)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L))
  }

  test("PSI: identical distributions score ~0; a shifted one crosses the alarm line") {
    import spark.implicits._
    import graft.operators.Drift
    val rnd = new scala.util.Random(11)
    val ref = (1 to 2000).map(_ => rnd.nextGaussian()).toDF("value")
    val same = (1 to 2000).map(_ => rnd.nextGaussian()).toDF("value")
    val shifted = (1 to 2000).map(_ => rnd.nextGaussian() + 1.5).toDF("value")
    val psiSame = Drift.psi(ref, same, "value")
    val psiShift = Drift.psi(ref, shifted, "value")
    assert(psiSame < 0.05, s"same-distribution PSI too high: $psiSame")
    assert(psiShift > 0.25, s"shifted PSI must alarm: $psiShift")
    // bins partition both sides completely
    val bins = Drift.psiBins(ref, shifted, "value").collect()
    assert(bins.map(_.getLong(1)).sum === 2000L)
    assert(bins.map(_.getLong(2)).sum === 2000L)
    assert(bins.map(_.getInt(0)).sorted.toSeq === (0 until 10))
  }

  test("quantileNormalize: groups inherit the reference distribution; ref maps to itself; NULLs pass through") {
    import spark.implicits._
    import graft.operators.Features
    val rnd = new scala.util.Random(29)
    // group a = reference (uniform-ish), group b = shifted+scaled, plus
    // a NULL row — after the transform b must LOOK like a
    val rows =
      (1 to 400).map(i => ("a", i.toLong, Some(rnd.nextDouble() * 100))) ++
      (1 to 300).map(i => ("b", 1000L + i, Some(rnd.nextDouble() * 30 + 500))) :+
      (("b", 9999L, None: Option[Double]))
    val df = rows.map { case (g, id, v) => (g, id, v.map(Double.box).orNull) }
      .toDF("g", "id", "v").select(col("g"), col("id"), col("v").cast("double").as("v"))
    val out = Features.quantileNormalize(df, "g", "v", refGroup = "a")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.toString.toDouble),
        Option(r.get(3)).map(_.toString.toDouble)))
    // NULL passes through with NULL q_norm
    val nullRow = out.find(_._2 == 9999L).get
    assert(nullRow._3.isEmpty && nullRow._4.isEmpty)
    // the reference group maps to itself (percent_rank hits integer
    // target ranks only approximately at duplicate-free doubles, but
    // rank r of n maps to target r*(nref-1)/(n-1)... for the ref group
    // n == nref so targets are integers and lerp is exact)
    val aRows = out.filter(r => r._1 == "a" && r._3.nonEmpty)
    aRows.foreach { case (_, id, Some(v), Some(q)) =>
      assert(math.abs(q - v) < 1e-6, s"ref row $id: $v -> $q")
    case _ => ()
    }
    // group b inherits a's distribution: compare deciles
    val aSorted = aRows.map(_._3.get).sorted
    val bNorm = out.filter(r => r._1 == "b" && r._4.nonEmpty).map(_._4.get).sorted
    (1 to 9).foreach { d =>
      val qa = aSorted(((aSorted.size - 1) * d) / 10)
      val qb = bNorm(((bNorm.size - 1) * d) / 10)
      assert(math.abs(qa - qb) < 2.0,
        s"decile $d diverges after normalization: ref $qa vs normalized $qb")
    }
    // monotonicity within b: rank order is preserved
    val bPairs = out.filter(r => r._1 == "b" && r._3.nonEmpty)
      .sortBy(_._3.get).map(_._4.get)
    assert(bPairs.zip(bPairs.tail).forall { case (x, y) => y >= x - 1e-9 })
  }

  test("conformalThreshold: exact order statistic on a hand case; empirical coverage >= 1 - alpha") {
    import graft.operators.Quantiles
    import spark.implicits._
    // n=9, alpha=0.1 -> k = ceil(10*0.9) = 9 -> the 9th smallest = max
    val nine = (1 to 9).map(_.toDouble).toDF("s")
    val r = Quantiles.conformalThreshold(nine, "s", alpha = 0.1).collect().head
    assert(r.getAs[Long]("n") === 9L && r.getAs[Long]("k") === 9L &&
      r.getAs[Double]("threshold") === 9.0)
    // n=19, alpha=0.2 -> k = ceil(20*0.8) = 16 -> 16th smallest
    val r2 = Quantiles.conformalThreshold((1 to 19).map(_.toDouble).toDF("s"),
      "s", alpha = 0.2).collect().head
    assert(r2.getAs[Long]("k") === 16L && r2.getAs[Double]("threshold") === 16.0)
    // exchangeable split: threshold from 500 calibration points covers
    // >= 88% of 500 held-out points at alpha = 0.1 (finite-sample
    // guarantee is >= 90% in EXPECTATION over splits; 2% slack for the
    // single draw)
    val rnd = new scala.util.Random(3)
    val all = Array.fill(1000)(rnd.nextGaussian())
    val (cal, test0) = all.splitAt(500)
    val thr = Quantiles.conformalThreshold(cal.toSeq.toDF("s"), "s", 0.1)
      .collect().head.getAs[Double]("threshold")
    val covered = test0.count(_ <= thr).toDouble / test0.length
    assert(covered >= 0.88, s"empirical coverage $covered at alpha=0.1")
  }

  test("theilSen: exact on a perfect line; 20% wild outliers barely bend it where OLS folds") {
    import graft.operators.Robust
    import spark.implicits._
    // perfect line y = 3x + 7: every pair slope is exactly 3
    val line = (1 to 200).map(i => (i.toLong, i.toDouble, 3.0 * i + 7))
      .toDF("id", "x", "y")
    val r = Robust.theilSen(line, "id", "x", "y").collect().head
    assert(r.getAs[Long]("n_pairs") === 100L)
    assert(r.getAs[Double]("slope") === 3.0 && r.getAs[Double]("intercept") === 7.0)
    // corrupt 20% with +1000: the slope median holds near 3 while OLS
    // (regr_slope) is dragged far off
    val dirty = (1 to 200).map { i =>
      val y = 3.0 * i + 7 + (if (i % 5 == 0) 1000.0 else 0.0)
      (i.toLong, i.toDouble, y)
    }.toDF("id", "x", "y")
    val rd = Robust.theilSen(dirty, "id", "x", "y").collect().head
    assert(math.abs(rd.getAs[Double]("slope") - 3.0) < 0.5,
      s"robust slope: ${rd.getAs[Double]("slope")}")
    val ols = dirty.selectExpr("regr_slope(y, x) AS b").collect().head.getDouble(0)
    assert(math.abs(ols - 3.0) > math.abs(rd.getAs[Double]("slope") - 3.0) * 2,
      s"OLS must be visibly worse: ols=$ols")
    // NULLs drop; duplicate x inside a pair contributes no slope but
    // the run still completes
    val withNull = Seq((1L, Some(1.0), Some(1.0)), (2L, Some(1.0), Some(2.0)),
      (3L, None, Some(3.0)), (4L, Some(2.0), Some(5.0))).toDF("id", "x", "y")
    assert(Robust.theilSen(withNull, "id", "x", "y").collect().length === 1)
  }

  test("ksScreenFdr: only the planted-shift key rejects at q=0.05; null keys report p ~ 1") {
    import graft.operators.Drift
    import spark.implicits._
    // 4 keys x 400 rows per period; key "k0" shifts +3 in the second
    // period, the rest reuse IDENTICAL samples in both periods (exactly
    // exchangeable -> D = 0, p = 1 by construction, never a random
    // near-miss that BH would legitimately reject at its 5% FDR)
    val rows = for {
      key <- Seq("k0", "k1", "k2", "k3")
      i <- 1 to 400
      period <- Seq(0, 1)
    } yield {
      val base = math.abs(key.hashCode * 31 + i) % 1000 / 100.0
      (key, period, if (key == "k0" && period == 1) base + 3.0 else base)
    }
    val df = rows.toDF("k", "period", "v")
    val out = Drift.ksScreenFdr(df, "k", "v",
        col("period") === 0, col("period") === 1, fdrQ = 0.05)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(4), r.getBoolean(6))).toMap
    assert(out("k0")._2, s"planted 3-sigma shift must reject: $out")
    assert(Seq("k1", "k2", "k3").forall(!out(_)._2),
      s"null keys must survive BH at q=0.05: $out")
    assert(out("k0")._1 < 0.001 && Seq("k1", "k2", "k3").forall(out(_)._1 > 0.01))
    // identical ref/cur on every key: nothing rejects, p = 1
    val same = df.filter(col("period") === 0)
    val none = Drift.ksScreenFdr(same.withColumn("period", lit(0))
        .unionByName(same.withColumn("period", lit(1))), "k", "v",
        col("period") === 0, col("period") === 1)
      .collect()
    assert(none.forall(r => !r.getBoolean(6) && r.getDouble(4) > 0.99))
  }

  test("rankSumScreenFdr: planted shift rejects with directional effect size; exchangeable nulls survive; U law on a hand case") {
    import graft.operators.Drift
    import spark.implicits._
    val rows = for {
      key <- Seq("k0", "k1", "k2", "k3")
      i <- 1 to 400
      period <- Seq(0, 1)
    } yield {
      val base = math.abs(key.hashCode * 31 + i) % 1000 / 100.0
      (key, period, if (key == "k0" && period == 1) base + 3.0 else base)
    }
    val out = Drift.rankSumScreenFdr(rows.toDF("k", "period", "v"), "k", "v",
        col("period") === 0, col("period") === 1, fdrQ = 0.05)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("effect_r"), r.getAs[Double]("p_value"),
         r.getAs[Boolean]("rejected"))).toMap
    assert(out("k0")._3 && out("k0")._2 < 0.001, s"shift must reject: $out")
    // cur shifted UP -> ref ranks low -> U_ref small -> effect_r negative
    assert(out("k0")._1 < -0.2, s"effect must be directional: ${out("k0")}")
    assert(Seq("k1", "k2", "k3").forall(k => !out(k)._3 && out(k)._2 > 0.9),
      s"exchangeable keys: $out")
    // hand case: ref {1,2,3} vs cur {4,5,6}: R1 = 6, U = 0, effect -1
    val hand = Seq(("a", 0, 1.0), ("a", 0, 2.0), ("a", 0, 3.0),
      ("a", 1, 4.0), ("a", 1, 5.0), ("a", 1, 6.0)).toDF("k", "period", "v")
    val h = Drift.rankSumScreenFdr(hand, "k", "v",
      col("period") === 0, col("period") === 1).collect().head
    assert(h.getAs[Double]("effect_r") === -1.0)
  }

  test("cusum: flat-at-target stays zero; sustained shift accumulates and alarms; brief spike does not") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    def series(vs: Seq[Double]) = vs.zipWithIndex
      .map { case (v, i) => (1L, i.toLong, i.toLong, v) }
      .toDF("k", "ts", "id", "v")
    def run(vs: Seq[Double]) = EventAnalytics.cusum(series(vs), Seq("k"),
      "ts", "id", "v", mu0 = 10.0, kappa = 1.0, h = 12.0, window = 64)
      .orderBy(col("ts")).collect()
    // exactly on target: both sides pinned at 0
    val flat = run(Seq.fill(30)(10.0))
    assert(flat.forall(r => r.getAs[Double]("cusum_pos") === 0.0 &&
      r.getAs[Double]("cusum_neg") === 0.0 && !r.getAs[Boolean]("alarm")))
    // +5 shift after row 10: s+ grows by (5-1)=4/row, alarms at row 14
    val shift = run(Seq.fill(10)(10.0) ++ Seq.fill(20)(15.0))
    val firstAlarm = shift.indexWhere(_.getAs[Boolean]("alarm"))
    assert(firstAlarm === 13, s"s+ = 4*(t-9) crosses 12 at the 4th shifted row")
    assert(shift.last.getAs[Double]("cusum_pos") === 4.0 * 20)
    // one spike of +100 then back: s+ jumps but decays by kappa each
    // on-target row; with h above the spike the monitor never alarms
    val spike = run(Seq.fill(10)(10.0) ++ Seq(20.0) ++ Seq.fill(10)(10.0))
    assert(spike.count(_.getAs[Boolean]("alarm")) === 0)
    assert(spike(10).getAs[Double]("cusum_pos") === 9.0)
    assert(spike(15).getAs[Double]("cusum_pos") === 4.0, "decays by kappa per row")
    // sustained NEGATIVE shift lands on the other side
    val down = run(Seq.fill(10)(10.0) ++ Seq.fill(10)(5.0))
    assert(down.last.getAs[Double]("cusum_neg") === 4.0 * 10 &&
      down.last.getAs[Double]("cusum_pos") === 0.0)
  }

  test("wasserstein1: zero on identical samples, exactly delta on a constant shift, matches a driver-side sweep") {
    import spark.implicits._
    import graft.operators.Drift
    val rnd = new scala.util.Random(23)
    val xs = (1 to 800).map(_ => math.floor(rnd.nextGaussian() * 100) / 100)
    val ref = xs.toDF("value")
    // identical samples: the ECDFs coincide everywhere
    assert(Drift.wasserstein1(ref, xs.toDF("value"), "value") === 0.0)
    // constant shift by delta moves every unit of mass exactly delta
    val delta = 0.75
    val w1Shift = Drift.wasserstein1(ref, xs.map(_ + delta).toDF("value"), "value")
    assert(math.abs(w1Shift - delta) < 1e-9, s"shift W1 $w1Shift != $delta")
    // general case: exact driver-side area sweep over the merged ECDFs
    val ys = (1 to 500).map(_ => math.floor((rnd.nextGaussian() * 150 + 40)) / 100)
    val got = Drift.wasserstein1(ref, ys.toDF("value"), "value")
    val merged = (xs ++ ys).distinct.sorted
    val want = merged.zip(merged.tail).map { case (v, nv) =>
      val fr = xs.count(_ <= v).toDouble / xs.size
      val fc = ys.count(_ <= v).toDouble / ys.size
      math.abs(fr - fc) * (nv - v)
    }.sum
    assert(math.abs(got - want) < 1e-9, s"engine $got vs sweep $want")
    // symmetry (it is a metric)
    val rev = Drift.wasserstein1(ys.toDF("value"), ref, "value")
    assert(math.abs(rev - got) < 1e-9)
    // energy distance: zero on identical samples, exact driver sweep of
    // D = sqrt(2 * sum(gap^2 * dx)), symmetric
    assert(Drift.energyDistance(ref, xs.toDF("value"), "value") === 0.0)
    val eGot = Drift.energyDistance(ref, ys.toDF("value"), "value")
    val eWant = math.sqrt(2.0 * merged.zip(merged.tail).map { case (v, nv) =>
      val fr = xs.count(_ <= v).toDouble / xs.size
      val fc = ys.count(_ <= v).toDouble / ys.size
      (fr - fc) * (fr - fc) * (nv - v)
    }.sum)
    assert(math.abs(eGot - eWant) < 1e-9, s"energy $eGot vs sweep $eWant")
    assert(math.abs(Drift.energyDistance(ys.toDF("value"), ref, "value") - eGot) < 1e-9)
  }

  test("PSI: NULLs are excluded from counts and denominators, not binned as low-decile mass") {
    import spark.implicits._
    import graft.operators.Drift
    val rnd = new scala.util.Random(17)
    val ref = (1 to 2000).map(_ => rnd.nextGaussian()).toDF("value")
    val cur = (1 to 2000).map(_ => rnd.nextGaussian()).toDF("value")
    // a NULL-heavy current window must NOT read as drift: the non-NULL
    // values follow the reference distribution exactly
    val curNulls = cur.select(col("value")).unionByName(
      (1 to 3000).map(_ => Option.empty[Double]).toDF("value"))
    val psiClean = Drift.psi(ref, cur, "value")
    val psiWithNulls = Drift.psi(ref, curNulls, "value")
    assert(math.abs(psiWithNulls - psiClean) < 1e-9,
      s"NULL rows changed PSI: $psiClean vs $psiWithNulls")
    // denominators count only non-NULL rows
    val bins = Drift.psiBins(ref, curNulls, "value").collect()
    assert(bins.map(_.getLong(2)).sum === 2000L, "NULLs leaked into bin counts")
  }

  test("JS divergence: 0 for identical mixes, ln 2 for disjoint, symmetric") {
    import spark.implicits._
    import graft.operators.Drift
    val a = (Seq.fill(300)("x") ++ Seq.fill(100)("y")).toDF("c")
    val b = (Seq.fill(600)("x") ++ Seq.fill(200)("y")).toDF("c") // same mix, 2x size
    assert(math.abs(Drift.jsDivergence(a, b, "c")) < 1e-9)
    val z = Seq.fill(100)("z").toDF("c")
    val dj = Drift.jsDivergence(a, z, "c")
    assert(math.abs(dj - math.log(2)) < 1e-3, s"disjoint JS should be ln2, got $dj")
    val mixed = (Seq.fill(100)("x") ++ Seq.fill(300)("y")).toDF("c")
    val d1 = Drift.jsDivergence(a, mixed, "c")
    val d2 = Drift.jsDivergence(mixed, a, "c")
    assert(math.abs(d1 - d2) < 1e-12, "JS must be symmetric")
    assert(d1 > 0.05 && d1 < math.log(2))
  }

  test("empty-window drift degrades to NaN, never a crash") {
    import spark.implicits._
    import graft.operators.Drift
    val ref = (1 to 100).map(_.toDouble).toDF("value")
    val empty = Seq.empty[Double].toDF("value")
    assert(Drift.psi(ref, empty, "value").isNaN, "empty current")
    assert(Drift.psi(empty, ref, "value").isNaN, "empty reference")
    val cats = Seq.fill(50)("x").toDF("c")
    val noCats = Seq.empty[String].toDF("c")
    assert(Drift.jsDivergence(cats, noCats, "c").isNaN)
    assert(Drift.jsDivergence(noCats, cats, "c").isNaN)
  }

  test("KS statistic: exact on hand-computed samples, detects shift, 0 on identity") {
    import spark.implicits._
    import graft.operators.Drift
    // hand-computable: ref {1,2,3,4}, cur {3,4,5,6}: sup gap = 1/2 at x in [2,3)...
    // ECDFs: F_ref(2)=.5 F_cur(2)=0 -> gap .5; F_ref(4)=1 F_cur(4)=.5 -> .5
    val ref = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val cur = Seq(3.0, 4.0, 5.0, 6.0).toDF("v")
    assert(math.abs(Drift.ks(ref, cur, "v") - 0.5) < 1e-12)
    // identity: identical samples -> 0 exactly (ties resolved jointly)
    assert(Drift.ks(ref, ref, "v") === 0.0)
    // a planted mean shift shows a large D on gaussians
    val rnd = new scala.util.Random(13)
    val a = (1 to 1500).map(_ => rnd.nextGaussian()).toDF("v")
    val b = (1 to 1500).map(_ => rnd.nextGaussian() + 1.0).toDF("v")
    val d = Drift.ks(a, b, "v")
    assert(d > 0.3, s"1-sigma shift must show: $d") // theoretical ~0.38
  }

  test("debounce: predecessor-distance semantics, per (user, type) key") {
    import spark.implicits._
    val ev = Seq(
      // u1/click at ns 0, 50, 120, 130: 50 dropped (gap 50 < 100),
      // 120 kept (gap 70 from the DROPPED 50? no — predecessor semantics:
      // 120 - 50 = 70 < 100 -> dropped too), 130 - 120 = 10 -> dropped
      (1L, 0L, "click"), (2L, 50L, "click"), (3L, 120L, "click"), (4L, 130L, "click"),
      // other type interleaves freely
      (5L, 60L, "view"),
      // other user unaffected
      (6L, 10L, "click")
    ).map { case (id, t, et) => (id, 1L + (if (id == 6L) 1L else 0L), t, et) }
      .map { case (id, u, t, et) => (id, if (id == 6L) 2L else 1L, t, et) }
      .toDF("event_id", "user_id", "ts_ns", "event_type")
    val kept = EventAnalytics.debounce(ev, "user_id", "ts_ns", "event_type", 100L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 5L, 6L))
  }

  test("anomalies: self-excluded baseline, cold start, zero-variance degradation") {
    import spark.implicits._
    // u1: alternating 10/12 warm-up, then a spike of 100 at t=7, then 10
    val u1 = (1 to 6).map(t => (100L + t, 1L, "m", t.toLong,
      if (t % 2 == 0) 12.0 else 10.0)) ++
      Seq((107L, 1L, "m", 7L, 100.0), (108L, 1L, "m", 8L, 10.0))
    // u2: constant series then a jump — zero baseline variance never flags
    val u2 = (1 to 6).map(t => (200L + t, 2L, "m", t.toLong, 5.0)) :+
      (207L, 2L, "m", 7L, 50.0)
    val ev = (u1 ++ u2).toDF("event_id", "user_id", "event_type", "ts_ns", "value")
    val got = EventAnalytics.anomalies(ev, Seq("user_id", "event_type"),
        "ts_ns", "value", windowNs = 100L, minN = 5, threshold = 3.0)
      .select("event_id", "baseline_n", "baseline_mean", "z", "is_anomaly")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
      .toMap

    // cold start: fewer than minN baseline rows -> NULL z, never flags
    (101L to 105L).foreach { id =>
      assert(got(id)._1 < 5 && got(id)._3.isEmpty && !got(id)._4, s"event $id")
    }
    // the spike scores against the PRE-spike stats only (self-excluded):
    // baseline mean 11 over {10,12,10,12,10,12}, sd ~1.095 -> z ~81
    val (n7, m7, z7, f7) = got(107L)
    assert(n7 === 6L && math.abs(m7.get - 11.0) < 1e-9)
    assert(z7.get > 50 && f7)
    // the row AFTER the spike sees the spike in ITS baseline (n=7,
    // mean ~23.7) and does not flag at 3 sigma
    val (n8, m8, z8, f8) = got(108L)
    assert(n8 === 7L && math.abs(m8.get - 166.0 / 7) < 1e-9 && !f8)
    assert(z8.get < 0) // below its inflated baseline mean
    // zero-variance baseline: z NULL, not flagged — even for a 10x jump
    val (n207, _, z207, f207) = got(207L)
    assert(n207 === 6L && z207.isEmpty && !f207)
  }

  test("entityTemporalSplit: no entity spans splits; embargo gap enforced") {
    import spark.implicits._
    // 40 users x 4 events spanning the cutoff and embargo window
    val ev = (1L to 40L).flatMap { u =>
      Seq((u, java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
        (u, java.sql.Timestamp.valueOf("2024-01-22 12:00:00")),   // in gap
        (u, java.sql.Timestamp.valueOf("2024-01-23 23:59:59")),   // in gap
        (u, java.sql.Timestamp.valueOf("2024-01-25 00:00:00")))
    }.toDF("user_id", "ts")
    val tagged = EventAnalytics.entityTemporalSplit(
      ev, "user_id", "ts", "2024-01-22 00:00:00", embargoDays = 2)
    // law 1: no user appears in both train and test
    val both = tagged.filter(col("split") =!= "excluded")
      .groupBy("user_id").agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(both === 0L)
    // law 2: every train event < cutoff; every test event >= cutoff+2d
    val badTrain = tagged.filter(col("split") === "train" &&
      col("ts") >= to_timestamp(lit("2024-01-22 00:00:00"))).count()
    val badTest = tagged.filter(col("split") === "test" &&
      col("ts") < to_timestamp(lit("2024-01-24 00:00:00"))).count()
    assert(badTrain === 0L && badTest === 0L)
    // law 3: all in-gap events excluded; both splits non-empty at 80/20
    val splits = tagged.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.getOrElse("train", 0L) > 0 && splits.getOrElse("test", 0L) > 0)
    assert(splits("excluded") >= 80L) // the 2x40 in-gap events at minimum
  }

  test("attributionLastTouch: lookback boundary, conversion-only history, ties") {
    import spark.implicits._
    val ev = Seq(
      // u1: click at t=100, purchase at t=100+86400e9 (exactly lookback):
      // attributed (<= boundary)
      (1L, 100L, "click", 1L),
      (1L, 100L + 86400L * 1000000000L, "purchase", 2L),
      // u2: touch 1ns beyond lookback: unattributed
      (2L, 100L, "view", 3L),
      (2L, 101L + 86400L * 1000000000L, "purchase", 4L),
      // u3: only a previous PURCHASE before this purchase: unattributed
      (3L, 100L, "purchase", 5L), (3L, 200L, "purchase", 6L),
      // u4: two touches at the SAME ts: higher event_id wins (last in order)
      (4L, 100L, "view", 7L), (4L, 100L, "click", 8L),
      (4L, 200L, "purchase", 9L)
    ).toDF("user_id", "ts_ns", "event_type", "event_id")
    val got = EventAnalytics.attributionLastTouch(ev, "user_id", "ts_ns",
        "event_type", "event_id", "purchase", 86400L * 1000000000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("click" -> 2L, "unattributed" -> 3L))
  }

  test("tokenBudget: oversubscribed domain capped at rate 1, epochs > 1") {
    import spark.implicits._
    val df = Seq.fill(10)(("big", 100)) ++ Seq.fill(2)(("small", 10)) ++
      Seq(("unweighted", 50))
    val out = graft.operators.Sampling.tokenBudget(
        df.toDF("dom", "toks"), "dom", "toks",
        weights = Map("big" -> 1.0, "small" -> 1.0), budget = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1).toList
    // big: 1000 avail, 500 target -> rate 0.5, epochs 0.5
    // small: 20 avail, 500 target -> rate capped 1.0, epochs 25
    // unweighted: weight 0 -> target 0
    assert(out === List(
      ("big", 1000L, 500L, 0.5, 0.5),
      ("small", 20L, 500L, 1.0, 25.0),
      ("unweighted", 50L, 0L, 0.0, 0.0)))
  }

  test("percentileBlend: NULL signals unscorable; zero-weight signal inert; monotone") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double, java.lang.Double)](
      (1L, 10.0, 1.0), (2L, 20.0, 2.0), (3L, 30.0, 3.0), (4L, 40.0, 4.0),
      (5L, 50.0, 5.0), (6L, 60.0, 6.0), (7L, 70.0, 7.0), (8L, 80.0, 8.0),
      (9L, 90.0, 9.0), (10L, 100.0, 10.0), (11L, null, 5.0)
    ).toDF("id", "a", "b")
    val out = graft.operators.Features.percentileBlend(
        df, Seq("a", "b"), Seq(1.0, 1.0))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(r.fieldIndex("q_blend"))).map(_.asInstanceOf[Double])).toMap
    assert(out(11L).isEmpty, "NULL signal must yield NULL blend")
    // perfectly correlated signals: blend strictly increases with rank
    val ranked = (1L to 10L).map(out(_).get)
    assert(ranked.zip(ranked.tail).forall { case (x, y) => x < y })
    assert(ranked.head === 0.0 && ranked.last === 1.0)
    // zero weight: signal b alone decides nothing when its weight is 0
    val w0 = graft.operators.Features.percentileBlend(
        df.filter(col("a").isNotNull), Seq("a", "b"), Seq(1.0, 0.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("q_blend"))).toMap
    val wa = graft.operators.Features.percentileBlend(
        df.filter(col("a").isNotNull), Seq("a"), Seq(1.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("q_blend"))).toMap
    assert(w0 === wa)
  }

  test("interArrival sketch fallback past maxExactTypes tracks exact within rank error") {
    import spark.implicits._
    // gaps: 1..2000 seconds, one user per series to make gaps exact
    val ev = (0 until 2000).flatMap { i =>
      Seq((i.toLong, 0L, "a", 100L), (i.toLong, (1L + i) * 1000000000L, "a", 101L))
    }.toDF("user_id", "ts_ns", "event_type", "event_id")
      .select(col("user_id"), col("ts_ns"), col("event_type"))
    def gaps(maxExactTypes: Int) = EventAnalytics.interArrival(
        ev, "user_id", "ts_ns", "event_type", maxExactTypes = maxExactTypes)
      .head()
    val (e50, e90) = { val r = gaps(100000); (r.getDouble(2), r.getDouble(3)) }
    // one type > 0 allowed: the driver guard takes the sketch fallback
    val (a50, a90) = { val r = gaps(0); (r.getDouble(2), r.getDouble(3)) }
    // accuracy=10000 over n=2000 -> the sketch lands within a few order stats
    assert(math.abs(a50 - e50) <= 3.0, s"p50: $e50 vs $a50")
    assert(math.abs(a90 - e90) <= 3.0, s"p90: $e90 vs $a90")
  }

  test("categoricalMi: independence gives 0 bits; identity gives H(X)") {
    import spark.implicits._
    // independent: every (x, y) combination equally likely -> MI = 0
    val ind = (for { x <- Seq("a", "b"); y <- Seq("p", "q"); _ <- 1 to 5 }
      yield (x, y)).toDF("x", "y")
    val r1 = graft.operators.InfoTheory.categoricalMi(ind, "x", "y").head()
    assert(math.abs(r1.getDouble(0)) < 1e-9)       // mi_bits = 0
    assert(math.abs(r1.getDouble(1) - 1.0) < 1e-9) // h_x = 1 bit
    assert(math.abs(r1.getDouble(3) - 1.0) < 1e-9) // h_y_given_x = h_y
    // deterministic copy: y = f(x) -> MI = H(X), H(Y|X) = 0
    val cp = Seq(("a", "p"), ("a", "p"), ("b", "q"), ("b", "q"))
      .toDF("x", "y")
    val r2 = graft.operators.InfoTheory.categoricalMi(cp, "x", "y").head()
    assert(math.abs(r2.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(r2.getDouble(3)) < 1e-9)
  }

  test("dpNoisedCounts: noise bounded by b*ln(1/1e-12); deterministic") {
    import spark.implicits._
    val df = (1 to 100).map(i => s"k${i % 7}").toDF("k")
    val eps = 0.5
    val out = graft.operators.Pii.dpNoisedCounts(df, "k", epsilon = eps, seed = 42L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val bound = (1.0 / eps) * math.log(1e12)
    out.foreach { case (_, n, ndp) => assert(math.abs(ndp - n) <= bound) }
    // reproducible: second run with the same seed returns identical noise
    val out2 = graft.operators.Pii.dpNoisedCounts(df, "k", epsilon = eps, seed = 42L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.sortBy(_._1).toSeq === out2.sortBy(_._1).toSeq)
  }

  test("exact-default quantile consumers degrade like percentile() on empty/all-NULL input — never crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, java.lang.Double)].toDF("id", "value")
    val allNull = Seq((1L, null: java.lang.Double), (2L, null: java.lang.Double))
      .toDF("id", "value")
    // winsorize: rows flow with NULL bounds (percentile's NULL), no throw
    assert(graft.operators.Robust.winsorize(empty, "value").count() === 0L)
    val wn = graft.operators.Robust.winsorize(allNull, "value").select("lo", "hi", "__w").collect()
    assert(wn.length === 2 && wn.forall(r => r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2)))
    // madScore: NULL med/mad/z
    val mn = graft.operators.Robust.madScore(allNull, "value").select("med", "mad", "robust_z").collect()
    assert(mn.length === 2 && mn.forall(r => (0 to 2).forall(r.isNullAt)))
    // discretize: NULL bins
    val dn = graft.operators.Features.discretize(allNull, "value", 4)
      .select("bin").collect()
    assert(dn.length === 2 && dn.forall(_.isNullAt(0)))
    assert(graft.operators.Features.discretize(empty, "value", 4).count() === 0L)
    // psiBins: empty reference must not throw
    val cur = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("id", "value")
    graft.operators.Drift.psiBins(empty, cur, "value", 4).collect()
  }

  test("interArrival exact default: NULL event types and non-string type columns survive") {
    import spark.implicits._
    // NULL type group: its own row, percentiles over its own gaps
    val ev = Seq(
      (1L, 0L, "a"), (1L, 1000000000L, "a"), (1L, 3000000000L, "a"),
      (2L, 0L, null: String), (2L, 5000000000L, null: String),
      (2L, 6000000000L, null: String))
      .toDF("user_id", "ts_ns", "event_type")
    val rows = EventAnalytics.interArrival(ev, "user_id", "ts_ns", "event_type")
      .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getDouble(2))).toSet
    // "a": gaps 1s, 2s -> p50 = 1.5; NULL: gaps 5s, 1s -> p50 = 3.0
    assert(rows === Set((Some("a"), 2L, 1.5), (None, 2L, 3.0)))
    // integer-typed type column: Spark's cast, not JVM toString, keys the lookup
    val evI = Seq((1L, 0L, 7), (1L, 1000000000L, 7), (1L, 3000000000L, 7))
      .toDF("user_id", "ts_ns", "etype")
    val ri = EventAnalytics.interArrival(evI, "user_id", "ts_ns", "etype").head()
    assert(ri.getInt(0) === 7 && ri.getDouble(2) === 1.5)
    // ADVERSARIAL: a string type value equal to the null group's key
    // letter must stay its own population (the encoding is injective,
    // not a collidable sentinel)
    val evC = Seq(
      (1L, 0L, "n"), (1L, 1000000000L, "n"), (1L, 3000000000L, "n"),
      (2L, 0L, null: String), (2L, 5000000000L, null: String),
      (2L, 6000000000L, null: String))
      .toDF("user_id", "ts_ns", "event_type")
    val rc = EventAnalytics.interArrival(evC, "user_id", "ts_ns", "event_type")
      .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getDouble(2))).toSet
    assert(rc === Set((Some("n"), 2L, 1.5), (None, 2L, 3.0)),
      "null group merged with a literal value")
  }

  test("holtSmooth: constant fixed point, linear trend capture, driver-fold replay") {
    import spark.implicits._
    import graft.operators.EventAnalytics
    // constant series: l stays at c, b stays 0, forecast = c
    val const = (1 to 20).map(i => (1L, i.toLong, i.toLong, 5.0)).toDF("k", "ts", "id", "v")
    val rc = EventAnalytics.holtSmooth(const, Seq("k"), "ts", "id", "v",
      alpha = 0.3, beta = 0.2, window = 16).orderBy(col("ts")).collect()
    assert(rc.forall(r => r.getAs[Double]("level") === 5.0 &&
      r.getAs[Double]("trend") === 0.0 && r.getAs[Double]("forecast") === 5.0))
    // linear series x_t = 2t: trend converges toward slope 2 and the
    // one-step forecast beats the EWMA-style lag (forecast > level)
    val lin = (1 to 40).map(i => (1L, i.toLong, i.toLong, 2.0 * i)).toDF("k", "ts", "id", "v")
    val rl = EventAnalytics.holtSmooth(lin, Seq("k"), "ts", "id", "v",
      alpha = 0.3, beta = 0.2, window = 16).orderBy(col("ts")).collect()
    val last = rl.last
    assert(last.getAs[Double]("trend") > 1.0 && last.getAs[Double]("trend") < 3.0,
      s"trend should approach slope 2: ${last.getAs[Double]("trend")}")
    assert(last.getAs[Double]("forecast") > last.getAs[Double]("level"))
    // exact replay of the window fold in driver scala
    def fold(xs: Seq[Double]): (Double, Double) =
      xs.tail.foldLeft((xs.head, 0.0)) { case ((l, b), x) =>
        val nl = 0.3 * x + 0.7 * (l + b); (nl, 0.2 * (nl - l) + 0.8 * b)
      }
    val xs = (1 to 10).map(i => 2.0 * i)
    val expect = fold(xs.takeRight(16))
    val r10 = rl(9)
    assert(math.abs(r10.getAs[Double]("level") -
      BigDecimal(expect._1).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble) < 1e-9)
  }

  test("ewmaSmooth: constant invariance, leading edge, step response, driver replay") {
    import spark.implicits._
    val alpha = 0.25
    def run(vals: Seq[Double]): Seq[Double] = {
      val df = vals.zipWithIndex
        .map { case (v, i) => (1L, i.toLong, i.toLong, v) }
        .toDF("k", "t", "id", "v")
      EventAnalytics.ewmaSmooth(df, Seq("k"), "t", "id", "v",
          alpha = alpha, window = 4)
        .orderBy(col("t")).collect().map(_.getAs[Double]("ewma")).toSeq
    }
    // a constant series smooths to itself at every prefix length
    assert(run(Seq.fill(8)(3.5)).forall(e => math.abs(e - 3.5) < 1e-9))
    // leading edge: the first row IS its own average
    assert(math.abs(run(Seq(7.0, 0.0, 0.0)).head - 7.0) < 1e-9)
    // step response: after a 0 -> 1 step the smoothed value rises
    // monotonically toward the new level, never overshooting
    val step = run(Seq(0, 0, 0, 0, 1, 1, 1, 1).map(_.toDouble)).drop(4)
    assert(step.zip(step.tail).forall { case (a, b) => b >= a - 1e-12 }, step.toString)
    assert(step.forall(e => e <= 1.0 + 1e-12))
    // exact driver-side replay of the truncated weighted mean
    val vals = Seq(2.0, -1.0, 4.0, 0.5, 3.25, -2.0)
    val got = run(vals)
    vals.indices.foreach { t =>
      val frame = vals.slice(math.max(0, t - 3), t + 1)
      val n = frame.size
      val num = frame.zipWithIndex
        .map { case (x, k) => x * math.pow(1 - alpha, n - (k + 1)) }.sum
      val den = (1 - math.pow(1 - alpha, n)) / alpha
      val want = BigDecimal(num / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(t) - want) < 1e-12, s"t=$t: ${got(t)} vs $want")
    }
  }

  test("seasonal decomposition: planted trend+seasonal recovers; components sum back; edges honest NULL") {
    import spark.implicits._
    // planted series: linear trend 2t + weekly pattern, ZERO noise ->
    // in the interior the centered 7-MA reproduces the trend exactly
    // (the seasonal pattern sums to 0 over any full period) and the
    // residual is ~0
    val pat = Array(5.0, -3.0, 1.0, 4.0, -2.0, -6.0, 1.0) // sums to 0
    val rows = (0 until 28).map(t => ("s", t, 2.0 * t + pat(t % 7)))
    val df = rows.toDF("k", "t", "v")
    val got = graft.operators.EventAnalytics
      .seasonalDecompose(df, Seq("k"), "t", "v", period = 7)
      .orderBy(col("t")).collect()
    assert(got.length === 28)
    // edges: first/last 3 rows carry NULL trend + residual
    for (i <- Seq(0, 1, 2, 25, 26, 27)) {
      assert(got(i).isNullAt(3) && got(i).isNullAt(5), s"edge $i must be NULL")
    }
    for (i <- 3 until 25) {
      val r = got(i)
      assert(math.abs(r.getDouble(3) - 2.0 * i) < 1e-6, s"trend at $i: ${r.getDouble(3)}")
      assert(math.abs(r.getDouble(4) - pat(i % 7)) < 1e-6, s"seasonal at $i")
      assert(math.abs(r.getDouble(5)) < 1e-6, s"residual at $i: ${r.getDouble(5)}")
      // exact additivity: value == trend + seasonal + residual (6dp)
      assert(math.abs(r.getDouble(2) -
        (r.getDouble(3) + r.getDouble(4) + r.getDouble(5))) < 5e-6)
    }
    // even/low periods rejected (the symmetric MA needs odd)
    intercept[IllegalArgumentException] {
      graft.operators.EventAnalytics.seasonalDecompose(df, Seq("k"), "t", "v", 6)
    }
  }

  test("ACF/Ljung-Box: planted period spikes at its lag; hash-noise stays white; short/constant series drop") {
    import spark.implicits._
    // period-7 sawtooth: ACF must spike at lag 7; the md5-derived
    // series is white noise: all |r| small, Q below the chi2 critical
    val rows =
      (0 until 70).map(t => ("saw", t, (t % 7).toDouble)) ++
      (0 until 70).map { t =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"acf:$t".getBytes("UTF-8"))
        ("white", t, ((md(0) & 0xff) * 256 + (md(1) & 0xff)).toDouble)
      } ++
      (0 until 5).map(t => ("short", t, t.toDouble)) ++
      (0 until 30).map(t => ("const", t, 1.0))
    val df = rows.toDF("k", "t", "v")
    val got = graft.operators.EventAnalytics
      .autocorrelation(df, Seq("k"), "t", "v", maxLag = 10)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    val keys = got.keys.map(_._1).toSet
    assert(keys === Set("saw", "white"), s"short/constant series must drop: $keys")
    // the sawtooth: lag-7 ACF near 1, lag 1..3 well below it
    val r7 = got(("saw", 7))._1
    assert(r7 > 0.8, s"period-7 spike: $r7")
    assert((1 to 3).forall(k => got(("saw", k))._1 < r7 - 0.5))
    // Ljung-Box at lag 10: sawtooth huge, white modest (chi2_10 0.999
    // critical ~ 29.6)
    assert(got(("saw", 10))._2 > 100.0)
    assert(got(("white", 10))._2 < 29.6,
      s"white noise Q10 = ${got(("white", 10))._2}")
    // Q is cumulative: non-decreasing in lag
    for (k <- 2 to 10; key <- Seq("saw", "white"))
      assert(got((key, k))._2 >= got((key, k - 1))._2 - 1e-9)
  }

  test("autocorrelation: NULL values drop from the sample — n, mean, and variance agree") {
    import spark.implicits._
    // nulls interspersed in a 4-point series; the estimator must equal
    // the hand-computed biased ACF of the OBSERVED series 1,2,3,4
    // (mean 2.5, n*var_pop = 5): r1 = (0.75-0.25+0.75)/5 = 0.25,
    // r2 = (-0.75-0.75)/5 = -0.3 — a null-counting n would deflate both
    val df = Seq(("a", 1L, Some(1.0)), ("a", 2L, None), ("a", 3L, Some(2.0)),
      ("a", 4L, Some(3.0)), ("a", 5L, None), ("a", 6L, Some(4.0)))
      .toDF("k", "t", "v")
    val got = graft.operators.EventAnalytics
      .autocorrelation(df, Seq("k"), "t", "v", maxLag = 2)
      .collect().map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(1)._1 === 4L, "n counts only observed values")
    assert(got(1)._2 === 0.25, s"r1: ${got(1)._2}")
    assert(got(2)._2 === -0.3, s"r2: ${got(2)._2}")
  }

  test("Anderson-Darling: same-split small, shift large, tail-sensitive vs KS, monotone-invariant, symmetric") {
    import spark.implicits._
    import graft.operators.Drift
    def ad(df: org.apache.spark.sql.DataFrame): Double =
      Drift.andersonDarling(df, "v", col("g") === 0, col("g") === 1)
        .head().getDouble(2)
    // deterministic "continuous" base sample via md5 folds
    def noise(i: Int, salt: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$i".getBytes("UTF-8"))
      ((md(0) & 0xff) * 256 + (md(1) & 0xff)).toDouble / 65536.0
    }
    val base = (0 until 2000).map(i => noise(i, "ad"))
    // (a) even/odd split of one sample: A2 stays near its H0 mean (k-1=1)
    val sameSplit = base.zipWithIndex.map { case (v, i) => (i % 2, v) }.toDF("g", "v")
    val aSame = ad(sameSplit)
    assert(aSame < 4.0, s"same-distribution split A2 = $aSame")
    // (b) location shift: A2 large
    val shifted = (base.map(v => (0, v)) ++ base.map(v => (1, v + 0.3))).toDF("g", "v")
    assert(ad(shifted) > 50.0)
    // (c) pure TAIL contamination: 2.5% of sample 1 pushed far right --
    // AD's relative gain over its H0 level exceeds KS's (tail weighting)
    val tail = (base.map(v => (0, v)) ++
      base.zipWithIndex.map { case (v, i) =>
        (1, if (i % 40 == 0) v + 50.0 else v) }).toDF("g", "v")
    val aTail = ad(tail)
    val ksTail = Drift.ks(tail.filter(col("g") === 0), tail.filter(col("g") === 1), "v")
    // AD rejects (H0 mean is 1, sd ~0.7 for k=2: 2.0 is past the a=0.05
    // standardized critical) while the SAME contamination leaves KS
    // under ITS a=0.05 critical 1.358*sqrt(2/n) = 0.043 — the
    // tail-weighting claim, quantified
    assert(aTail > 2.0, s"tail contamination must push AD past critical: $aTail")
    assert(ksTail < 1.358 * math.sqrt(2.0 / 2000),
      s"KS stays under its own critical on a 2.5% tail shift: $ksTail")
    // (d) rank statistic: invariant under a monotone transform
    val mono = shifted.withColumn("v", exp(col("v")))
    assert(math.abs(ad(mono) - ad(shifted)) < 1e-6)
    // (e) symmetric in the two samples
    val swapped = shifted.withColumn("g", lit(1) - col("g"))
    assert(math.abs(ad(swapped) - ad(shifted)) < 1e-6)
    // (f) all-identical values degenerate to 0
    val const = (0 until 100).map(i => (i % 2, 5.0)).toDF("g", "v")
    assert(ad(const) === 0.0)
  }
}
