package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between a reference window and a
  * current window of the same feature — the check that tells a training
  * pipeline its incoming data no longer looks like what the model was
  * built on.
  *
  * PSI (population stability index), the industry-standard scorecard
  * metric: bin by the REFERENCE distribution's exact quantiles (equal
  * expected mass — drift shows up as mass imbalance, not bin-edge
  * artifacts), then PSI = Σ (p_cur − p_ref) · ln(p_cur / p_ref) with
  * ε-smoothing for empty bins. Rule of thumb: < 0.1 stable, 0.1–0.25
  * drifting, > 0.25 broken.
  *
  * Plan shape: the reference's quantile edges come from ONE exact
  * funnel-free quantile call and bind as literals; both sides bucket
  * map-side against them and pay one small (nBins-row) aggregation
  * each. Neither side ever joins the other's rows.
  */
object Drift {

  /** per-bin breakdown: (bin, n_ref, n_cur, p_ref, p_cur, psi_term).
    * The edges come from [[Quantiles.exactQuantiles]] — funnel-free
    * sketch-then-refine, bit-identical to `percentile()` (the oracle
    * arithmetic) without its value→count map whose final merge funnels
    * through one reducer at distinct-cardinality cost — and bind as
    * literals. */
  def psiBins(ref: DataFrame, cur: DataFrame, valueCol: String,
      nBins: Int = 10, eps: Double = 1e-4): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    // NULLs are excluded on BOTH sides (counts and denominators) to
    // match percentile(), which ignores them when placing the edges —
    // otherwise a NULL-heavy current window reads as mass piled into
    // the lowest decile. Track NULL rate separately if it matters.
    val refNn = ref.filter(col(valueCol).isNotNull)
    val curNn = cur.filter(col(valueCol).isNotNull)
    val qs = (1 until nBins).map(_.toDouble / nBins)
    // an empty/all-NULL reference has no edges (percentile()'s NULL
    // edges): every row bins to 0, never a crash
    val es = Quantiles.exactQuantilesOpt(refNn, valueCol, qs)
      .getOrElse(Array.empty[Double])
    val r = binCounts(refNn, valueCol, es).withColumnRenamed("n", "n_ref")
    val c = binCounts(curNn, valueCol, es).withColumnRenamed("n", "n_cur")
    val nr = refNn.count().toDouble
    val nc = curNn.count().toDouble
    r.join(c, Seq("bin"), "full")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .withColumn("p_ref", pShare(col("n_ref"), nr, eps))
      .withColumn("p_cur", pShare(col("n_cur"), nc, eps))
      .withColumn("psi_term",
        (col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")))
  }

  /** `(bin, n)`: the PSI bin rule — bin = number of literal `edges`
    * strictly below the value (0 with no edges), map-side — then one
    * nBins-row count. NULL values are dropped. Shared by [[psiBins]]
    * and the streaming maintainer, so both bin alike. */
  private[graft] def binCounts(df: DataFrame, valueCol: String,
      edges: Seq[Double]): DataFrame = {
    val b = edges.map(e => when(col(valueCol) > e, 1).otherwise(0))
      .reduceOption[Column](_ + _).getOrElse(lit(0))
    df.filter(col(valueCol).isNotNull)
      .select(b.as("bin")).groupBy(col("bin")).agg(count(lit(1)).as("n"))
  }

  /** bin share with an empty-side guard: an EMPTY reference or current
    * window has no distribution to compare (and `n / 0` is an ANSI-mode
    * runtime error) — its shares and psi_terms go NULL instead of
    * failing the job */
  private def pShare(nCol: Column, n: Double, eps: Double): Column =
    if (n > 0) greatest(nCol / n, lit(eps)) else lit(null).cast("double")

  /** the scalar PSI; NaN when either window is empty (psiBins degrades
    * its terms to NULL then — summing NULLs must not crash the scalar) */
  def psi(ref: DataFrame, cur: DataFrame, valueCol: String,
      nBins: Int = 10, eps: Double = 1e-4): Double = {
    val r = psiBins(ref, cur, valueCol, nBins, eps)
      .agg(sum(col("psi_term"))).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** Categorical drift via Jensen-Shannon divergence — PSI's companion
    * for label/source/language columns where quantile bins make no
    * sense. Per category c: js_term = ½·p_ref·ln(p_ref/m) +
    * ½·p_cur·ln(p_cur/m) with m = (p_ref+p_cur)/2 and ε-smoothing; the
    * sum is bounded [0, ln 2], symmetric, and never infinite — the
    * properties that make JS the standard choice over raw KL for
    * monitoring. Two tiny per-side aggregations + one full join on the
    * category key; the rows of one side never meet the other's. */
  def jsBins(ref: DataFrame, cur: DataFrame, catCol: String,
      eps: Double = 1e-6): DataFrame = {
    def shares(df: DataFrame, side: String): DataFrame =
      df.groupBy(col(catCol).cast("string").as("category"))
        .agg(count(lit(1)).as(s"n_$side"))
    val nr = ref.count().toDouble
    val nc = cur.count().toDouble
    shares(ref, "ref").join(shares(cur, "cur"), Seq("category"), "full")
      .select(col("category"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .withColumn("p_ref", pShare(col("n_ref"), nr, eps))
      .withColumn("p_cur", pShare(col("n_cur"), nc, eps))
      .withColumn("__m", (col("p_ref") + col("p_cur")) / 2)
      .withColumn("js_term",
        (col("p_ref") * log(col("p_ref") / col("__m")) +
          col("p_cur") * log(col("p_cur") / col("__m"))) / 2)
      .drop("__m")
  }

  /** the scalar JS divergence (nats, in [0, ln 2]); NaN when either
    * window is empty (same degradation as [[psi]]) */
  def jsDivergence(ref: DataFrame, cur: DataFrame, catCol: String,
      eps: Double = 1e-6): Double = {
    val r = jsBins(ref, cur, catCol, eps).agg(sum(col("js_term"))).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** Exact two-sample Kolmogorov-Smirnov statistic — the bin-free
    * member of the drift family: D = sup_x |F_ref(x) − F_cur(x)|,
    * sensitive to ANY distributional difference, no binning choices.
    *
    * Distributed shape (the zipWithIndex/[[RowNumber]] pattern — no
    * global-ORDER-BY window anywhere):
    *   1. tagged union, then ONE hash aggregation collapses ties to a
    *      single row per distinct value carrying both sides' mass —
    *      the ECDF step at a tied value applies jointly, exactly
    *   2. range-repartition by value (partition id order == value
    *      order) and sort within partitions
    *   3. per-partition (ref, cur) totals — one row per range
    *      partition, a bounded driver artifact — prefix-summed on the
    *      driver into start offsets (no window at all, so no
    *      single-partition WindowExec exists anywhere in the operator)
    *   4. broadcast the offsets back; each partition's running sums +
    *      its prefix offset give both exact ECDFs in parallel; the sup
    *      is one max aggregation.
    * The collapsed frame is persisted between the totals pass and the
    * gap pass — AQE may otherwise coalesce the range shuffle
    * differently across the two jobs and shift partition ids. The
    * persisted intermediate travels WITH the result (no hidden
    * thread-local state, so two in-flight gap frames on one thread
    * each keep their own release handle): call [[KsResult.release]]
    * once the gaps have been consumed; [[ks]] does so itself. */
  def ksGaps(ref: DataFrame, cur: DataFrame, valueCol: String,
      nRef: Double, nCur: Double): KsResult = {
    import org.apache.spark.sql.expressions.Window
    val u = ref.select(col(valueCol).cast("double").as("__ks_v"),
        lit(1L).as("__r"), lit(0L).as("__c"))
      .unionByName(cur.select(col(valueCol).cast("double").as("__ks_v"),
        lit(0L).as("__r"), lit(1L).as("__c")))
    val perV = u.groupBy(col("__ks_v"))
      .agg(sum(col("__r")).as("__r"), sum(col("__c")).as("__c"))
    val parts = perV.repartitionByRange(col("__ks_v"))
      .sortWithinPartitions(col("__ks_v"))
      .withColumn("__ks_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = parts.groupBy(col("__ks_pid"))
      .agg(sum(col("__r")).as("__tr"), sum(col("__c")).as("__tc"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offRows = {
      var or = 0L; var oc = 0L
      totals.map { case (pid, tr, tc) =>
        val row = (pid, or, oc); or += tr; oc += tc; row
      }.toSeq
    }
    val spark0 = ref.sparkSession
    import spark0.implicits._
    val offs = offRows.toDF("__ks_pid", "__or", "__oc")
    val w = Window.partitionBy(col("__ks_pid")).orderBy(col("__ks_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gaps = parts.join(broadcast(offs), "__ks_pid")
      .select(col("__ks_pid"), col("__ks_v").as("value"),
        ((col("__or") + sum(col("__r")).over(w)) / nRef).as("f_ref"),
        ((col("__oc") + sum(col("__c")).over(w)) / nCur).as("f_cur"))
      .withColumn("gap", abs(col("f_ref") - col("f_cur")))
    KsResult(gaps, parts)
  }

  /** a [[ksGaps]] result: the gap frame plus its own persisted
    * intermediate, released explicitly per call */
  final case class KsResult(gaps: DataFrame, intermediate: DataFrame) {
    /** unpersist this call's cached collapsed frame */
    def release(): Unit = intermediate.unpersist(false)
  }

  /** the scalar D = max over [[ksGaps]] */
  def ks(ref: DataFrame, cur: DataFrame, valueCol: String): Double = {
    val nr = ref.count().toDouble
    val nc = cur.count().toDouble
    require(nr > 0 && nc > 0, "both samples must be non-empty")
    val r = ksGaps(ref, cur, valueCol, nr, nc)
    try r.gaps.agg(max(col("gap"))).head().getDouble(0)
    finally r.release()
  }

  /** Two-sample Anderson-Darling statistic, tie-adjusted (the A²_akN of
    * Scholz & Stephens 1987, eq. 7, k = 2) — the TAIL-sensitive member
    * of the drift family: KS reacts to the single largest CDF gap
    * (which lives near the median, where CDFs move fastest), while AD
    * integrates the squared gap weighted by 1/(F(1−F)) — small tail
    * discrepancies, exactly where contamination and truncation hide,
    * dominate the statistic. Rank-based, so it is invariant to any
    * monotone transform of the values (spec law).
    *
    * The statistic is the oracle-checked output; significance uses the
    * paper's critical table (under H₀, A² ≈ 1 = k−1; the α=0.05
    * standardized critical is ~1.96σ above it) — the exact variance
    * normalization needs O(N²) harmonic double sums the paper itself
    * tabulates, so behavior is spec-gated rather than p-valued.
    * Degenerate tie blocks covering the whole pooled sample have a
    * zero AD weight denominator and are skipped (A² = 0 when every
    * value is identical — nothing to discriminate).
    *
    * Scale shape: ONE tagged pass collapses to (value, n1, n2) tie
    * counts; the cumulative mid-rank terms use the funnel-free
    * range-partition + driver-prefix-offset machinery (the aucExact /
    * ksGaps pattern — no unpartitioned window anywhere); one final agg.
    * Returns one row (n_ref, n_cur, a2), 6dp. */
  def andersonDarling(df: DataFrame, valueCol: String, refPred: Column,
      curPred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = df.filter(refPred || curPred)
      .select(col(valueCol).cast("double").as("v"),
        refPred.cast("long").as("__r"), curPred.cast("long").as("__c"))
      .filter(col("v").isNotNull)
    val perV = u.groupBy(col("v"))
      .agg(sum(col("__r")).as("n1"), sum(col("__c")).as("n2"))
      .withColumn("l", col("n1") + col("n2"))
    val parts = perV.repartitionByRange(col("v"))
      .sortWithinPartitions(col("v"))
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val totals = parts.groupBy(col("__pid"))
        .agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"),
          sum(col("l")).as("tl"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      var o1 = 0L; var o2 = 0L; var ol = 0L
      val offRows = totals.map { case (pid, t1, t2, tl) =>
        val row = (pid, o1, o2, ol); o1 += t1; o2 += t2; ol += tl; row
      }.toSeq
      val (m1, m2, nn) = (o1, o2, ol)
      require(m1 > 0 && m2 > 0, "both samples must be non-empty")
      val spark0 = df.sparkSession
      import spark0.implicits._
      val offs = offRows.toDF("__pid", "o1", "o2", "ol")
      val wc = Window.partitionBy(col("__pid")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nD = nn.toDouble
      val ba = (col("ol") + sum(col("l")).over(wc)).cast("double") -
        col("l").cast("double") / 2.0
      val ma1 = (col("o1") + sum(col("n1")).over(wc)).cast("double") -
        col("n1").cast("double") / 2.0
      val ma2 = (col("o2") + sum(col("n2")).over(wc)).cast("double") -
        col("n2").cast("double") / 2.0
      val row = parts.join(broadcast(offs), Seq("__pid"))
        .withColumn("__ba", ba).withColumn("__ma1", ma1).withColumn("__ma2", ma2)
        .withColumn("__den",
          col("__ba") * (lit(nD) - col("__ba")) -
            lit(nD) * col("l").cast("double") / 4.0)
        .agg(
          sum(when(col("__den") > 0,
            col("l").cast("double") / nD *
              pow(lit(nD) * col("__ma1") - lit(m1.toDouble) * col("__ba"), 2) /
              col("__den"))).as("s1"),
          sum(when(col("__den") > 0,
            col("l").cast("double") / nD *
              pow(lit(nD) * col("__ma2") - lit(m2.toDouble) * col("__ba"), 2) /
              col("__den"))).as("s2"))
        .head()
      val a2 =
        if (row.isNullAt(0) || row.isNullAt(1)) 0.0
        else (nD - 1.0) / nD *
          (row.getDouble(0) / m1 + row.getDouble(1) / m2)
      Seq((m1, m2,
        BigDecimal(a2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("n_ref", "n_cur", "a2")
    } finally { parts.unpersist(false); () }
  }

  /** Multiple-testing-controlled drift screen: per-key two-sample KS
    * with asymptotic p-values and Benjamini-Hochberg (1995) FDR
    * selection — the answer to "we monitor HUNDREDS of features; which
    * ones actually drifted" that per-feature thresholds can't give
    * without either drowning in false alarms (no correction) or
    * missing everything (Bonferroni). Keys = monitored features,
    * bounded by contract.
    *
    * p-values use the standard asymptotic Kolmogorov distribution with
    * the small-sample effective-N correction λ = (√Ne + 0.12 +
    * 0.11/√Ne)·D, Ne = n·m/(n+m), Q(λ) = 2Σ_{j≥1}(−1)^{j−1}e^{−2j²λ²}
    * truncated at 20 terms (|term 21| < e^{−882λ²} — below double
    * noise for any λ the screen could reject). The series only
    * converges usefully for λ bounded away from 0 (at λ=0 twenty
    * alternating unit terms cancel to 0, not the true Q=1), so
    * λ < 0.3 short-circuits to p = 1 — the true Q(0.3) ≈ 0.9999, and
    * no such key could ever reject. BH then ranks the m p-values and
    * rejects every key up to the largest rank r with p_(r) ≤ r·q/m.
    *
    * Scale shape: ONE tagged pass collapses to (key, value) partial
    * counts (map-side combined); the cumulative-ECDF window runs per
    * key (keys are the parallel unit — the m-row frames after the
    * per-key max are bounded); the BH windows rank m rows. The series
    * sum is an in-plan HOF over sequence(1,20) — both engines fold the
    * same 20 terms in the same order. FULL oracle. */
  def ksScreenFdr(df: DataFrame, keyCol: String, valueCol: String,
      refPred: Column, curPred: Column, fdrQ: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fdrQ > 0 && fdrQ < 1, "fdrQ must be in (0,1)")
    val u = df.filter(refPred || curPred)
      .select(col(keyCol).as("k"), col(valueCol).cast("double").as("v"),
        refPred.cast("long").as("__r"), curPred.cast("long").as("__c"))
    val perV = u.groupBy(col("k"), col("v"))
      .agg(sum(col("__r")).as("r"), sum(col("__c")).as("c"))
    val tot = perV.groupBy(col("k"))
      .agg(sum(col("r")).as("n_ref"), sum(col("c")).as("n_cur"))
    val wc = Window.partitionBy(col("k")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = perV.join(broadcast(tot), "k")
      .withColumn("gap", abs(
        sum(col("r")).over(wc) / col("n_ref") -
        sum(col("c")).over(wc) / col("n_cur")))
      .groupBy(col("k"))
      .agg(max(col("gap")).as("d"),
        max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"))
    val ne = col("n_ref").cast("double") * col("n_cur") /
      (col("n_ref") + col("n_cur"))
    val lam = (sqrt(ne) + lit(0.12) + lit(0.11) / sqrt(ne)) * col("d")
    val series = aggregate(sequence(lit(1), lit(20)), lit(0.0),
      (acc, j) => acc +
        pow(lit(-1.0), (j - 1).cast("double")) *
        exp(lit(-2.0) * (j * j).cast("double") * col("__lam") * col("__lam")))
    // a key present in only ONE period has no two-sample comparison: its
    // ECDF gap divides by zero and the NULL p-value would sort NULLS
    // FIRST into BH rank 1 (a rejected=true row with NULL statistics)
    // while inflating m for every real key — drop such keys before the
    // screen, mirroring rankSumScreenFdr's degenerate-variance guard
    val withP = d.filter(col("n_ref") > 0 && col("n_cur") > 0)
      .withColumn("__lam", lam)
      .withColumn("p_value",
        when(col("__lam") < 0.3, 1.0)
          .otherwise(least(lit(1.0), greatest(lit(0.0), lit(2.0) * series))))
    bhSelect(withP, "k", fdrQ)
      .select(col("k").as(keyCol), col("n_ref"), col("n_cur"),
        round(col("d"), 6).as("d"), round(col("p_value"), 6).as("p_value"),
        col("rank"), col("rejected"))
  }

  /** Benjamini-Hochberg step-up selection over a bounded frame carrying
    * `p_value`: adds `rank` (by p ascending, key tiebreak) and
    * `rejected` (rank ≤ the largest r with p_(r) ≤ r·q/m). The
    * whole-frame windows run on the m-row screen frame (monitored keys
    * — bounded by contract), THROUGH [[BoundedWindow]] so the bound is
    * a runtime assert and the plan never carries an unpartitioned
    * window (PlanSpec's global gate). */
  private def bhSelect(df: DataFrame, keyCol: String, fdrQ: Double): DataFrame =
    BoundedWindow.over(df, 1L << 20) { (d, w) =>
      val whole = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      d.withColumn("rank",
          row_number().over(w.orderBy(col("p_value"), col(keyCol))).cast("long"))
        .withColumn("__m", count(lit(1)).over(whole))
        .withColumn("__pass",
          col("p_value") <= col("rank").cast("double") * fdrQ / col("__m"))
        .withColumn("__cut", max(when(col("__pass"), col("rank"))).over(whole))
        .withColumn("rejected", coalesce(col("rank") <= col("__cut"), lit(false)))
        .drop("__m", "__pass", "__cut")
    }

  /** Mann-Whitney U rank-sum drift screen (Mann & Whitney 1947) with
    * the same per-key + BH-FDR posture as [[ksScreenFdr]] — the
    * LOCATION-shift-sensitive companion: KS reacts to any CDF gap
    * (shape, variance, tails); the rank-sum statistic concentrates its
    * power on "did the values move up or down", and ships the effect
    * size KS lacks (rank-biserial r = 2U/(n₁n₂) − 1 ∈ [−1,1], sign =
    * direction of the shift).
    *
    * Mid-ranks come from ONE per-key cumulative window over the (key,
    * value) count frame (avg rank of a tie block = cum − (t+1)/2 + 1);
    * the tie-corrected normal approximation gives z, and Φ uses the
    * Abramowitz-Stegun 7.1.26 erf polynomial — identical arithmetic in
    * both engines (|ε| < 1.5e-7, far below the 6dp compare). FULL
    * oracle. */
  def rankSumScreenFdr(df: DataFrame, keyCol: String, valueCol: String,
      refPred: Column, curPred: Column, fdrQ: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fdrQ > 0 && fdrQ < 1, "fdrQ must be in (0,1)")
    val u = df.filter(refPred || curPred)
      .select(col(keyCol).as("k"), col(valueCol).cast("double").as("v"),
        refPred.cast("long").as("__r"), curPred.cast("long").as("__c"))
    val perV = u.groupBy(col("k"), col("v"))
      .agg(sum(col("__r")).as("r"), sum(col("__c")).as("c"))
      .withColumn("t", col("r") + col("c"))
    val wc = Window.partitionBy(col("k")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // mid-rank of every row in this tie block: cum − (t−1)/2
    val midRank = sum(col("t")).over(wc).cast("double") -
      (col("t").cast("double") - 1.0) / 2.0
    val perKey = perV
      .withColumn("__mr", midRank)
      .groupBy(col("k"))
      .agg(sum(col("r")).as("n_ref"), sum(col("c")).as("n_cur"),
        sum(col("__mr") * col("r")).as("__rsum"),
        sum(col("t") * col("t") * col("t") - col("t")).as("__ties"))
    val n1 = col("n_ref").cast("double")
    val n2 = col("n_cur").cast("double")
    val n = n1 + n2
    val uStat = col("__rsum") - n1 * (n1 + 1.0) / 2.0
    val varU = n1 * n2 / 12.0 *
      ((n + 1.0) - col("__ties").cast("double") / (n * (n - 1.0)))
    val z = (col("__u") - n1 * n2 / 2.0) / sqrt(col("__var"))
    // Φ(|z|) via A&S 7.1.26: erf(x) = 1 − poly(t)·e^{−x²}, t = 1/(1+px)
    val x = abs(col("__z")) / math.sqrt(2.0)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = (lit(0.254829592) * t - lit(0.284496736) * t * t +
      lit(1.421413741) * t * t * t - lit(1.453152027) * t * t * t * t +
      lit(1.061405429) * t * t * t * t * t)
    val erfAbs = lit(1.0) - poly * exp(-x * x)
    val p = lit(1.0) - erfAbs // 2·(1 − Φ(|z|)) = 1 − erf(|z|/√2)
    val withP = perKey
      .withColumn("__u", uStat)
      .withColumn("__var", varU)
      .withColumn("__z", when(col("__var") > 0, z).otherwise(0.0))
      .withColumn("effect_r",
        round(lit(2.0) * col("__u") / (n1 * n2) - 1.0, 6))
      .withColumn("p_value",
        when(col("__var") > 0, least(lit(1.0), greatest(lit(0.0), p)))
          .otherwise(1.0))
    bhSelect(withP, "k", fdrQ)
      .select(col("k").as(keyCol), col("n_ref"), col("n_cur"),
        round(col("__z"), 6).as("z"), col("effect_r"),
        round(col("p_value"), 6).as("p_value"),
        col("rank"), col("rejected"))
  }

  /** Exact 1-D Wasserstein-1 (earth mover's) distance — the drift
    * metric that, unlike KS's max gap or binned PSI/JS, measures HOW
    * FAR mass moved, in the value's own units: W1 = ∫|F_ref − F_cur|dx,
    * the area between the two empirical CDFs. A constant shift of δ
    * scores exactly δ (spec-gated); a tail excursion KS barely sees
    * accumulates here.
    *
    * Built on [[ksGaps]]'s distributed merged-ECDF frame: between
    * consecutive merged values the gap is constant, so
    * W1 = Σ gap(x_i) · (x_{i+1} − x_i). The lead() stays PARTITIONED by
    * the range-partition pid (the KS plan law); the one value each
    * partition cannot see — its successor across the boundary — comes
    * from a driver-collected (pid → first value) table, bounded by the
    * partition count exactly like ksGaps' own offsets. The global last
    * value needs no term: both ECDFs are 1 there, gap 0. */
  def wasserstein1(ref: DataFrame, cur: DataFrame, valueCol: String): Double =
    ecdfAreaIntegral(ref, cur, valueCol)(gap => gap)

  /** Energy distance (Székely & Rizzo 2004) between the two samples —
    * in 1-D the defining form D² = 2E|X−Y| − E|X−X'| − E|Y−Y'|
    * collapses to D² = 2∫(F_ref − F_cur)² dx, the L2 area between the
    * ECDFs (vs [[wasserstein1]]'s L1): same exact integral machinery,
    * squared integrand, sqrt at the end. More outlier-robust than W1
    * (a far excursion of tiny mass contributes gap², not gap·distance)
    * while still metrizing convergence in distribution. */
  def energyDistance(ref: DataFrame, cur: DataFrame, valueCol: String): Double =
    math.sqrt(2.0 * ecdfAreaIntegral(ref, cur, valueCol)(gap => gap * gap))

  /** Shared exact ∫ integrand(|F_ref − F_cur|) dx over [[ksGaps]]'s
    * distributed merged-ECDF frame: between consecutive merged values
    * the gap is constant, so the integral is Σ integrand(gap)·Δx. The
    * lead() stays PARTITIONED by the range-partition pid (the KS plan
    * law); each partition's one cross-boundary successor comes from a
    * driver-collected (pid → first value) table bounded by the
    * partition count — exactly like ksGaps' own offsets. The global
    * last value needs no term: both ECDFs are 1 there, gap 0. */
  private def ecdfAreaIntegral(ref: DataFrame, cur: DataFrame,
      valueCol: String)(integrand: Column => Column): Double = {
    import org.apache.spark.sql.expressions.Window
    val nr = ref.count().toDouble
    val nc = cur.count().toDouble
    require(nr > 0 && nc > 0, "both samples must be non-empty")
    val r = ksGaps(ref, cur, valueCol, nr, nc)
    try {
      val spark0 = ref.sparkSession
      import spark0.implicits._
      val firsts = r.gaps.groupBy(col("__ks_pid"))
        .agg(min(col("value")).as("__fv"))
        .collect().map(x => (x.getInt(0), x.getDouble(1))).sortBy(_._1)
      val nextFirst = firsts.zip(firsts.drop(1))
        .map { case ((pid, _), (_, nf)) => (pid, nf) }.toSeq
      val nf = if (nextFirst.isEmpty)
        Seq.empty[(Int, Double)].toDF("__ks_pid", "__nf")
      else nextFirst.toDF("__ks_pid", "__nf")
      val w = Window.partitionBy(col("__ks_pid")).orderBy(col("value"))
      r.gaps.join(broadcast(nf), Seq("__ks_pid"), "left")
        .withColumn("__next",
          coalesce(lead(col("value"), 1).over(w), col("__nf")))
        .filter(col("__next").isNotNull)
        .agg(coalesce(sum(integrand(col("gap")) *
          (col("__next") - col("value"))), lit(0.0)))
        .head().getDouble(0)
    } finally r.release()
  }

  /** Bucket-over-bucket PSI timeline: for every bucket (day, hour,
    * ingest batch, …) the PSI of its value distribution against the
    * PREVIOUS bucket's — the "which day did the feed change" monitor,
    * where [[psi]] answers only "did it change vs one fixed reference".
    * Output per bucket (first bucket has no predecessor and is absent):
    * `(bucket, prev_bucket, n_ref, n_cur, psi)`.
    *
    * Plan shape: ONE grouped percentile aggregate computes every
    * bucket's decile edges (the only data-sized aggregation); the
    * predecessor pairing is a lag over the BOUNDED bucket frame
    * ([[BoundedWindow]], ≤ maxBuckets); rows then bin map-side against
    * the broadcast pair table — twice, once as each pair's current side
    * (own rows vs predecessor edges) and once as its reference side
    * (predecessor rows vs their own edges, exact tie behavior instead of
    * the assumed-uniform shortcut) — each a (bucket, bin) hash agg.
    * Rows never join rows. */
  def psiTimeline(df: DataFrame, bucketCol: String, valueCol: String,
      nBins: Int = 10, eps: Double = 1e-4,
      maxBuckets: Long = 100000): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    val nn = df.filter(col(valueCol).isNotNull)
      .select(col(bucketCol).as("bucket"), col(valueCol).cast("double").as("__v"))
    val qs = (1 until nBins).map(_.toDouble / nBins)
    // per-bucket edges: ONE grouped aggregate. Exact per-bucket state
    // parallelizes across buckets (each value→count map is bounded by
    // ITS bucket's distinct values) and stays lazy, with no per-bucket
    // driver memory. If a single hot bucket's value set outgrows a
    // reducer, [[Quantiles.exactQuantilesByKey]] is the bit-identical
    // funnel-free swap.
    val qArr = qs.mkString("array(", ", ", ")")
    val edges = nn.groupBy(col("bucket"))
      .agg(expr(s"percentile(__v, $qArr)").as("edges"),
        count(lit(1)).as("n"))
    val paired = BoundedWindow.over(edges, maxBuckets) { (d, w) =>
      val byBucket = w.orderBy(col("bucket"))
      d.withColumn("prev_bucket", lag(col("bucket"), 1).over(byBucket))
        .withColumn("prev_edges", lag(col("edges"), 1).over(byBucket))
        .withColumn("n_ref", lag(col("n"), 1).over(byBucket))
    }.filter(col("prev_bucket").isNotNull)
      .select(col("bucket"), col("prev_bucket"), col("prev_edges"),
        col("n").as("n_cur"), col("n_ref"))
    def binAgg(joinKey: Column, side: String): DataFrame =
      nn.join(broadcast(paired.select(col("bucket").as("__target"),
          joinKey.as("__rows_from"), col("prev_edges"))),
          col("bucket") === col("__rows_from"))
        .select(col("__target"),
          size(filter(col("prev_edges"), e => col("__v") > e)).as("bin"))
        .groupBy(col("__target"), col("bin"))
        .agg(count(lit(1)).as(s"n_${side}_bin"))
    val curB = binAgg(col("bucket"), "cur")
    val refB = binAgg(col("prev_bucket"), "ref")
    curB.join(refB, Seq("__target", "bin"), "full")
      .select(col("__target"), col("bin"),
        coalesce(col("n_cur_bin"), lit(0L)).as("ncb"),
        coalesce(col("n_ref_bin"), lit(0L)).as("nrb"))
      .join(broadcast(paired), col("__target") === col("bucket"))
      .withColumn("p_cur", greatest(col("ncb") / col("n_cur"), lit(eps)))
      .withColumn("p_ref", greatest(col("nrb") / col("n_ref"), lit(eps)))
      .groupBy(col("bucket"), col("prev_bucket"), col("n_ref"), col("n_cur"))
      .agg(round(sum((col("p_cur") - col("p_ref")) *
        log(col("p_cur") / col("p_ref"))), 6).as("psi"))
  }

  /** Bucket-over-bucket JS timeline — the categorical sibling of
    * [[psiTimeline]] (WHICH day did the label/source/event-type MIX
    * change): per bucket, the Jensen-Shannon divergence of its category
    * shares against the previous bucket's. Output per bucket with a
    * predecessor: `(bucket, prev_bucket, n_ref, n_cur, js)`.
    *
    * Plan shape: ONE (bucket, category) hash aggregate does all the
    * data-sized work; totals, predecessor pairing (bounded-frame lag),
    * the share full-join and the JS sum all run on bucket×category-
    * sized frames. Same ε-smoothing and term formula as [[jsBins]]. */
  def jsTimeline(df: DataFrame, bucketCol: String, catCol: String,
      eps: Double = 1e-6, maxBuckets: Long = 100000): DataFrame =
    jsTimelineFromCounts(df
      .select(col(bucketCol).as("bucket"),
        col(catCol).cast("string").as("category"))
      .groupBy(col("bucket"), col("category"))
      .agg(count(lit(1)).as("n")), eps, maxBuckets)

  /** [[jsTimeline]] over a pre-aggregated `(bucket, category, n)` count
    * frame — counts are algebraic, so partial counts from micro-batches
    * (the streaming maintainer's LSM segments) sum to the same input. */
  def jsTimelineFromCounts(counts0: DataFrame, eps: Double = 1e-6,
      maxBuckets: Long = 100000): DataFrame = {
    val counts = counts0.groupBy(col("bucket"), col("category"))
      .agg(sum(col("n")).as("n"))
    val totals = counts.groupBy(col("bucket")).agg(sum(col("n")).as("tot"))
    val paired = BoundedWindow.over(totals, maxBuckets) { (d, w) =>
      val byBucket = w.orderBy(col("bucket"))
      d.withColumn("prev_bucket", lag(col("bucket"), 1).over(byBucket))
        .withColumn("n_ref", lag(col("tot"), 1).over(byBucket))
    }.filter(col("prev_bucket").isNotNull)
      .select(col("bucket"), col("prev_bucket"),
        col("tot").as("n_cur"), col("n_ref"))
    val curS = counts.join(paired.select(col("bucket")), "bucket")
      .select(col("bucket"), col("category"), col("n").as("nc"))
    val refS = counts.join(
        paired.select(col("bucket").as("__target"),
          col("prev_bucket").as("bucket")), "bucket")
      .select(col("__target").as("bucket"), col("category"), col("n").as("nr"))
    curS.join(refS, Seq("bucket", "category"), "full")
      .select(col("bucket"), col("category"),
        coalesce(col("nc"), lit(0L)).as("nc"),
        coalesce(col("nr"), lit(0L)).as("nr"))
      .join(paired, "bucket")
      .withColumn("p_cur", greatest(col("nc") / col("n_cur"), lit(eps)))
      .withColumn("p_ref", greatest(col("nr") / col("n_ref"), lit(eps)))
      .withColumn("__m", (col("p_ref") + col("p_cur")) / 2)
      .withColumn("__t",
        (col("p_ref") * log(col("p_ref") / col("__m")) +
          col("p_cur") * log(col("p_cur") / col("__m"))) / 2)
      .groupBy(col("bucket"), col("prev_bucket"), col("n_ref"), col("n_cur"))
      .agg(round(sum(col("__t")), 6).as("js"))
  }

  /** Per-group PSI: WHICH segment drifted, not just whether the whole
    * feed did — each group's current distribution scores against that
    * group's OWN reference deciles. Output per group present on both
    * sides: `(group, n_ref, n_cur, psi)`.
    *
    * Plan shape: the reference pays ONE grouped percentile aggregate
    * (edges + counts per group); both sides then bin map-side
    * against the broadcast group-edge table (group-cardinality rows) and
    * pay one (group, bin) hash agg each. Rows never join rows — the
    * [[psiBins]] posture with a group key. */
  def psiBinsByGroup(ref: DataFrame, cur: DataFrame, valueCol: String,
      groupCol: String, nBins: Int = 10, eps: Double = 1e-4): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    def nn(df: DataFrame) = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("group"), col(valueCol).cast("double").as("__v"))
    val qs = (1 until nBins).map(_.toDouble / nBins)
    // per-group reference edges: ONE grouped aggregate (the
    // [[psiTimeline]] posture — exact maps parallelize across groups;
    // exactQuantilesByKey is the exact-at-any-skew swap)
    val qArr = qs.mkString("array(", ", ", ")")
    val edges = nn(ref).groupBy(col("group"))
      .agg(expr(s"percentile(__v, $qArr)").as("__edges"),
        count(lit(1)).as("n_ref"))
    val curTot = nn(cur).groupBy(col("group")).agg(count(lit(1)).as("n_cur"))
    def binAgg(df: DataFrame, side: String): DataFrame =
      df.join(broadcast(edges.select(col("group"), col("__edges"))), "group")
        .select(col("group"),
          size(filter(col("__edges"), e => col("__v") > e)).as("bin"))
        .groupBy(col("group"), col("bin"))
        .agg(count(lit(1)).as(s"n_${side}_bin"))
    binAgg(nn(ref), "ref").join(binAgg(nn(cur), "cur"), Seq("group", "bin"), "full")
      .select(col("group"), col("bin"),
        coalesce(col("n_ref_bin"), lit(0L)).as("nrb"),
        coalesce(col("n_cur_bin"), lit(0L)).as("ncb"))
      .join(broadcast(edges.select(col("group"), col("n_ref"))), "group")
      .join(broadcast(curTot), "group")
      .withColumn("p_ref", greatest(col("nrb") / col("n_ref"), lit(eps)))
      .withColumn("p_cur", greatest(col("ncb") / col("n_cur"), lit(eps)))
      .groupBy(col("group"), col("n_ref"), col("n_cur"))
      .agg(round(sum((col("p_cur") - col("p_ref")) *
        log(col("p_cur") / col("p_ref"))), 6).as("psi"))
  }

  /** Embedding-space drift between two snapshots: the rebuild trigger
    * for [[AnnIndex]] ("centroids drift only under distribution shift,
    * so periodic rebuilds bracket many cheap absorbs" — this is the
    * monitor that says WHEN). One row: `(n_ref, n_cur, centroid_cosine,
    * centroid_shift, norm_ref, norm_cur)` — cosine between the two mean
    * vectors (direction drift), L2 distance between them (magnitude),
    * and each mean's own norm (a collapsed-embedding symptom: norms near
    * 0 mean the population has no dominant direction).
    *
    * Plan shape: each side is ONE Summarizer.mean aggregate (fixed
    * d-double buffer, map-side combine); everything after runs on two
    * 1-row frames. */
  def embeddingDrift(ref: DataFrame, cur: DataFrame,
      vecCol: String): DataFrame = {
    import org.apache.spark.ml.stat.Summarizer
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    def side(df: DataFrame, s: String): DataFrame =
      df.select(array_to_vector(col(vecCol).cast("array<double>")).as("__v"))
        .agg(Summarizer.mean(col("__v")).as("__m"), count(lit(1)).as(s"n_$s"))
        .select(vector_to_array(col("__m")).as(s"m_$s"), col(s"n_$s"))
    side(ref, "ref").crossJoin(side(cur, "cur"))
      .select(col("n_ref"), col("n_cur"),
        round(graft.functions.gf.cosine_similarity(col("m_ref"), col("m_cur")), 6)
          .as("centroid_cosine"),
        round(graft.functions.gf.l2_norm(col("m_ref"), col("m_cur")), 6)
          .as("centroid_shift"),
        round(graft.functions.gf.l2_norm(col("m_ref")), 6).as("norm_ref"),
        round(graft.functions.gf.l2_norm(col("m_cur")), 6).as("norm_cur"))
  }

  /** Welch's unequal-variance t statistic (Welch 1947) — the parametric
    * mean-shift complement to the distribution-shape tests above (KS /
    * AD / rank-sum detect ANY distributional change; Welch answers the
    * narrower production question "did the MEAN move, given unequal
    * variances", with the Welch–Satterthwaite effective dof):
    *   t = (x̄_a − x̄_b) / √(s²_a/n_a + s²_b/n_b),
    *   dof = (s²_a/n_a + s²_b/n_b)² /
    *         ((s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1)).
    * `bigShift` flags |t| above the 3.29 two-sided z ≈ 0.001 level (at
    * production sample sizes t is effectively normal; the repo policy
    * of exact-arithmetic statistics + a threshold flag, not a p-value
    * needing the incomplete beta — the [[andersonDarling]] posture).
    *
    * Scale shape: ONE conditional aggregate computes both sides' n,
    * mean, and sample variance in a single pass; everything after is
    * 1-row arithmetic. Returns (n_a, n_b, mean_a, mean_b, t, dof,
    * big_shift), 6dp. FULL oracle (avg/var_samp replay in SQL). */
  def welchT(df: DataFrame, valueCol: String, aPred: Column,
      bPred: Column, zFlag: Double = 3.29): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && (aPred || bPred))
    val agg = base.agg(
      count(when(aPred, 1)).as("n_a"),
      count(when(bPred, 1)).as("n_b"),
      avg(when(aPred, v)).as("__ma"),
      avg(when(bPred, v)).as("__mb"),
      var_samp(when(aPred, v)).as("__va"),
      var_samp(when(bPred, v)).as("__vb"))
    val sa = col("__va") / col("n_a")
    val sb = col("__vb") / col("n_b")
    // zero pooled variance (both sides constant) leaves t undefined —
    // 0/0 is NaN, and Spark sorts NaN above every number, so an
    // unguarded abs(t) > z would flag a FALSE drift on perfectly
    // unchanged data; the degenerate posture is NULL, never NaN
    agg.select(col("n_a"), col("n_b"),
        round(col("__ma"), 6).as("mean_a"),
        round(col("__mb"), 6).as("mean_b"),
        when(sa + sb > 0,
          (col("__ma") - col("__mb")) / sqrt(sa + sb)).as("__t"),
        when(sa + sb > 0,
          (sa + sb) * (sa + sb) /
            (sa * sa / (col("n_a") - 1) + sb * sb / (col("n_b") - 1))).as("__dof"))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        round(col("__t"), 6).as("t"),
        round(col("__dof"), 6).as("dof"),
        (abs(col("__t")) > zFlag).as("big_shift"))
  }
}
