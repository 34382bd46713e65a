package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Ordered-event analytics over a (user, timestamp, type) stream: funnel
  * conversion and cohort retention — the two queries every product/event
  * warehouse runs daily, expressed so each step is a plain hash
  * equi-join or aggregation (no per-user collect_list, no UDAF walking
  * event arrays).
  *
  * Scale notes (100 TB of events):
  *  - funnel: step k is ONE equi-join on the user key between the raw
  *    events of that step's type (filtered at the scan by a pushed
  *    predicate) and the previous step's (user, ts) frame — which only
  *    SHRINKS as k grows. Never a per-user sort, never an array build.
  *  - retention: two hash shuffles (first-seen agg + the cohort/offset
  *    distinct-count), both on the user key; the events->firstSeen join
  *    is a plain equi-join AQE can co-locate.
  */
object EventAnalytics {

  /** Ordered funnel: for `steps` = (s1, s2, ... sk), a user converts to
    * stage k iff they performed sk STRICTLY AFTER their stage-(k-1)
    * conversion time, where the conversion time is the EARLIEST such
    * valid occurrence (the standard "first touch, strictly ordered"
    * funnel definition). Returns one row per stage:
    * (stage_idx, stage, n_users).
    *
    * Strictly-after matters: a user who purchases before ever viewing
    * does not count as a view→purchase conversion. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val base = events.select(col(userCol).as("u"), col(tsCol).as("t"),
      col(typeCol).as("et"))
    // stage frames: (u, t_k) — each strictly smaller than the last
    val stageFrames = steps.zipWithIndex.foldLeft(List.empty[DataFrame]) {
      case (acc, (step, i)) =>
        val stepEvents = base.filter(col("et") === step)
        val frame = acc match {
          case Nil =>
            stepEvents.groupBy(col("u")).agg(min(col("t")).as("t"))
          case prev :: _ =>
            stepEvents
              .join(prev.select(col("u"), col("t").as("__pt")), "u")
              .filter(col("t") > col("__pt"))
              .groupBy(col("u")).agg(min(col("t")).as("t"))
        }
        frame :: acc
    }.reverse
    stageFrames.zip(steps).zipWithIndex.map { case ((f, s), i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage_idx"), lit(s).as("stage"),
          col("n_users"))
    }.reduce(_.union(_))
  }

  /** Cohort retention: users cohort by the DAY of their first event;
    * (cohort_day, day_offset) counts the cohort's users active exactly
    * `day_offset` days after joining, for offsets 0..maxOffsetDays.
    * Offset 0 is the cohort size (everyone is active on their first
    * day). Returns (cohort_day, day_offset, n_active). */
  def retentionCohorts(events: DataFrame, userCol: String, tsCol: String,
      maxOffsetDays: Int): DataFrame = {
    require(maxOffsetDays >= 0, "maxOffsetDays must be >= 0")
    val base = events.select(col(userCol).as("u"),
      to_date(col(tsCol)).as("d"))
    val firstSeen = base.groupBy(col("u")).agg(min(col("d")).as("cohort_day"))
    base.join(firstSeen, "u")
      .withColumn("day_offset", datediff(col("d"), col("cohort_day")))
      .filter(col("day_offset") <= maxOffsetDays)
      .select(col("u"), col("cohort_day"), col("day_offset")).distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Burst-collapse debounce: keep only the FIRST event of each
    * gap-burst — a burst lasts while consecutive same-(user,type)
    * events keep arriving within `gapNs` of the PREVIOUS one (session
    * semantics: followers extend the burst), and ends after a quiet
    * gap. [[debounce]]'s chain-aware sibling: there, a rapid chain
    * yields one keeper per >= gap step; here, an arbitrarily long
    * rapid-fire chain collapses to exactly its first event.
    * Gaps-and-islands over one lag window — same shuffle shape, fully
    * oracle-expressible. */
  def debounceStrict(events: DataFrame, userCol: String, tsNsCol: String,
      typeCol: String, gapNs: Long): DataFrame = {
    require(gapNs > 0, "gapNs must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col(tsNsCol))
    events
      .withColumn("__prev", lag(col(tsNsCol), 1).over(w))
      .withColumn("__ni", when(col("__prev").isNull ||
        col(tsNsCol) - col("__prev") >= gapNs, 1).otherwise(0))
      .withColumn("__isl", sum(col("__ni")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__first", row_number().over(
        Window.partitionBy(col(userCol), col(typeCol), col("__isl"))
          .orderBy(col(tsNsCol))))
      .filter(col("__first") === 1)
      .drop("__prev", "__ni", "__isl", "__first")
  }

  /** Trailing time-window rolling aggregate: for every event, the
    * sum/count of `valueCol` over the SAME KEY's events in the trailing
    * `windowNs` (inclusive of the current row) — the feature every
    * fraud/recommendation pipeline computes ("spend in the last 24h").
    * RANGE frame over the numeric time column: one window shuffle on
    * the key, no self-join, no explode of the window contents. */
  def rollingWindow(events: DataFrame, keyCol: String, tsNsCol: String,
      valueCol: String, windowNs: Long): DataFrame = {
    require(windowNs > 0, "windowNs must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsNsCol))
      .rangeBetween(-(windowNs - 1), 0)
    events
      .withColumn("rolling_sum", sum(col(valueCol)).over(w))
      .withColumn("rolling_n", count(lit(1)).over(w))
  }

  /** Daily active / new / returning users — the product headline
    * metrics. Two hash shuffles: the (user, day) distinct, then the
    * per-user first-seen agg; the classification join is user-keyed
    * and AQE co-locates it with the distinct's partitioning. Never a
    * window, never a calendar cross join. */
  def activeUsers(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val byDay = events
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("day"))
      .distinct()
    val firstSeen = byDay.groupBy(col("__u")).agg(min(col("day")).as("__first"))
    byDay.join(firstSeen, "__u")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("__first") === col("day"), 1L).otherwise(0L)).as("new_users"))
      .withColumn("returning_users", col("dau") - col("new_users"))
  }

  /** Per-series linear trend: OLS slope, intercept and R² of value
    * over time for each key — the "is this metric drifting" primitive
    * (the regression counterpart of [[graft.operators.Drift]]'s
    * distribution tests). regr_* aggregates are algebraic co-moment
    * sums: ONE map-side-combined hash agg, no window, no sort. Time
    * enters in `tUnitNs` units so slopes are human-readable
    * (per-hour/per-day), not per-nanosecond. */
  def trend(events: DataFrame, keyCols: Seq[String], tsNsCol: String,
      valueCol: String, tUnitNs: Long = 3600L * 1000000000L): DataFrame = {
    require(tUnitNs > 0, "tUnitNs must be positive")
    val t = col(tsNsCol).cast("double") / lit(tUnitNs.toDouble)
    events
      .select(keyCols.map(col) :+ t.as("__t") :+ col(valueCol).as("__v"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        expr("regr_slope(__v, __t)").as("slope"),
        expr("regr_intercept(__v, __t)").as("intercept"),
        expr("regr_r2(__v, __t)").as("r2"))
  }

  /** Top-k common event paths: the `steps`-long ordered journeys users
    * actually take ("view > click > purchase"), ranked by frequency —
    * the sequence-mining sibling of [[transitionMatrix]] (which only
    * sees adjacent pairs). Deterministic sequences via the id
    * tie-break; a user's trailing events shorter than `steps` emit
    * nothing. One per-user window (lead chain — no array build), one
    * hash-agg, and the rank lowers to TakeOrderedAndProject: the
    * path-count frame is at most |types|^steps rows regardless of
    * corpus size. */
  def topPaths(events: DataFrame, userCol: String, tsNsCol: String,
      typeCol: String, idCol: String, steps: Int = 3,
      k: Int = 20): DataFrame = {
    require(steps >= 2, "a path needs at least 2 steps")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsNsCol), col(idCol))
    val base = events.select(col(userCol), col(tsNsCol), col(idCol),
      col(typeCol).as("__s0"))
    val withLeads = (1 until steps).foldLeft(base) { (d, i) =>
      d.withColumn(s"__s$i", lead(col("__s0"), i).over(w))
    }
    withLeads
      .filter((1 until steps).map(i => col(s"__s$i").isNotNull).reduce(_ && _))
      .select(concat_ws(" > ", (0 until steps).map(i => col(s"__s$i")): _*)
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(k)
  }

  /** Trailing z-score anomaly detection: every event is scored against
    * its OWN key's baseline — mean/stddev of `valueCol` over the
    * trailing `windowNs` EXCLUDING the current row (so an outlier never
    * dilutes its own baseline). Events with fewer than `minN` baseline
    * observations, or a degenerate (zero/NULL) stddev, score NULL and
    * never flag — a cold-start series cannot alarm. Returns the input
    * annotated with (baseline_n, baseline_mean, z, is_anomaly).
    *
    * One RANGE window per key — no self-join, no window-content explode;
    * partitioning by the fine-grained key (user, type) keeps per-task
    * state bounded at 100 TB where partitioning by type alone would
    * funnel a hot event type through one task. */
  def anomalies(events: DataFrame, keyCols: Seq[String], tsNsCol: String,
      valueCol: String, windowNs: Long, minN: Int = 5,
      threshold: Double = 3.0): DataFrame = {
    require(windowNs > 0, "windowNs must be positive")
    require(minN >= 2, "minN must be >= 2 (stddev needs two points)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsNsCol))
      .rangeBetween(-windowNs, -1)
    val scored = events
      .withColumn("baseline_n", count(col(valueCol)).over(w))
      .withColumn("baseline_mean", avg(col(valueCol)).over(w))
      .withColumn("__sd", stddev_samp(col(valueCol)).over(w))
      .withColumn("z",
        when(col("baseline_n") >= minN && col("__sd") > 0,
          (col(valueCol) - col("baseline_mean")) / col("__sd")))
    scored
      .withColumn("is_anomaly", coalesce(abs(col("z")) > threshold, lit(false)))
      .drop("__sd")
  }

  /** Windowed exponentially-weighted moving average — the standard
    * trend smoother / drift baseline over per-key event series:
    *   ewma_t = Σ_{j=0..n−1} (1−α)^j · x_{t−j}  /  Σ_{j=0..n−1} (1−α)^j
    * over the trailing `window` observations (n = rows actually in the
    * frame, so the leading edge normalizes correctly instead of
    * underweighting). The TRUNCATED form, not the infinite recursion:
    * the recursive e_t needs (1−α)^{−t} rescaling to express in a
    * window frame, which overflows doubles on long series — the
    * truncated sum keeps every power bounded by `window`, and with
    * (1−α)^window ≈ 0 the two agree to float precision anyway.
    *
    * Plan shape: ONE ordered window per key collecting the trailing
    * frame (bounded at `window` values), then the weighted sum is
    * map-side array math — no self-join, engine-replayable (list
    * window + index transform in SQL). Ties on the timestamp break on
    * `tieCol` so frame contents are engine-exact. */
  def ewmaSmooth(events: DataFrame, keyCols: Seq[String], tsCol: String,
      tieCol: String, valueCol: String, alpha: Double = 0.2,
      window: Int = 16): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    require(window >= 1, "window must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(-(window - 1), 0)
    val d = lit(1.0 - alpha)
    events
      .withColumn("__vals",
        collect_list(col(valueCol).cast("double")).over(w))
      .withColumn("__n", size(col("__vals")))
      // frame order is oldest..newest: weight (1−α)^(n−k) for slot k
      .withColumn("__num", aggregate(
        sequence(lit(1), col("__n")), lit(0.0),
        (acc, k) => acc + element_at(col("__vals"), k) *
          pow(d, (col("__n") - k).cast("double"))))
      .withColumn("__den",
        (lit(1.0) - pow(d, col("__n").cast("double"))) / lit(alpha))
      .withColumn("ewma", round(col("__num") / col("__den"), 6))
      .drop("__vals", "__n", "__num", "__den")
  }

  /** Holt double exponential smoothing (Holt 1957) over the trailing
    * `window` observations per key — the level+TREND sibling of
    * [[ewmaSmooth]] (which tracks level only and lags on trending
    * series): l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, initialized l=x_1, b=0 at
    * the window's oldest row. Returns `level`, `trend`, and the
    * one-step-ahead `forecast` = l+b (6dp each).
    *
    * The recursion is replayed EXACTLY in SQL: both engines fold the
    * same (l,b) state list left-to-right over the same window list
    * (Spark `aggregate` / DuckDB `list_reduce`) with identically-
    * shaped arithmetic, so the doubles agree bit-for-bit — a bounded
    * window makes the fold O(window) per row instead of an unbounded
    * running state. Plan shape: ONE ordered window per key (ties break
    * on `tieCol` so frame contents are engine-exact), then map-side
    * array math — no self-join, no shuffle beyond the window's. */
  def holtSmooth(events: DataFrame, keyCols: Seq[String], tsCol: String,
      tieCol: String, valueCol: String, alpha: Double = 0.3,
      beta: Double = 0.2, window: Int = 16): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    require(beta > 0 && beta < 1, s"beta must be in (0,1): $beta")
    require(window >= 1, "window must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(-(window - 1), 0)
    val vals = col("__vals")
    val fold = aggregate(
      slice(vals, lit(2), size(vals) - 1),
      array(element_at(vals, 1), lit(0.0)),
      (acc, x) => {
        val l = element_at(acc, 1)
        val b = element_at(acc, 2)
        val nl = lit(alpha) * x + lit(1.0 - alpha) * (l + b)
        array(nl, lit(beta) * (nl - l) + lit(1.0 - beta) * b)
      })
    events
      .withColumn("__vals",
        collect_list(col(valueCol).cast("double")).over(w))
      .withColumn("__s", fold)
      .withColumn("level", round(element_at(col("__s"), 1), 6))
      .withColumn("trend", round(element_at(col("__s"), 2), 6))
      .withColumn("forecast", round(
        element_at(col("__s"), 1) + element_at(col("__s"), 2), 6))
      .drop("__vals", "__s")
  }

  /** Eventually-follows support table (the α-algorithm's precedence
    * relation from process mining, van der Aalst 2004 — and the
    * gapped generalization of the ADJACENT-only bigram transitions):
    * for every ordered type pair (a, b), how many users had SOME a
    * event strictly before SOME b event (min_ts(a) < max_ts(b)), and
    * the confidence against all users who had a at all. Funnels check
    * ONE prescribed path; this surfaces every pairwise ordering the
    * log actually contains.
    *
    * Scale shape: ONE (user, type) min/max hash agg does the
    * data-sized work; the per-user type-pair join runs on the
    * user×|types| frame (types bounded by contract), and the final
    * agg is pair-keyed. FULL oracle. */
  def eventualFollow(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String): DataFrame = {
    val g = events.groupBy(col(userCol).as("u"), col(typeCol).as("t"))
      .agg(min(col(tsCol)).as("mn"), max(col(tsCol)).as("mx"))
    val fromUsers = g.groupBy(col("t").as("from_type"))
      .agg(count(lit(1)).as("n_from_users"))
    g.as("a").join(g.as("b"),
        col("a.u") === col("b.u") && col("a.t") =!= col("b.t"))
      .select(col("a.t").as("from_type"), col("b.t").as("to_type"),
        (col("a.mn") < col("b.mx")).cast("long").as("f"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("f")).as("n_follow"))
      .join(broadcast(fromUsers), "from_type")
      .select(col("from_type"), col("to_type"), col("n_follow"),
        col("n_from_users"),
        round(col("n_follow").cast("double") / col("n_from_users"), 6)
          .as("confidence"))
  }

  /** Two-sided CUSUM changepoint detector (Page 1954) over the
    * trailing `window` observations per key: s⁺_t = max(0, s⁺_{t−1} +
    * x_t − μ0 − κ), s⁻_t = max(0, s⁻_{t−1} + μ0 − x_t − κ), alarm when
    * either exceeds `h` — the standard sustained-shift monitor that a
    * z-score (one bad point) and EWMA (lagging level) both miss. μ0/κ/h
    * are the caller's reference mean, slack, and decision threshold in
    * the value's units (κ ≈ half the shift to detect, h ≈ 4–5σ).
    *
    * Window-local semantics: the state resets at the trailing window's
    * oldest row, so memory is bounded at `window` and the fold replays
    * EXACTLY in SQL (same left-to-right (s⁺,s⁻) state-list fold as
    * [[holtSmooth]] — Spark `aggregate` / DuckDB `list_reduce`,
    * bit-identical); a shift persisting ≥ window rows still alarms
    * every row once the statistic accumulates. Plan: one ordered
    * window per key, map-side array math. Returns `cusum_pos`,
    * `cusum_neg`, `alarm`. */
  def cusum(events: DataFrame, keyCols: Seq[String], tsCol: String,
      tieCol: String, valueCol: String, mu0: Double, kappa: Double,
      h: Double, window: Int = 64): DataFrame = {
    require(kappa >= 0, "kappa must be >= 0")
    require(h > 0, "h must be positive")
    require(window >= 1, "window must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(-(window - 1), 0)
    val fold = aggregate(
      col("__vals"), array(lit(0.0), lit(0.0)),
      (acc, x) => array(
        greatest(lit(0.0), element_at(acc, 1) + (x - lit(mu0) - lit(kappa))),
        greatest(lit(0.0), element_at(acc, 2) + (lit(mu0) - x - lit(kappa)))))
    events
      .withColumn("__vals",
        collect_list(col(valueCol).cast("double")).over(w))
      .withColumn("__s", fold)
      .withColumn("cusum_pos", round(element_at(col("__s"), 1), 6))
      .withColumn("cusum_neg", round(element_at(col("__s"), 2), 6))
      .withColumn("alarm",
        element_at(col("__s"), 1) > h || element_at(col("__s"), 2) > h)
      .drop("__vals", "__s")
  }

  /** Time-series resampling with forward fill: per key, a REGULAR
    * `step` grid spanning that key's observed range, carrying the last
    * observed value forward across gaps — what turns irregular event
    * streams into model-ready regular series. The grid generates
    * map-side from per-key bounds (sequence + explode — never a
    * cross join with a calendar table); observations attach by plain
    * equi-join; the fill is one last(ignoreNulls) window. `step` is a
    * SQL interval string like "1 hour" and `truncUnit` the matching
    * date_trunc unit observations bucket to. */
  def resampleFill(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, step: String = "1 hour",
      truncUnit: String = "hour"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // max, not avg: the bucket representative must be accumulation-
    // order independent so resampled series are bit-stable across
    // layouts (and engine-comparable)
    val obs = events
      .groupBy(col(keyCol).as("k"), date_trunc(truncUnit, col(tsCol)).as("t"))
      .agg(max(col(valueCol)).as("v"))
    val grid = obs.groupBy(col("k"))
      .agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
      .select(col("k"), explode(expr(s"sequence(lo, hi, interval $step)")).as("t"))
    val w = Window.partitionBy(col("k")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("k", "t"), "left")
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .select(col("k").as(keyCol), col("t"), col("v"), col("v_filled"))
  }

  /** First-order Markov transition profile over per-user event-type
    * sequences: counts and row-normalized probabilities of each
    * (from_type → to_type) step, the input to next-event models and
    * behavioral anomaly baselines. One lag window over the user key
    * (the [[debounce]] shuffle shape) then one hash-agg; ties at equal
    * timestamps break on the id column so the sequence — and therefore
    * the matrix — is deterministic. */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val steps = events
      .withColumn("__from", lag(col(typeCol), 1).over(w))
      .filter(col("__from").isNotNull)
      .groupBy(col("__from").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy(col("from_type"))
    steps.withColumn("p", round(col("n") /
        sum(col("n")).over(totals), 6))
  }

  /** Entity-aware temporal train/test split with an embargo gap
    * (purged time split — the leakage-safe protocol for sequential
    * data, cf. combinatorial purged CV): entities are assigned
    * train/test by a deterministic hash (held-out users), train keeps
    * only train-entity events BEFORE `cutoff`, test keeps only
    * test-entity events AT/AFTER `cutoff + embargo`, and everything
    * else is excluded — so no entity spans both splits AND no train
    * event lies within `embargo` of any test event (double leakage
    * guard: entity overlap and temporal adjacency). Pure map-side
    * classification — zero shuffles; the md5 assignment makes the
    * split reproducible across engines and appends. Returns the
    * tagged rows with a `split` column. */
  def entityTemporalSplit(events: DataFrame, entityCol: String,
      tsCol: String, cutoff: String, embargoDays: Int,
      trainPct: Int = 80, salt: String = "split"): DataFrame = {
    require(embargoDays >= 0, "embargo must be non-negative")
    require(trainPct > 0 && trainPct < 100, "trainPct in (0,100)")
    val cut = to_timestamp(lit(cutoff))
    val embargoEnd = to_timestamp(lit(cutoff)) +
      expr(s"INTERVAL $embargoDays DAYS")
    val bucket = conv(substring(
      md5(concat(col(entityCol).cast("string"), lit("|" + salt))), 1, 8),
      16, 10).cast("long") % 100
    val isTrainEntity = bucket < trainPct
    events.withColumn("split",
      when(isTrainEntity && col(tsCol) < cut, lit("train"))
        .when(!isTrainEntity && col(tsCol) >= embargoEnd, lit("test"))
        .otherwise(lit("excluded")))
  }

  /** Last-touch attribution: each conversion event is credited to the
    * most recent NON-conversion event of the same user within
    * `lookbackNs`, or 'unattributed' when none qualifies — the
    * marketing-analytics sibling of the as-of join, expressed as ONE
    * window over the user key (running last-ignoring-nulls touch type
    * and time), never a per-conversion self-join. Ties at equal
    * timestamps break on `idCol` so the credited touch is
    * deterministic. Returns `(touch, n, share)`. */
  def attributionLastTouch(events: DataFrame, userCol: String,
      tsNsCol: String, typeCol: String, idCol: String,
      conversionType: String, lookbackNs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsNsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col(typeCol) =!= conversionType
    val conv = events
      .withColumn("__touch_type",
        last(when(isTouch, col(typeCol)), ignoreNulls = true).over(w))
      .withColumn("__touch_t",
        last(when(isTouch, col(tsNsCol)), ignoreNulls = true).over(w))
      .filter(col(typeCol) === conversionType)
      .withColumn("touch",
        when(col("__touch_t").isNotNull &&
          col(tsNsCol) - col("__touch_t") <= lookbackNs, col("__touch_type"))
          .otherwise(lit("unattributed")))
    val counts = conv.groupBy(col("touch")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", round(col("n") / col("__t"), 6))
      .drop("__t")
  }

  /** Inter-arrival profile: per event type, the count and p50/p90 of
    * the gap (seconds) between consecutive events of the same
    * (user, type) series — the arrival-rate fingerprint feeding
    * debounce thresholds and anomaly baselines. One lag window on the
    * (user, type) key, then per-type quantiles.
    *
    * Gaps are near-unique doubles, so exact `percentile()`'s per-group
    * value→count map grows with the group's ROW count — a hot event
    * type funnels its whole history through one reducer buffer. The
    * quantiles therefore sketch then refine
    * ([[Quantiles.exactQuantilesByKey]], bit-identical, every stage
    * parallel; two grouped passes over the gaps, nothing data-sized
    * funnels) and the type-count-bounded result assembles locally.
    *
    * That exact path is driver-bounded by the TYPE cardinality (one
    * collected row per type), so it is guarded: past `maxExactTypes`
    * distinct types the call falls back to a lazy one-window plan with
    * a fixed-width `approx_percentile` sketch per type (rank error ≤
    * 1/10000) instead of funneling an unbounded result through the
    * driver. */
  def interArrival(events: DataFrame, userCol: String, tsNsCol: String,
      typeCol: String, maxExactTypes: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col(tsNsCol))
    val gapped = events
      .withColumn("__gap",
        (col(tsNsCol) - lag(col(tsNsCol), 1).over(w)) / 1e9)
      .filter(col("__gap").isNotNull)
    // cheap HLL probe: is the exact path's driver-side result bounded?
    val exactOk = gapped
      .agg(approx_count_distinct(col(typeCol)).as("c"))
      .head.getLong(0) <= maxExactTypes
    if (!exactOk) {
      gapped
        .groupBy(col(typeCol))
        .agg(count(lit(1)).as("n_gaps"),
          expr("approx_percentile(__gap, array(0.5, 0.9), 10000)").as("__q"))
        .select(col(typeCol), col("n_gaps"),
          round(element_at(col("__q"), 1), 4).as("p50_gap_s"),
          round(element_at(col("__q"), 2), 4).as("p90_gap_s"))
    } else {
      // the quantile lookup key must be SPARK's string rendering of the
      // type value (exactQuantilesByKey casts its key col to string),
      // never the JVM's — String.valueOf(a Timestamp/Double) can differ.
      // INJECTIVE key encoding: every non-null value is prefixed "v" and
      // NULL maps to bare "n" — no string value can collide with the null
      // group (a raw sentinel could: a STRING-typed column may contain the
      // sentinel itself, silently merging two gap populations' quantiles)
      val keyExpr = when(col(typeCol).isNull, lit("n"))
        .otherwise(concat(lit("v"), col(typeCol).cast("string")))
      val gaps = gapped.select(keyExpr.as("__k"), col("__gap"))
      val qsByType = Quantiles.exactQuantilesByKey(gaps, "__k", "__gap", Seq(0.5, 0.9))
      val counts = gapped.groupBy(col(typeCol))
        .agg(count(lit(1)).as("n_gaps"), first(keyExpr).as("__k")).collect()
      def round4(v: Double): Double =
        BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val spark = events.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        gapped.schema(typeCol),
        org.apache.spark.sql.types.StructField("n_gaps",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("p50_gap_s",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("p90_gap_s",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      val rows = counts.toSeq.map { r =>
        val q = qsByType(r.getString(2))
        org.apache.spark.sql.Row(r.get(0), r.getLong(1), round4(q(0)), round4(q(1)))
      }
      // default slicing, not 1 partition: downstream ops shouldn't
      // inherit a single-partition frame from a profile step
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows), schema)
    }
  }

  /** Lag-debounce: suppress events closer than `gapNs` nanoseconds to
    * the PREVIOUS event of the same (user, type) — telemetry
    * double-fire cleaning. Predecessor-distance semantics (each event
    * compares to its immediate predecessor, kept or not): one window
    * over the (user, type) key, deterministic, engine-expressible.
    * Returns the surviving rows. */
  def debounce(events: DataFrame, userCol: String, tsNsCol: String,
      typeCol: String, gapNs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col(tsNsCol))
    events.withColumn("__prev", lag(col(tsNsCol), 1).over(w))
      .filter(col("__prev").isNull ||
        col(tsNsCol) - col("__prev") >= gapNs)
      .drop("__prev")
  }

  /** CDC latest-state materialization: collapse an event/change log to
    * the LATEST row per key — the "current state" view every CDC
    * pipeline derives (Debezium compaction, SCD type-1, [[Snapshots]]'
    * merge-on-read sibling for plain logs). Ties on `orderCol` break by
    * descending `idCol` (later-written wins), so the result is
    * deterministic and engine-replayable.
    *
    * Plan shape: ONE max_by hash aggregate over a (order, id) struct —
    * map-side combinable, so each partition contributes one candidate
    * per key and the shuffle carries keys, not history. A window +
    * rn=1 filter would sort every key's whole history instead. */
  def latestSnapshot(log: DataFrame, keyCols: Seq[String],
      orderCol: String, idCol: String): DataFrame = {
    val payload = log.columns.filterNot(keyCols.contains)
    log.groupBy(keyCols.map(col): _*)
      .agg(max_by(
        struct(payload.map(col): _*),
        struct(col(orderCol), col(idCol))).as("__latest"))
      .select(keyCols.map(col) ++
        payload.map(c => col(s"__latest.$c").as(c)): _*)
  }

  /** Time-weighted average per key — the correct mean of an
    * irregularly-sampled signal (a gauge read every few minutes holds
    * its value BETWEEN reads; the row-mean over-weights bursty
    * intervals). Each observation carries its value until the next one:
    * TWA = Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_last − t_first); the final observation
    * spans zero time. Keys with one observation (no span) report that
    * value. Output: `(key, n_obs, span_s, twa, row_mean)` — row_mean
    * included because the GAP between the two is the burstiness signal.
    *
    * Plan shape: one lead window over the key + one hash agg. */
  def timeWeightedAvg(events: DataFrame, keyCol: String, tsNsCol: String,
      valueCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsNsCol), col(idCol))
    events
      .select(col(keyCol), col(tsNsCol), col(idCol),
        col(valueCol).cast("double").as("__v"))
      .withColumn("__next", lead(col(tsNsCol), 1).over(w))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"),
        ((max(col(tsNsCol)) - min(col(tsNsCol))) / 1e9).as("__span"),
        sum(when(col("__next").isNotNull,
          col("__v") * (col("__next") - col(tsNsCol))).otherwise(0.0)).as("__wsum"),
        avg(col("__v")).as("__mean"))
      .select(col(keyCol), col("n_obs"),
        round(col("__span"), 4).as("span_s"),
        // zero-span keys (single observation, or all at one instant)
        // have no holding intervals — the row mean IS the answer there
        round(when(col("__span") > 0, col("__wsum") / (col("__span") * 1e9))
          .otherwise(col("__mean")), 6).as("twa"),
        round(col("__mean"), 6).as("row_mean"))
  }

  /** Association rules (market-basket co-occurrence): for every ordered
    * item pair (a → b), `(n_ab, n_a, n_b, support, confidence, lift)` —
    * the "users who error also purchase?" correlation audit. A basket is
    * one distinct `basketCols` tuple; items dedupe within a basket.
    *
    * Plan shape: baskets collapse to sorted distinct-item SETS in one
    * hash agg (bounded by the item vocabulary, NOT basket size in
    * rows); unordered pairs generate MAP-SIDE from each set (the
    * [[TextAnalysis.pmiPairs]] nested-transform idiom — never a
    * positions self-join); item counts and the basket total ride as
    * broadcasts. Both rule directions emit from the one unordered-pair
    * aggregate. */
  def assocRules(df: DataFrame, basketCols: Seq[String], itemCol: String,
      minSupport: Double = 0.0): DataFrame = {
    val b = df.select(struct(basketCols.map(col): _*).as("__b"),
      col(itemCol).cast("string").as("__i")).distinct()
    val sets = b.groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("items"))
    val nB = sets.agg(count(lit(1)).as("n_baskets"))
    val itemN = b.groupBy(col("__i")).agg(count(lit(1)).as("n_item"))
    val pairs = sets.select(explode(flatten(
        transform(sequence(lit(1), size(col("items"))), i =>
          transform(slice(col("items"), i + 1, size(col("items"))),
            y => struct(element_at(col("items"), i).as("a"), y.as("b"))))))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val directed = pairs.unionByName(pairs.select(
      col("b").as("a"), col("a").as("b"), col("n_ab")))
    directed
      .join(broadcast(itemN.select(col("__i").as("a"), col("n_item").as("n_a"))), Seq("a"))
      .join(broadcast(itemN.select(col("__i").as("b"), col("n_item").as("n_b"))), Seq("b"))
      .crossJoin(broadcast(nB))
      .filter(col("n_ab") / col("n_baskets") >= minSupport)
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab") / col("n_baskets"), 6).as("support"),
        round(col("n_ab") / col("n_a"), 6).as("confidence"),
        // promote BEFORE multiplying: n_ab*n_baskets (and n_a*n_b) in
        // LongType silently overflow at billions of baskets; the DuckDB
        // oracle's ::DOUBLE arithmetic never does
        round(col("n_ab").cast("double") * col("n_baskets").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
  }

  /** CUPED variance reduction (Deng et al. 2013, "Improving the
    * sensitivity of online controlled experiments") — the standard
    * pre-period adjustment for A/B metrics: per unit, regress the
    * experiment-period metric y on the pre-period covariate x and
    * analyze y_adj = y − θ(x − x̄) with θ = cov(x,y)/var(x); the
    * adjusted metric has the same mean but variance shrunk by the
    * squared correlation, so the same experiment detects smaller
    * effects.
    *
    * Scale shape: one per-unit hash agg builds (x, y) for units present
    * in BOTH periods; one 1-row agg computes θ and the variances.
    * Returns (n_units, theta, mean_y, var_y, var_adj, var_reduction
    * pct), 6dp — var_adj = var(y) − cov²/var(x) (the algebraic identity
    * for var(y − θx), so no second pass over the data). */
  def cupedAdjust(df: DataFrame, unitCol: String, valueCol: String,
      prePred: Column, expPred: Column): DataFrame = {
    val v = col(valueCol).cast("double")
    val per = df.filter(v.isNotNull && (prePred || expPred))
      .groupBy(col(unitCol).as("unit"))
      .agg(avg(when(prePred, v)).as("__x"), avg(when(expPred, v)).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    // a zero-variance covariate leaves theta undefined (0/0 = NaN) —
    // degenerate posture is NULL, never NaN (the welchT guard)
    val usable = col("__vx") > 0
    per.agg(count(lit(1)).as("n_units"),
        avg(col("__y")).as("__my"),
        covar_samp(col("__x"), col("__y")).as("__cxy"),
        var_samp(col("__x")).as("__vx"),
        var_samp(col("__y")).as("__vy"))
      .select(col("n_units"),
        when(usable, round(col("__cxy") / col("__vx"), 6)).as("theta"),
        round(col("__my"), 6).as("mean_y"),
        round(col("__vy"), 6).as("var_y"),
        when(usable, round(col("__vy") -
          col("__cxy") * col("__cxy") / col("__vx"), 6)).as("var_adj"),
        when(usable && col("__vy") > 0,
          round(lit(100.0) * (col("__cxy") * col("__cxy") / col("__vx")) /
            col("__vy"), 6)).as("var_reduction_pct"))
  }

  /** Autocorrelation function + Ljung-Box portmanteau (Box & Pierce
    * 1970; Ljung & Box 1978) — the periodicity / whiteness screen run
    * BEFORE committing to a [[seasonalDecompose]] period, and the
    * residual-whiteness check run after: per series key and lag
    * k = 1..maxLag,
    *   r_k = Σ (x_t − x̄)(x_{t−k} − x̄) / (n·σ²_pop)
    * (the standard biased Box-Jenkins estimator) and the cumulative
    * Ljung-Box Q_k = n(n+2) Σ_{j≤k} r_j²/(n−j), which under whiteness
    * is χ²_k — a large Q at some lag says "structure here".
    *
    * Scale shape: per-key mean/variance is ONE hash agg joined back on
    * the key; all maxLag lagged copies come from ONE key-partitioned
    * window pass (maxLag expressions, not maxLag shuffles); the lag
    * unpivot and the cumulative Q window run on the keys×maxLag frame.
    * Series with n ≤ maxLag drop (their top lags are undefined). FULL
    * oracle. Returns (key cols, lag, n, r, q_lb), 6dp. */
  def autocorrelation(df: DataFrame, keyCols: Seq[String], orderCol: String,
      valueCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    require(keyCols.nonEmpty, "need at least one series key")
    import org.apache.spark.sql.expressions.Window
    val kc = keyCols.map(col)
    val w = Window.partitionBy(kc: _*).orderBy(col(orderCol))
    // NULL values are dropped up front (r13 advice): n, mean, and
    // variance must be computed over the SAME sample — count(lit(1))
    // would count null rows that avg/var_pop exclude, inflating the
    // n·σ² denominator and shifting the Ljung-Box dof. The ACF is then
    // the ACF of the observed (gap-compacted) series.
    val base = df.select(kc :+ col(orderCol) :+
      col(valueCol).cast("double").as("__v"): _*)
      .filter(col("__v").isNotNull)
    val stats = base.groupBy(kc: _*)
      .agg(count(lit(1)).as("__n"), avg(col("__v")).as("__m"),
        var_pop(col("__v")).as("__vp"))
      .filter(col("__n") > maxLag && col("__vp") > 0)
    val lagged = base.select((kc :+ col("__v")) ++
      (1 to maxLag).map(k => lag(col("__v"), k).over(w).as(s"__l$k")): _*)
    val nums = lagged.join(stats, keyCols)
      .groupBy(kc: _*)
      .agg(max(col("__n")).as("n"), max(col("__m")).as("__m"),
        max(col("__vp")).as("__vp"),
        array((1 to maxLag).map(k =>
          sum((col("__v") - col("__m")) *
            (col(s"__l$k") - col("__m")))): _*).as("__nums"))
    val wLag = Window.partitionBy(kc: _*).orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nums
      .select(kc :+ col("n") :+
        posexplode(col("__nums")).as(Seq("__k0", "__num")) :+
        col("__vp"): _*)
      .withColumn("lag", (col("__k0") + 1).cast("int"))
      .withColumn("__r", col("__num") / (col("__vp") * col("n")))
      .withColumn("q_lb",
        round(col("n") * (col("n") + lit(2.0)) *
          sum(col("__r") * col("__r") / (col("n") - col("lag"))).over(wLag), 6))
      .select(kc :+ col("lag") :+ col("n") :+
        round(col("__r"), 6).as("r") :+ col("q_lb"): _*)
  }

  /** Classical additive seasonal decomposition (the moving-average
    * method every stats package ships as decompose()): per series key,
    * value = trend + seasonal + residual, with
    *  - trend: the symmetric centered moving average over one full
    *    (odd) period — NULL within period/2 of the series edges, where
    *    the window is incomplete (honest, not zero-padded);
    *  - seasonal: the per-phase mean of the detrended series, centered
    *    so one period's components sum to ~0;
    *  - residual: what remains — the de-seasonalized anomaly signal
    *    [[cusum]]/[[anomalyScores]] should monitor instead of raw
    *    values on any periodic feed.
    *
    * Scale shape: all windows partition by the SERIES key (keys are
    * the parallel unit; no unpartitioned window), the phase means are
    * one keys×period-sized hash agg joined back broadcast. FULL
    * oracle: window avgs + integer phase arithmetic replay in SQL.
    * Returns df's key cols + (orderCol, value, trend, seasonal,
    * residual), 6dp. */
  def seasonalDecompose(df: DataFrame, keyCols: Seq[String],
      orderCol: String, valueCol: String, period: Int): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"period must be odd and >= 3 (got $period): the symmetric centered MA")
    require(keyCols.nonEmpty, "need at least one series key")
    import org.apache.spark.sql.expressions.Window
    val half = period / 2
    val kc = keyCols.map(col)
    // phase assignment and the centered MA both ride row position, so
    // orderCol ties would make them nondeterministic run-to-run (r13
    // advice); the value tie-break pins the order, and rows tied on
    // BOTH (orderCol, value) are interchangeable — the output multiset
    // is identical whichever one the window visits first
    val w = Window.partitionBy(kc: _*).orderBy(col(orderCol), col("__v"))
    val ma = w.rowsBetween(-half, half)
    val base = df.select(kc :+ col(orderCol) :+
      col(valueCol).cast("double").as("__v"): _*)
      .withColumn("__trend",
        when(count(lit(1)).over(ma) === period, avg(col("__v")).over(ma)))
      .withColumn("__phase",
        ((row_number().over(w) - 1) % period).cast("int"))
      .withColumn("__detr", col("__v") - col("__trend"))
    val phases = base.groupBy(kc :+ col("__phase"): _*)
      .agg(avg(col("__detr")).as("__sraw"))
    // centering is a whole-SERIES window — partitioned by the key, so
    // the frame is one key's period-many phase rows
    val wk = Window.partitionBy(kc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val centered = phases.withColumn("__s",
      col("__sraw") - avg(col("__sraw")).over(wk))
    base.join(broadcast(centered.select(kc :+ col("__phase") :+ col("__s"): _*)),
        keyCols :+ "__phase")
      .select(kc :+ col(orderCol) :+
        round(col("__v"), 6).as("value") :+
        round(col("__trend"), 6).as("trend") :+
        round(col("__s"), 6).as("seasonal") :+
        round(col("__v") - col("__trend") - col("__s"), 6).as("residual"): _*)
  }
}
