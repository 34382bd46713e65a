package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Outlier-robust numeric cleaning (winsorization): clamp a value
  * column to its [loQ, hiQ] quantile bounds. The bounds bind as
  * literals and the clamp is map-side math.
  *
  * The bounds come from [[Quantiles.exactQuantiles]] — exact AND
  * funnel-free (sketch-then-refine; bit-identical to `percentile()` by
  * AuditSpec, so the SQL oracle holds). They are eager driver-bound
  * literals, which is what the clamp broadcast wanted anyway. Spark's
  * own exact `percentile` is NOT used here: its aggregation state is a
  * value→count map whose final merge funnels through one reducer
  * proportional to global distinct cardinality — a 100 TB killer on
  * continuous columns.
  */
object Robust {

  /** `df` + `lo`, `hi` (the quantile bounds) + `__w` (the clamped
    * value). Callers aggregate or project from there. */
  def winsorize(df: DataFrame, valueCol: String,
      loQ: Double = 0.01, hiQ: Double = 0.99): DataFrame = {
    require(0 <= loQ && loQ < hiQ && hiQ <= 1, s"bad quantiles [$loQ, $hiQ]")
    // None (empty / all-NULL input) mirrors percentile()'s NULL
    // bounds: rows keep flowing with NULL lo/hi/__w, never a crash
    Quantiles.exactQuantilesOpt(df, valueCol, Seq(loQ, hiQ)) match {
      case Some(Array(lo, hi)) =>
        df.withColumn("lo", lit(lo)).withColumn("hi", lit(hi))
          .withColumn("__w",
            least(greatest(col(valueCol).cast("double"), lit(lo)), lit(hi)))
      case _ =>
        df.withColumn("lo", lit(null).cast("double"))
          .withColumn("hi", lit(null).cast("double"))
          .withColumn("__w", lit(null).cast("double"))
    }
  }

  /** Per-group winsorization: each group clamps to ITS OWN quantile
    * bounds (per-domain clipping — a global bound would let one
    * heavy-tailed domain set everyone's limits). ONE grouped
    * array-percentile aggregate (group-count rows) joins back by
    * broadcast, the clamp stays map-side. Per-group exact state
    * parallelizes across groups (each map is bounded by ITS group's
    * distinct values, merged on that group's reducer); if one group's
    * value set itself outgrows a reducer,
    * [[Quantiles.exactQuantilesByKey]] is the bit-identical
    * funnel-free swap. Adds `lo`, `hi`, `__w`. */
  def winsorizeByGroup(df: DataFrame, groupCol: String, valueCol: String,
      loQ: Double = 0.01, hiQ: Double = 0.99): DataFrame = {
    require(0 <= loQ && loQ < hiQ && hiQ <= 1, s"bad quantiles [$loQ, $hiQ]")
    val bounds = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, array($loQ, $hiQ))").as("__b"))
      .select(col(groupCol),
        element_at(col("__b"), 1).cast("double").as("lo"),
        element_at(col("__b"), 2).cast("double").as("hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("__w",
        least(greatest(col(valueCol).cast("double"), col("lo")), col("hi")))
  }

  /** Theil-Sen robust trend estimate (Theil 1950 / Sen 1968) — the
    * median-of-slopes regression a single corrupted batch cannot bend
    * the way it bends least squares (q6_revenue_forecast's posture):
    * breakdown point 29% vs OLS's zero. Exact all-pairs Theil-Sen is
    * O(n²); this is the standard RANDOM-PAIRS estimator, except the
    * pairing is a hashUniform PRF of the row id — deterministic,
    * partition-independent, SQL-replayable — so the "random" disjoint
    * pairs are the same pairs in every engine and run. n/2 pairs give
    * the estimator a √2 efficiency haircut vs all pairs, not a bias.
    *
    * Scale shape: rows order by their hash key (repartitionByRange +
    * the [[RowNumber]] zipWithIndex trick — no global-window funnel),
    * adjacent rows pair (one bounded-key agg), slopes take ONE exact
    * distributed median ([[Quantiles.exactQuantiles]], funnel-free),
    * and the intercept takes a second over y − m·x. Returns one row
    * `(n_pairs, slope, intercept)` (6dp). FULL oracle. */
  def theilSen(df: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame = {
    // base persists: it feeds the pairing chain AND the intercept's
    // residual median — unpersisted, the intercept pass re-scans the
    // source and re-hashes every key
    val base = df.select(col(idCol).cast("string").as("id"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .withColumn("u", Sampling.hashUniform(col("id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ordered = base.repartitionByRange(col("u"), col("id"))
      .sortWithinPartitions(col("u"), col("id"))
    val rn = RowNumber.withRowNumber(ordered, "rn")
    val pairs = rn.groupBy((col("rn") / 2).cast("long").as("pr"))
      .agg(count(lit(1)).as("c"),
        max(when(col("rn") % 2 === 0, col("x"))).as("x1"),
        max(when(col("rn") % 2 === 0, col("y"))).as("y1"),
        max(when(col("rn") % 2 === 1, col("x"))).as("x2"),
        max(when(col("rn") % 2 === 1, col("y"))).as("y2"))
      .filter(col("c") === 2 && col("x1") =!= col("x2"))
      .select(((col("y2") - col("y1")) / (col("x2") - col("x1"))).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // slope median AND the pair count from ONE exact-quantile call —
      // its bounds pass counts the rows, so a separate count() over the
      // pair frame would be a redundant action
      val (slopes, nPairs) = Quantiles.exactQuantilesByKeyWithN(
          pairs.select(lit("").as("__k"), col("m").as("__val")), "__k", "__val",
          Seq(0.5))
        .getOrElse("", throw new IllegalArgumentException(
          "requirement failed: no non-NULL values in m"))
      val slope = slopes.head
      val intercept = Quantiles.exactQuantiles(
        base.select((col("y") - lit(slope) * col("x")).as("__b")),
        "__b", Seq(0.5)).head
      val spark0 = df.sparkSession
      import spark0.implicits._
      Seq((nPairs,
        BigDecimal(slope).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(intercept).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("n_pairs", "slope", "intercept")
    } finally { pairs.unpersist(false); base.unpersist(false); () }
  }

  /** Median-absolute-deviation outlier scoring — the robust z-score
    * (0.6745 · (x − median) / MAD) that a single extreme value cannot
    * corrupt the way it corrupts mean/stddev. Two median passes
    * (median, then median of |x − median|) — funnel-free exact
    * [[Quantiles.exactQuantiles]] literals, as in [[winsorize]]. A
    * zero/NULL MAD (constant-majority column) scores NULL — never a
    * division blowup. Returns df + `med`, `mad`, `robust_z`. */
  def madScore(df: DataFrame, valueCol: String): DataFrame = {
    // two exact passes, each re-reading the source: the median, then
    // the median of |x − m|. None (empty / all-NULL input) mirrors
    // percentile()'s NULL medians.
    val stats = Quantiles.exactQuantilesOpt(df, valueCol, Seq(0.5)).map { m0 =>
      val m = m0.head
      (m, Quantiles.exactQuantiles(
        df.select(abs(col(valueCol).cast("double") - m).as("__d")),
        "__d", Seq(0.5)).head)
    }
    stats match {
      case Some((med, mad)) =>
        df.withColumn("med", lit(med)).withColumn("mad", lit(mad))
          .withColumn("robust_z",
            when(lit(mad) > 0,
              lit(0.6745) * (col(valueCol).cast("double") - med) / mad))
      case None =>
        df.withColumn("med", lit(null).cast("double"))
          .withColumn("mad", lit(null).cast("double"))
          .withColumn("robust_z", lit(null).cast("double"))
    }
  }
}
