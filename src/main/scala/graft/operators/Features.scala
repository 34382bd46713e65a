package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature-engineering primitives for model-prep pipelines: quantile
  * discretization and categorical encodings — the transforms run over
  * the full corpus right before training, so their plan shapes matter
  * as much as any query's.
  *
  * Global statistics reduce to a tiny artifact — k−1 quantile edges
  * bound as literals (as in [[Robust]] and [[Drift]]), or a category
  * table with a 1-row prior riding back as a broadcast — and the
  * per-row transform is map-side math. Rows never shuffle.
  */
object Features {

  /** Cross-source quantile normalization (the batch-effect remover of
    * bioinformatics, standard for fusing feature distributions across
    * heterogeneous sources): map every group's values onto the
    * REFERENCE group's distribution — out = Q_ref(F_group(x)), with
    * F_group the within-group percent rank and Q_ref the reference's
    * linearly-interpolated empirical quantile function (the
    * percentile() convention: target rank r·(n_ref − 1), floor/ceil
    * lerp). After the transform every group has the reference's
    * distribution exactly at matching ranks, so downstream thresholds
    * mean the same thing in every source.
    *
    * Plan shape: one percent_rank window PER GROUP (partitioned —
    * bounded per-task by the largest group, the usual stratified
    * contract), the reference ranks once (partitioned by the group
    * literal, never an empty partitionSpec), and the lerp attaches by
    * TWO rank equi-joins against the (n_ref)-row rank table. Ties take
    * percent_rank's min-rank convention in both engines. Returns df +
    * `q_norm` (reference rows map to themselves up to lerp; NULL
    * values pass through NULL). */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
      refGroup: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    // NULLs never rank (they would inflate percent_rank's n) and pass
    // through with a NULL q_norm
    val nn = df.filter(v.isNotNull)
    val nulls = df.filter(v.isNull)
      .withColumn("q_norm", lit(null).cast("double"))
    val wg = Window.partitionBy(col(groupCol)).orderBy(v)
    val ranked = nn.withColumn("__pr", percent_rank().over(wg))
    // reference ranks via the DISTRIBUTED zipWithIndex-style stamp
    // (RowNumber) over the range-sorted layout — the reference group is
    // data-sized, so an unpartitioned row_number window is exactly the
    // global funnel this repo bans. Tie order among equal values is
    // irrelevant: the value AT a sorted rank is tie-invariant.
    val ref = nn.filter(col(groupCol) === refGroup)
      .select(v.as("__rv")).orderBy(col("__rv"))
    val refRanks = RowNumber.withRowNumber(ref, "__rn0")
    val nref = refRanks.agg(count(lit(1)).as("__nref"))
    val lo = refRanks.select(col("__rn0").as("__lo_rn"), col("__rv").as("__lo_v"))
    val hi = refRanks.select(col("__rn0").as("__hi_rn"), col("__rv").as("__hi_v"))
    ranked.crossJoin(broadcast(nref))
      .withColumn("__t", col("__pr") * (col("__nref") - 1))
      .withColumn("__lo_rn", floor(col("__t")).cast("long"))
      .withColumn("__hi_rn", ceil(col("__t")).cast("long"))
      .join(lo, Seq("__lo_rn"), "left")
      .join(hi, Seq("__hi_rn"), "left")
      .withColumn("q_norm",
        round(col("__lo_v") + (col("__t") - floor(col("__t"))) *
          (col("__hi_v") - col("__lo_v")), 6))
      .drop("__pr", "__t", "__lo_rn", "__hi_rn", "__lo_v", "__hi_v", "__nref")
      .unionByName(nulls)
  }

  /** Equal-frequency discretization: bin(x) = number of quantile edges
    * at or below x, for k bins (edges at 1/k … (k−1)/k). Returns df +
    * `bin` (0-based; NULL values get NULL bins). The edges come from
    * [[graft.operators.Quantiles.exactQuantiles]] — funnel-free
    * sketch-then-refine, bit-identical to `percentile()` — and bind as
    * literals. */
  def discretize(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val qs = (1 until bins).map(_.toDouble / bins)
    df.withColumn("bin", edgesAtOrBelow(col(valueCol),
      graft.operators.Quantiles.exactQuantilesOpt(df, valueCol, qs)))
  }

  /** the [[discretize]] bin rule: the number of literal `edges` at or
    * below `v`, NULL for a NULL value. No edges (empty/all-NULL input)
    * mirrors percentile()'s NULL edges: every bin is NULL, never a
    * crash. */
  private def edgesAtOrBelow(v: Column, edges: Option[Array[Double]]): Column =
    edges match {
      case Some(es) => when(v.isNotNull,
        es.map(e => when(v >= e, 1).otherwise(0)).reduce[Column](_ + _))
      case None => lit(null).cast("int")
    }

  /** Percentile-normalized quality blend: each signal is mapped to its
    * equal-frequency decile bin (the [[discretize]] edge rule) and the
    * bins combine as a weighted mean scaled to [0,1] — the standard
    * way to fuse incommensurable quality signals (length, token count,
    * ratios) into ONE ranking score without hand-tuned scale factors.
    * The edges come from ONE keyed exact-quantile call over all
    * signals ([[graft.operators.Quantiles.exactQuantilesByKey]] —
    * funnel-free, bit-identical to `percentile()`) and bind as
    * literals; the blend itself is map-side math. Returns df +
    * `bin_<signal>` per signal + `q_blend`. NULL in any signal ⇒ NULL
    * blend (an unscorable row, not a zero-quality row). */
  def percentileBlend(df: DataFrame, signalCols: Seq[String],
      weights: Seq[Double], bins: Int = 10): DataFrame = {
    require(signalCols.nonEmpty, "need at least one signal")
    require(signalCols.length == weights.length, "one weight per signal")
    require(weights.forall(_ >= 0) && weights.sum > 0, "weights must be non-negative, sum > 0")
    val qs = (1 until bins).map(_.toDouble / bins)
    // exact edges for EVERY signal in ONE corpus pass: explode to
    // (signal, value) rows and sketch then refine per key — funnel-free
    // ([[graft.operators.Quantiles.exactQuantilesByKey]]), unlike
    // percentile()'s per-signal value→count map merges. A signal with
    // no non-NULL values has no edges (percentile's NULL) and bins NULL.
    val kv = df.select(explode(array(signalCols.map(c =>
        struct(lit(c).as("__k"), col(c).cast("double").as("__v"))): _*)).as("__s"))
      .select(col("__s.__k").as("__k"), col("__s.__v").as("__v"))
    val edgesByKey =
      graft.operators.Quantiles.exactQuantilesByKey(kv, "__k", "__v", qs)
    val binned = signalCols.foldLeft(df) { case (acc, c) =>
      acc.withColumn(s"bin_$c", edgesAtOrBelow(col(c), edgesByKey.get(c)))
    }
    val blend = signalCols.zipWithIndex
      .map { case (c, i) => col(s"bin_$c") * weights(i) }
      .reduce(_ + _) / (weights.sum * (bins - 1))
    binned.withColumn("q_blend", round(blend, 6))
  }

  /** Smoothed target encoding + frequency encoding of a categorical:
    *   target_enc = (Σ target + prior · smoothing) / (n + smoothing)
    *   freq_enc   = n / N
    * — the two classic high-cardinality categorical encoders. One
    * category-sized hash aggregate, the global prior/total as a 1-row
    * frame folded INTO that table before it broadcasts back onto the
    * rows; the per-row encode is a broadcast equi-join (for a
    * dimension-sized category set; at web-domain cardinality drop
    * `broadcastDims` and let AQE pick the join side). */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
      smoothing: Double = 10.0, broadcastDims: Boolean = true): DataFrame = {
    require(smoothing >= 0, "smoothing must be non-negative")
    val prior = df.agg(avg(col(targetCol)).as("__prior"),
      count(col(targetCol)).as("__total"))
    val stats = df.groupBy(col(catCol))
      .agg(count(col(targetCol)).as("__n"), sum(col(targetCol)).as("__sum"))
      .crossJoin(broadcast(prior))
      .select(col(catCol),
        ((col("__sum") + col("__prior") * smoothing) /
          (col("__n") + smoothing)).as("target_enc"),
        (col("__n").cast("double") / col("__total")).as("freq_enc"))
    df.join(if (broadcastDims) broadcast(stats) else stats, Seq(catCol))
  }
}
