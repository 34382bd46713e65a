package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Fixpoint

/** Pairwise-preference ranking (Bradley & Terry 1952) fitted by Hunter
  * 2004's MM iteration — the aggregation step behind LLM-eval win-rate
  * leaderboards and RLHF preference-data audits: given decided pairwise
  * comparisons, estimate item strengths π with
  * P(i beats j) = π_i / (π_i + π_j).
  *
  * Update, from π ≡ 1:
  *   π_i ← W_i / Σ_{j: n_ij>0} n_ij / (π_i + π_j)
  * The update is homogeneous of degree 1 (scaling π by c scales every
  * denominator by 1/c and hence the whole update by c), so the
  * likelihood's scale gauge is fixed ONCE at the end by a single
  * sum-normalization instead of per round — the same end-normalization
  * win as [[Graphs.hits]]: each round drops an agg + broadcast
  * crossJoin + one checkpointed frame. Scale drift is bounded: with
  * strengths at scale s the new scale is ≈ 2s·W_i/n_i ≈ s (win rates
  * hover around 1/2), so 8–100 rounds stay far inside double range.
  * Fixed iteration count + deterministic input ⇒ the rounds UNROLL
  * into a SQL oracle exactly like [[Graphs.pageRank]]'s.
  *
  * Scale shape: comparisons collapse to the (i, j, n_ij) pair table in
  * ONE hash agg — the only data-sized stage; each iteration is one
  * join of the symmetric pair table (persisted, i-partitioned) against
  * the current strengths + one per-item agg, one stats-reset leaf per
  * round ([[Fixpoint.rounds]]: the strengths join THEMSELVES twice per
  * round, so checkpoint-preserved stats would compound). Items are the
  * compared population (models, annotators, suppliers) — never
  * corpus-sized.
  * Never-winning items converge to strength 0 (their MLE limit).
  */
object Ranking {

  /** `comparisons`: one row per decided comparison. Returns
    * (id, wins, strength), strengths summing to 1, 6dp. */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String,
      loserCol: String, iterations: Int = 8): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val spark = comparisons.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val wl = comparisons.select(col(winnerCol).cast("long").as("w"),
        col(loserCol).cast("long").as("l"))
      .filter(col("w") =!= col("l"))
    val wins = wl.groupBy(col("w").as("id"))
      .agg(count(lit(1)).as("wi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairCounts = wl
      .select(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).cast("double").as("nij"))
    val sym = pairCounts
      .select(col("a").as("i"), col("b").as("j"), col("nij"))
      .unionByName(pairCounts.select(col("b").as("i"), col("a").as("j"), col("nij")))
      .repartition(par, col("i"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val items = sym.select(col("i").as("id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the strengths vector is ITEM-sized (the compared population —
      // models/annotators/suppliers — never corpus-sized, per the
      // operator contract above), so below a hard row gate it rides the
      // pair join as a BROADCAST: the persisted pair table then never
      // re-exchanges inside the loop and each round is one map-side
      // double probe + one per-item agg (guide §3.1). The re-wrapped
      // checkpoint frame has no stats, so the planner can't make this
      // choice itself — the gate is explicit. Above the gate the old
      // shuffle-join shape applies unchanged.
      val bcItems = items.count() <= 5000000L
      def strengths(df: DataFrame): DataFrame =
        if (bcItems) broadcast(df) else df
      val cur = Fixpoint.rounds(items.withColumn("p", lit(1.0)), iterations) { (s, _) =>
        val denom = sym
          .join(strengths(s.select(col("id").as("i"), col("p").as("pi"))), "i")
          .join(strengths(s.select(col("id").as("j"), col("p").as("pj"))), "j")
          .groupBy(col("i").as("id"))
          .agg(sum(col("nij") / (col("pi") + col("pj"))).as("d"))
        // denom's key set IS the item set (sym enumerates every item on
        // its i side), so the old items re-join was a no-op — the wins
        // left join alone completes the update
        denom
          .join(strengths(wins), Seq("id"), "left")
          .select(col("id"),
            (coalesce(col("wi"), lit(0L)).cast("double") / col("d")).as("p"))
      }
      // gauge fixed once: strengths sum to 1 after the loop
      val tot = cur.agg(sum(col("p")).as("__t"))
      cur.crossJoin(broadcast(tot))
        .select(col("id"), (col("p") / col("__t")).as("p"))
        .join(wins, Seq("id"), "left")
        .select(col("id"), coalesce(col("wi"), lit(0L)).as("wins"),
          round(col("p"), 6).as("strength"))
        .localCheckpoint()
    } finally {
      sym.unpersist(false); items.unpersist(false); wins.unpersist(false); ()
    }
  }
}
