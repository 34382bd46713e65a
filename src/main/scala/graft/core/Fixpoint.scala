package graft.core

import org.apache.spark.sql.DataFrame

/** The one driver for iterative operators (PageRank, PPR, HITS, label
  * propagation, Bradley-Terry, k-core, connected components): it owns
  * how each round's frame is materialized and when the loop stops, so
  * a change to the iteration leaf is made here and nowhere else. The
  * operators supply only a step body.
  *
  * Two loop shapes, each with the policy its operators measured best:
  *
  *  - [[rounds]] (fixed round count): every round is materialized by an
  *    EAGER `localCheckpoint` and re-wrapped as a plain RDD-scan leaf
  *    ([[leaf]]). The re-wrap resets the plan statistics: a step that
  *    reads its input frame twice (PageRank's dangling mass + contribs,
  *    Bradley-Terry's i/j strengths) would otherwise compound the
  *    checkpoint-preserved origin stats geometrically across rounds —
  *    by round ~25 the optimizer multiplies billion-bit BigIntegers.
  *    One materialization per round is the measured optimum: fusing two
  *    steps per materialization doubles plan/codegen size and denies
  *    AQE its per-job runtime stats, while re-reading the previous leaf
  *    is a memory scan with no recompute for fusion to save.
  *  - [[converge]] (run to a fixpoint): each round is a LAZY
  *    `localCheckpoint` that the caller's one convergence action
  *    materializes as a side effect, so a round costs one driver action
  *    instead of a checkpoint job plus a test job.
  *
  * Both bound the lineage to one round, so N rounds stay N shuffles
  * rather than an exponentially re-derived plan. */
object Fixpoint {

  /** `df` materialized now as a stats-free RDD-scan leaf. */
  def leaf(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    df.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** `n` rounds of `step` from `init`, every state (`init` included) a
    * [[leaf]]. `step` gets the state and the count of rounds already
    * run. */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    var cur = leaf(init)
    for (r <- 0 until n) cur = leaf(step(cur, r))
    cur
  }

  /** `step` from `init` until `measure` — the caller's ONE action per
    * round, which also materializes the round's lazy checkpoint —
    * returns the previous round's value, or `maxRounds` rounds have run;
    * returns the last state either way. `measure` answers None for an
    * empty state: an empty `init` is already the fixpoint and runs no
    * round. */
  def converge[V](init: DataFrame, maxRounds: Int)(measure: DataFrame => Option[V])(
      step: DataFrame => DataFrame): DataFrame = {
    var cur = init.localCheckpoint(eager = false)
    var v = measure(cur)
    var r = 0
    var done = v.isEmpty
    while (!done && r < maxRounds) {
      val next = step(cur).localCheckpoint(eager = false)
      val nv = measure(next)
      done = nv == v
      cur = next; v = nv; r += 1
    }
    cur
  }
}
