package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Resampling

/** Opt-in SCALE gate for the Poisson bootstrap, the sibling of
  * QuantileScaleSpec/DedupScaleSpec: the whole point of the Poisson
  * formulation (Chamandy et al. 2012) is that the resample never
  * shuffles — per-(replicate, row) weights are a map-side PRF and all
  * R replicate means come out of ONE hash agg with map-side combine.
  * This spec backs that with a measurement the small law gate
  * (AuditSpec) cannot:
  *
  *  - at 4M rows x 40 replicates (160M weighted draws), the CI
  *    brackets the true mean and its width matches the CLT envelope
  *    (the statistical sanity that survives only if the PRF weights
  *    really are Poisson(1)-distributed at scale), and
  *  - 4x the rows costs < 3x the wall (near-linear; there is no
  *    all-replicate state on any single reducer to go quadratic).
  *
  * Ignored by default; opt in with
  *   GRAFT_STATS_SCALE=1 sbt "testOnly graft.StatsScaleSpec"
  * Measured numbers print to stderr for the round notes.
  */
class StatsScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_STATS_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** n rows of hash-uniform doubles on [0, 1000): true mean 500,
    * sd ~ 288.7, so the 95% CI half-width at n rows ~ 1.96*288.7/sqrt(n) */
  private def corpus(n: Long): DataFrame =
    spark.range(n).repartition(32)
      .select(col("id"),
        (pmod(xxhash64(col("id"), lit(13L)), lit(1000000L)).cast("double")
          / lit(1000.0)).as("v"))

  scaleTest("Poisson bootstrap at 4M rows x 40 replicates: CLT-sized CI, near-linear scale-up") {
    def run(n: Long): (Double, org.apache.spark.sql.Row) = {
      val df = corpus(n).persist()
      df.count()
      try {
        val t0 = System.nanoTime()
        val r = Resampling.poissonBootstrapMean(df, "id", "v").collect().head
        ((System.nanoTime() - t0) / 1e9, r)
      } finally { df.unpersist(); () }
    }
    val (sec1, r1) = run(1000000L)
    val (sec4, r4) = run(4000000L)
    System.err.println(
      f"[stats-scale] 1M: ${sec1}%.1fs $r1   4M: ${sec4}%.1fs $r4")
    Seq((r1, 1000000L), (r4, 4000000L)).foreach { case (r, n) =>
      val (m, lo, hi) = (r.getAs[Double]("mean"), r.getAs[Double]("ci_lo"),
        r.getAs[Double]("ci_hi"))
      assert(lo < m && m < hi, s"CI must bracket the mean at $n: $r")
      // CLT envelope: half-width within [0.3x, 3x] of 1.96*sd/sqrt(n)
      val clt = 1.96 * 288.7 / math.sqrt(n.toDouble)
      val half = (hi - lo) / 2.0
      assert(half > 0.3 * clt && half < 3.0 * clt,
        s"CI half-width $half vs CLT $clt at $n rows")
      assert(math.abs(m - 500.0) < 6.0 * clt, s"point mean off: $m at $n")
    }
    assert(sec4 < sec1 * 3.0 + 5.0,
      f"4x rows cost ${sec4 / sec1}%.1fx wall — the map-side claim broke")
  }
}
