package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Quantiles

/** Opt-in SCALE gate for the exact-quantile path, the sibling of
  * DedupScaleSpec/AnnScaleSpec/SearchScaleSpec/TpchScaleSpec: the
  * SURVEY calls exact `percentile()`'s value→count map state "a 100 TB
  * killer" — every partial map funnels through ONE reducer whose merge
  * is proportional to the GLOBAL distinct count — and round 10 made
  * `Quantiles.exactQuantiles` the default exact path of its consumers.
  * This spec backs that claim with a measurement the small bit-identity
  * gate (AuditSpec) cannot: at ~8M fully-distinct doubles,
  *
  *  - exactQuantiles still matches percentile() BIT-identically
  *    (the sketch-then-refine path at real cardinality), and
  *  - its wall-time does not degrade vs percentile()'s funnel
  *    (gate at 1.5x for host noise; in practice it should win, and the
  *    gap widens with cardinality — the funnel is linear in distincts
  *    on one thread, both exact passes are parallel aggregates);
  *  - past ~16.7M rows of one key, where the sketch's error bound no
  *    longer keeps the first slice under its cap, every rank is still
  *    read in at most one refine round: ≤ 4 jobs, whatever the ranks.
  *
  * Ignored by default. Opt in outside sbt's forked test groups: `sbt
  * testOnly` gives this suite the tier-1 fork heap, and the
  * `percentile()` reference then dies with an OOM on a 4-core, 16 GB
  * host. Run the ScalaTest runner on the exported test classpath with
  * a 6 GB heap and the `jdk17AddOpens` flags of build.sbt:
  *   CP=$(sbt --batch -Dsbt.log.noformat=true "export Test/fullClasspath" | tail -n 1)
  *   OPENS=$(for p in lang lang.invoke lang.reflect io net nio util util.concurrent \
  *       util.concurrent.atomic; do echo "--add-opens=java.base/java.$p=ALL-UNNAMED"; done;
  *     for p in nio.ch nio.cs security.action util.calendar; do
  *       echo "--add-opens=java.base/sun.$p=ALL-UNNAMED"; done)
  *   GRAFT_QUANTILE_SCALE=1 java -Xmx6g $OPENS -cp "$CP" \
  *     org.scalatest.tools.Runner -oD -s graft.QuantileScaleSpec
  * Measured numbers print to stderr for the round notes.
  */
class QuantileScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_QUANTILE_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** n rows, every value distinct (hash-derived uniform doubles) —
    * the worst case for percentile()'s map state: |map| == n */
  private def corpus(n: Long): DataFrame =
    spark.range(n).repartition(32)
      .select((pmod(xxhash64(col("id"), lit(7L)), lit(1L << 40)).cast("double")
        / lit(1024.0) + col("id") * lit(1e-7)).as("v"))

  scaleTest("exact quantiles at 8M distinct doubles: bit-identical to percentile(), no single-reducer wall") {
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    val df = corpus(8000000L).persist()
    df.count()
    try {
      val t0 = System.nanoTime()
      val funnel = df.agg(percentile(col("v"),
        array(qs.map(lit): _*)).as("p"))
        .head().getSeq[Double](0).toArray
      val funnelSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val selected = Quantiles.exactQuantiles(df, "v", qs)
      val selectSec = (System.nanoTime() - t1) / 1e9
      System.err.println(
        f"[quantile-scale] 8M distinct: percentile()=$funnelSec%.1fs " +
          f"exactQuantiles=$selectSec%.1fs ratio=${selectSec / funnelSec}%.2f")
      assert(selected.toSeq === funnel.toSeq,
        "exactQuantiles must stay BIT-identical to percentile() at scale")
      assert(selectSec <= funnelSec * 1.5,
        f"exactQuantiles ($selectSec%.1fs) must not degrade vs the " +
          f"percentile() funnel ($funnelSec%.1fs)")
    } finally { df.unpersist(false); () }
  }

  scaleTest("exact quantiles at 20M rows of one key: past the slice cap's bound, at most one refine round") {
    val n = 20000000L
    // a permutation of 0 until n (7919 is prime to n): every quantile is
    // known, with percentile()'s lo·(1−f) + hi·f
    val df = spark.range(n).select((col("id") * 7919L % n).cast("double").as("v"))
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    val expected = qs.map { q =>
      val r = q * (n - 1); val f = r - math.floor(r)
      math.floor(r) * (1.0 - f) + math.ceil(r) * f
    }
    var got = Array.empty[Double]
    val t0 = System.nanoTime()
    val jobs = JobCount(spark) { got = Quantiles.exactQuantiles(df, "v", qs) }
    val sec = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[quantile-scale] 20M rows, one key: exactQuantiles=$sec%.1fs jobs=$jobs")
    assert(got.toSeq === expected)
    assert(jobs <= 4, s"$jobs jobs: a bounds and a slice pass per round, two rounds")
  }
}
