package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EmbeddingOps

/** Opt-in SCALE gate for DBSCAN over embeddings: the operator composes
  * two pieces that each carry their own 1M gates (blocked ε-pairs from
  * embeddingNearDupPairs; pointer-jumping components), so this gate
  * checks the COMPOSITION stays sub-quadratic and recovers planted
  * structure at 30k/90k vectors (the uniform-noise fifth of the
  * fixture is adversarial for angular blocking — every noise row
  * probes a wide ring — so sizes stay modest to keep the opt-in gate
  * inside a CI budget; the components' own 1M gates cover raw scale).
  *
  * Fixture realism note: DBSCAN's ε-pair set is inherently quadratic
  * IN A BLOB (every member neighbors every other), so scale fixtures
  * must bound blob size the way real near-dup pockets are bounded —
  * n/50 blobs of ~40 members each (80% of rows) on hash-random 32-d
  * directions, plus 20% isolated-noise directions. Pair count is then
  * linear in n. eps is a TIGHT near-dup radius (0.05 cosine distance):
  * the angular blocking's expansion ring grows with arccos(1−eps), so
  * loose radii belong to coarse clustering (kMeansLloyd), not the
  * density operator — matching SemDeDup-style dedup practice.
  *
  *  - planted recovery: every blob resolves to ONE cluster (its min
  *    id), blob members are cores, isolated rows stay noise
  *  - 3x the rows < 9x the wall (margin wide per the r11 advice on
  *    wall-clock gates)
  *
  * Ignored by default; opt in with
  *   GRAFT_DBSCAN_SCALE=1 sbt "testOnly graft.DbscanScaleSpec"
  */
class DbscanScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_DBSCAN_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** n/50 blobs of ~40 members on hash-random 32-d directions + 20%
    * isolated noise rows; distributed generation, no driver data */
  private def vectors(n: Long): DataFrame = {
    val blobs = n / 50
    val base = spark.range(n).repartition(32)
      .withColumn("blob", col("id") % blobs)
      .withColumn("isNoise", col("id") % 5 === 4)
    base.select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(31)), i => {
        val dir = (pmod(xxhash64(col("blob"), i, lit(13L)), lit(2000L))
          .cast("double") - 1000.0) / 1000.0
        val jitter = (pmod(xxhash64(col("id"), i), lit(100L)).cast("double") -
          50.0) / 10000.0
        val noiseDir = (pmod(xxhash64(col("id"), i, lit(7L)), lit(2000L))
          .cast("double") - 1000.0) / 1000.0
        when(col("isNoise"), noiseDir.cast("float"))
          .otherwise((dir + jitter).cast("float"))
      }).as("embedding"))
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  scaleTest("30k/90k vectors: blobs recovered, noise isolated, sub-quadratic wall") {
    def run(n: Long): (Array[(Long, Long, String)], Double) = {
      val (rows, t) = timed(
        EmbeddingOps.dbscan(vectors(n), "vec_id", "embedding",
          eps = 0.05, minPts = 5, nClusters = 128)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))))
      (rows, t)
    }
    val (r1, t1) = run(30000L)
    val (r3, t3) = run(90000L)
    System.err.println(
      f"[dbscan-scale] 30k in ${t1}%.1fs, 90k in ${t3}%.1fs (ratio ${t3 / t1}%.2f)")
    def check(rows: Array[(Long, Long, String)], n: Long): Unit = {
      val blobs = n / 50
      val blobRows = rows.filter(r => r._1 % 5 != 4)
      val byBlob = blobRows.groupBy(_._1 % blobs)
      var split = 0; var mislabeled = 0
      byBlob.foreach { case (_, rs) =>
        val clusters = rs.map(_._2).distinct
        if (clusters.length != 1) split += 1
        else if (clusters.head != rs.map(_._1).min) mislabeled += 1
        assert(rs.forall(_._3 == "core"), "blob members must be cores")
      }
      assert(split === 0, s"$split of ${byBlob.size} blobs split")
      assert(mislabeled === 0, s"$mislabeled blobs not labeled by min id")
      val noise = rows.filter(r => r._1 % 5 == 4)
      val noiseFrac = noise.count(_._3 == "noise").toDouble / noise.length
      assert(noiseFrac > 0.95,
        f"random directions must stay noise: ${noiseFrac}%.3f")
    }
    check(r1, 30000L)
    check(r3, 90000L)
    assert(t3 / t1 < 9.0, f"3x rows cost ${t3 / t1}%.1fx wall")
  }
}
