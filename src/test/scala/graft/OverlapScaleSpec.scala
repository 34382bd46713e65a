package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Opt-in SCALE gate for the corpus-overlap pair: exact matrix vs the
  * KMV bottom-k sketch at ~200k docs / ~15M shingle instances.
  *
  *  - synthetic corpus: 8 sources, 25k docs each, 80-word docs over
  *    per-source vocabularies; sources 2k and 2k+1 share HALF their
  *    vocabulary (planted overlap), other pairs are disjoint
  *  - the sketch's Jaccard estimates must sit within ±0.05 absolute of
  *    the exact operator's on every pair, and its distinct-count
  *    estimates within 10% relative
  *  - the sketch pass must be FASTER than the exact matrix (its whole
  *    point: one fixed-state agg vs a corpus-wide distinct shuffle +
  *    per-shingle set agg)
  *
  * Ignored by default; opt in with
  *   GRAFT_OVERLAP_SCALE=1 sbt "testOnly graft.OverlapScaleSpec"
  * Measured numbers print to stderr for the round notes.
  */
class OverlapScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_OVERLAP_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** shingle overlap needs shared word SEQUENCES, not shared vocab:
    * sources 2k and 2k+1 generate IDENTICAL first doc-halves for the
    * same base id (their pair-group seeds the words), while second
    * halves are source-unique — so exactly the 4 even/odd pairs overlap
    * (true Jaccard ≈ 38/(2·79−38) ≈ 0.32) and every other pair is
    * disjoint */
  private def corpus(docsPerSource: Long): DataFrame = {
    val src = expr("CAST(id % 8 AS INT)")
    val grp = expr("CAST((id % 8) DIV 2 AS INT)")
    val dBase = expr("id DIV 8")
    def sharedWord(j: Column): Column =
      concat(lit("p"), grp, lit("_"), pmod(xxhash64(grp, dBase, j, lit(31L)), lit(50000L)))
    def ownWord(j: Column): Column =
      concat(lit("q"), src, lit("_"), pmod(xxhash64(src, dBase, j, lit(37L)), lit(50000L)))
    spark.range(docsPerSource * 8).repartition(32).select(
      concat(lit("s"), src).as("source"),
      concat_ws(" ", transform(sequence(lit(0), lit(79)), j =>
        when(j < 40, sharedWord(j)).otherwise(ownWord(j)))).as("text"))
  }

  scaleTest("KMV overlap sketch at 200k docs: within tolerance of exact, and faster") {
    val c = corpus(25000L).persist()
    c.count()
    val t0 = System.nanoTime()
    val exact = Dedup.corpusOverlap(c, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(5)))).toMap
    val exactSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val sk = Dedup.corpusOverlapSketch(c, "source", "text", k = 1024)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(4)))).toMap
    val skSec = (System.nanoTime() - t1) / 1e9
    System.err.println(
      f"[overlap-scale] exact=$exactSec%.1fs sketch=$skSec%.1fs pairs=${sk.size}%d")
    // every overlapping pair estimated within ±0.05 absolute
    exact.foreach { case (pair, (nA, jac)) =>
      val (eNA, eJac) = sk(pair)
      assert(math.abs(eJac - jac) <= 0.05, s"$pair: sketch $eJac vs exact $jac")
      assert(math.abs(eNA - nA).toDouble / nA <= 0.10,
        s"$pair: distinct est $eNA vs exact $nA")
    }
    // non-overlapping pairs estimate (near) zero
    sk.filterNot { case (p, _) => exact.contains(p) }.foreach { case (p, (_, j)) =>
      assert(j <= 0.01, s"disjoint pair $p estimated $j")
    }
    assert(sk.size === 8 * 7 / 2, "full matrix emitted")
    assert(skSec < exactSec, f"sketch ($skSec%.1fs) must beat exact ($exactSec%.1fs)")
    c.unpersist()
  }
}
