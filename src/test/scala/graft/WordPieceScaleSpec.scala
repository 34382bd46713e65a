package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WordPiece

/** Opt-in SCALE gate for the WordPiece trainer — completes the trainer
  * triad's scale posture (BPE: BpeSpec + bench; Unigram:
  * UnigramScaleSpec; WordPiece: this).
  *
  *  - synthetic corpora of 200k and 1M DISTINCT words (8 chars over a
  *    10-letter alphabet, derived from the row id — distributed,
  *    seed-free generation, the UnigramScaleSpec fixture)
  *  - per-merge-round wall must scale ~linearly in the distinct-word
  *    count: 5x the words < 15x the wall (quadratic would be ~25x;
  *    margin wide per the r11 advice on timing gates)
  *  - STRUCTURAL gate: training collects exactly ONE argmax row per
  *    merge round — the merge list length is the round count, and the
  *    result is identical across runs (determinism at 1M words)
  *
  * Ignored by default; opt in with
  *   GRAFT_WORDPIECE_SCALE=1 sbt "testOnly graft.WordPieceScaleSpec"
  */
class WordPieceScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_WORDPIECE_SCALE")) test(name)(body)
    else ignore(name)(body)

  private def corpus(n: Long): DataFrame =
    spark.range(n).repartition(32).select(
      translate(format_string("%08d", col("id")),
        "0123456789", "abcdefghij").as("text"))

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  scaleTest("merge rounds scale ~linearly in distinct words; 1M-word train is deterministic") {
    val rounds = 4
    val (m200, t200) = timed(WordPiece.train(corpus(200000L), "text", rounds))
    val (m1m, t1m) = timed(WordPiece.train(corpus(1000000L), "text", rounds))
    System.err.println(
      f"[wordpiece-scale] $rounds rounds: 200k words ${t200}%.1fs, 1M words ${t1m}%.1fs (ratio ${t1m / t200}%.2f, linear = 5x)")
    assert(m200.length === rounds && m1m.length === rounds)
    assert(t1m / t200 < 15.0,
      f"5x words must not cost ${t1m / t200}%.1fx wall (quadratic ~ 25x)")
    val (m1mB, _) = timed(WordPiece.train(corpus(1000000L), "text", rounds))
    assert(m1m === m1mB, "1M-word training must be run-to-run deterministic")
  }
}
