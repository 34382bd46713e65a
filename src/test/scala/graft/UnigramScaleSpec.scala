package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Unigram

/** Opt-in SCALE gate for the unigram-LM (SentencePiece) EM trainer —
  * the one heavy trainer without a scale posture until r12 (BPE has
  * BpeSpec + the bench; LSH/BM25/ANN/graphs all have 1M gates).
  *
  *  - synthetic corpora of 200k and 1M DISTINCT words (8 chars over a
  *    10-letter alphabet, derived from the row id — distributed,
  *    seed-free generation)
  *  - per-EM-round wall-time must scale ~linearly in the distinct-word
  *    count: 5x the words < 15x the wall (quadratic would be ~25x;
  *    margin wide per the r11 advice on timing gates)
  *  - STRUCTURAL driver gate: the only data that may reach the driver
  *    is the bounded piece-count table (seed collect + one count table
  *    per EM round — all capped by seedSize, none by the corpus), so
  *    the summed task-result bytes of the 1M-word train must stay
  *    within 3x of the 200k train's
  *
  * Ignored by default; opt in with
  *   GRAFT_UNIGRAM_SCALE=1 sbt "testOnly graft.UnigramScaleSpec"
  * Measured numbers print to stderr for the round notes.
  */
class UnigramScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_UNIGRAM_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** one distinct 8-char word per row: id zero-padded then mapped to
    * letters, so word count == row count exactly */
  private def corpus(n: Long): DataFrame =
    spark.range(n).repartition(32).select(
      translate(format_string("%08d", col("id")),
        "0123456789", "abcdefghij").as("text"))

  private final class ResultBytes extends SparkListener {
    val bytes = new AtomicLong(0L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) { bytes.addAndGet(e.taskMetrics.resultSize); () }
  }

  scaleTest("unigram EM at 1M distinct words: ~linear per-round wall, driver sees only the bounded count table") {
    def run(n: Long): (Double, Long, Int) = {
      val c = corpus(n).persist()
      c.count()
      val listener = new ResultBytes
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val r = Unigram.train(c, "text", vocabSize = 500,
        maxPieceLen = 6, seedSize = 5000, emRounds = 1)
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      c.unpersist()
      System.err.println(
        f"[unigram-scale] n=$n%d: train=$sec%.1fs driver-result-bytes=${listener.bytes.get()}%d pieces=${r.pieces.size}%d")
      (sec, listener.bytes.get(), r.pieces.size)
    }
    val (sS, bS, pS) = run(200000L)
    val (sL, bL, pL) = run(1000000L)
    // the model stays bounded by vocabSize + alphabet at every scale
    assert(pS <= 500 + 16 && pL <= 500 + 16, s"vocab leak: $pS / $pL pieces")
    // EM rounds are one flatMap + one hash-agg over the word table:
    // 5x the words should cost ~5x, never word-count-squared
    assert(sL < 15 * sS,
      f"5x words cost ${sL / sS}%.1fx — EM round is not linear in words")
    // the E-step's collect is the piece-count table (<= seedSize keys),
    // NOT the corpus: driver traffic must not scale with the words
    assert(bL < 3 * bS + (1L << 20),
      s"driver result bytes scaled with the corpus: $bS -> $bL")
  }
}
