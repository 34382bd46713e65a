package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Opt-in SCALE gate for the boilerplate/line dedup family (the
  * RefinedWeb drop-everywhere semantic), sibling of DedupScaleSpec:
  * exact line dedup at ~1M lines across ~125k documents.
  *
  *  - synthetic corpus: 8-line docs, each line ~8 words from xxhash64
  *    (distributed, seed-stable generation); every doc's line 0 is ONE
  *    of 3 rotating "cookie banner" boilerplate lines (df ~ 42k docs
  *    each) and every doc also carries a blank structural line; the
  *    remaining lines are globally unique
  *  - correctness AT SCALE: boilerplate vanishes from EVERY doc, blank
  *    lines survive everywhere, unique lines all survive
  *  - 10x data must cost well under the quadratic ~100x (the df agg is
  *    a two-phase distinct on (md5, id) pairs; gate allows 50x for
  *    host noise)
  *
  * Ignored by default; opt in with
  *   GRAFT_BOILERPLATE_SCALE=1 sbt "testOnly graft.BoilerplateScaleSpec"
  * Measured numbers print to stderr for the round notes.
  */
class BoilerplateScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_BOILERPLATE_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** nDocs docs of 8 lines: line 0 = one of 3 boilerplate banners,
    * line 3 = blank, others globally unique (doc-id-salted words) */
  private def corpus(nDocs: Long): DataFrame = {
    def word(docId: Column, li: Column, j: Column): Column =
      concat(lit("w"), pmod(xxhash64(docId, li, j, lit(17L)), lit(1000000L)))
    val banner = concat(lit("accept cookies banner variant "), pmod(col("id"), lit(3)))
    spark.range(nDocs).repartition(32).select(col("id"),
      concat_ws("\n", transform(sequence(lit(0), lit(7)), li =>
        when(li === 0, banner)
          .when(li === 3, lit(""))
          .otherwise(concat_ws(" ",
            transform(sequence(lit(0), lit(7)), j => word(col("id"), li, j)))))).as("text"))
  }

  scaleTest("line dedup at 1M lines: boilerplate gone everywhere, structure kept, sub-quadratic vs 10x less") {
    def run(nDocs: Long): Double = {
      val c = corpus(nDocs).persist()
      c.count()
      val t0 = System.nanoTime()
      val out = Dedup.lineDedup(c, "id", "text", minDf = 2).persist()
      val agg = out.agg(
        count(lit(1)),
        sum(col("n_chunks")),
        sum(col("n_kept")),
        sum(when(col("text_clean").contains("accept cookies"), 1L).otherwise(0L)),
        sum(when(col("text_clean").startsWith("\n") || // blank line 3 kept => split keeps empty slot
          col("text_clean").contains("\n\n"), 1L).otherwise(0L))).head()
      val sec = (System.nanoTime() - t0) / 1e9
      val (nOut, nLines, nKept, nBanner, nBlankKept) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3), agg.getLong(4))
      System.err.println(
        f"[boilerplate-scale] docs=$nDocs%d lines=$nLines%d: wall=$sec%.1fs kept=$nKept%d")
      assert(nOut === nDocs, "every doc rebuilt")
      assert(nLines === nDocs * 8, "8 lines per doc")
      // banner (df ~ nDocs/3) dropped from EVERY doc; blank + 6 unique kept
      assert(nKept === nDocs * 7, "exactly the banner line drops per doc")
      assert(nBanner === 0L, "boilerplate must survive NOWHERE")
      assert(nBlankKept === nDocs, "the blank structural line survives everywhere")
      c.unpersist(); out.unpersist()
      sec
    }
    val sS = run(12500L)   // 100k lines
    val sL = run(125000L)  // 1M lines
    assert(sL < 50 * sS, f"10x data cost ${sL / sS}%.1fx (quadratic would be ~100x)")
  }
}
