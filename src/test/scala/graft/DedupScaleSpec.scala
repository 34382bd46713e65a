package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Opt-in SCALE gate for the near-dup pipeline, the sibling of
  * AnnScaleSpec: MinHash-LSH pair detection at ~1M documents.
  *
  *  - synthetic corpus (80-word docs over a 10k vocabulary, every word
  *    derived from xxhash64 — distributed, seed-stable generation)
  *  - 1% planted near-dup pairs: doc (k·100+1) repeats doc (k·100)
  *    with its FIRST word replaced (3-gram Jaccard ≈ 0.96, far above
  *    the 0.8 threshold)
  *  - recall of the planted pairs ≥ 0.95 at 1M, and banded-LSH
  *    wall-time grows sub-quadratically vs a 10x-smaller fixture
  *    (quadratic would be ~100x; the gate allows 50x for host noise)
  *
  * Ignored by default; opt in with
  *   GRAFT_DEDUP_SCALE=1 sbt "testOnly graft.DedupScaleSpec"
  * Measured numbers print to stderr for the round notes.
  */
class DedupScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_DEDUP_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** doc id's word source: dup docs (id % 100 == 1) draw the SAME words
    * as id−1 except position 0, which becomes a distinct marker */
  private def corpus(n: Long): DataFrame = {
    val base = when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id"))
    def word(docId: Column, j: Column): Column =
      concat(lit("w"), pmod(xxhash64(docId, j, lit(11L)), lit(10000L)))
    spark.range(n).repartition(32).select(col("id"),
      concat_ws(" ", transform(sequence(lit(0), lit(79)), j =>
        when(col("id") % 100 === 1 && j === 0,
          concat(lit("uniq"), col("id")))
          .otherwise(word(base, j)))).as("text"))
  }

  scaleTest("MinHash-LSH near-dup pairs at 1M docs: planted recall >= 0.95, sub-quadratic vs 100k") {
    def run(n: Long): (Double, Double) = {
      val c = corpus(n).persist()
      c.count()
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashLshPairs(c, "id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b")).persist()
      val nPairs = pairs.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // planted: (k*100, k*100+1) for k*100+1 < n
      val planted = c.sparkSession.range(n / 100)
        .select((col("id") * 100).as("id_a"), (col("id") * 100 + 1).as("id_b"))
        .filter(col("id_b") < n)
      val nPlanted = planted.count().toDouble
      val hit = planted.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
      val recall = hit / nPlanted
      System.err.println(
        f"[dedup-scale] n=$n%d: lsh=$sec%.1fs pairs=$nPairs%d planted=$nPlanted%.0f recall=$recall%.3f")
      c.unpersist(); pairs.unpersist()
      (sec, recall)
    }
    val (sS, rS) = run(100000L)
    val (sL, rL) = run(1000000L)
    assert(rS >= 0.95 && rL >= 0.95, s"planted recall: 100k=$rS 1M=$rL")
    assert(sL < 50 * sS, f"10x data cost ${sL / sS}%.1fx (quadratic would be ~100x)")
  }

  scaleTest("Bloom decontamination at 200k train docs: same answer, prefilter kills the shuffle") {
    // train: 200k synthetic docs; eval: 500 docs, 100 of which are
    // verbatim train copies (planted contamination), 400 disjoint
    val train = corpus(200000L).select(col("id").as("doc_id"), col("text"))
      .persist()
    train.count()
    val planted = train.filter(col("doc_id") % 2000 === 7)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val disjoint = spark.range(400).select(
      (col("id") + 20000000L).as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(79)), j =>
        concat(lit("z"), pmod(xxhash64(col("id"), j, lit(13L)), lit(10000L)))))
        .as("text"))
    val evalDf = planted.unionByName(disjoint).persist()
    evalDf.count()
    def pairs(df: DataFrame) = df.select("eval_id", "train_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (exact, tExact) = {
      val t0 = System.nanoTime()
      val p = pairs(Dedup.crossCorpusContainment(train, "doc_id", "text",
        evalDf, "doc_id", "text", n = 3, threshold = 0.8))
      (p, (System.nanoTime() - t0) / 1e9)
    }
    val (bloomed, tBloom) = {
      val t0 = System.nanoTime()
      val p = pairs(Dedup.crossCorpusContainmentBloom(train, "doc_id", "text",
        evalDf, "doc_id", "text", n = 3, threshold = 0.8))
      (p, (System.nanoTime() - t0) / 1e9)
    }
    System.err.println(
      f"[dedup-scale] bloom decon 200k train docs: exact ${tExact}%.2fs, bloom ${tBloom}%.2fs, ${exact.size} contaminated pairs")
    assert(bloomed === exact, "bloom route must return the exact answer")
    assert(exact.size >= 100, s"planted contamination must surface: ${exact.size}")
    // STRUCTURAL gate (wall-clock ratios were machine-noise flaky even
    // opt-in — r11 advice): measure what the prefilter is FOR — the
    // fraction of train shingles that survive into the shuffle. On this
    // ~0.05%-contaminated corpus at 1% fpp the survivors are planted
    // shingles + FPs, a few percent at most; gate at 10%. Timing above
    // stays as logged evidence only.
    import graft.operators.TextAnalysis.{tokens, shingles}
    val evalSh = evalDf.select(explode(shingles(tokens(col("text")), 3)).as("s"))
    val bloom = evalSh.stat.bloomFilter("s", 1000000L, 0.01)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bloomB.value.mightContainString(s))
    val trainSh = train.select(explode(shingles(tokens(col("text")), 3)).as("s")).persist()
    val totalSh = trainSh.count().toDouble
    val survivors = trainSh.filter(mightContain(col("s"))).count().toDouble
    trainSh.unpersist(); bloomB.destroy()
    System.err.println(
      f"[dedup-scale] prefilter: ${survivors}%.0f of ${totalSh}%.0f train shingles survive (${100 * survivors / totalSh}%.2f%%)")
    assert(survivors <= 0.10 * totalSh,
      f"bloom prefilter must cut >=90%% of the train-shingle shuffle; survived ${100 * survivors / totalSh}%.1f%%")
    train.unpersist(); evalDf.unpersist(); ()
  }
}
