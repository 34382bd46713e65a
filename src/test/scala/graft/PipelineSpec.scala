package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, TextAnalysis => TA}

/** End-to-end corpus → training-shards integration: the operators are
  * individually oracle/spec-gated; this suite gates their COMPOSITION —
  * quality filter → chunk dedup → decontamination → tokenize →
  * model-input materialization → sequence packing → sharded export —
  * the actual pipeline a pretraining run executes, asserting the
  * invariants each stage must preserve for the next. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("corpus to training shards: filters, dedup, decontamination and export compose") {
    // boilerplate-enriched corpus so chunk dedup has real work
    val p1 = "standard boilerplate disclaimer repeated across many documents verbatim"
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), concat(
        when(col("doc_id") % 3 === 0, lit(p1 + " ")).otherwise(lit("")),
        col("text")).as("text"))
      .persist()

    // 1. quality gate (Gopher rules over the raw text)
    val m = docs.select(Seq(col("doc_id"), col("text")) ++
      TA.ruleMetrics(col("text")).map { case (n, c) => c.as(n) }: _*)
    val kept = m.filter(TA.ruleKeep(TA.ruleFlags(n => col(n)).map(_._2)))
      .select(col("doc_id"), col("text"))
    val nKept = kept.count()
    assert(nKept > 0 && nKept < docs.count(), "quality gate must actually filter")

    // 2. chunk-level dedup; fully-deduplicated docs drop out
    val deduped = Dedup.chunkDedup(kept, "doc_id", "text", 8)
      .filter(col("n_kept") > 0)
      .select(col("id").as("doc_id"), col("text_clean").as("text"))
    assert(deduped.count() <= nKept)
    // the shared boilerplate chunk survives in EXACTLY one doc
    val boiler = deduped.filter(col("text").contains(p1)).count()
    assert(boiler === 1L, s"boilerplate survived in $boiler docs")

    // 3. decontamination against a held-out eval set (planted overlap:
    // eval docs ARE corpus docs, so containment must catch them)
    val eval = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("text").as("eval_text"))
    val contaminated = Dedup.crossCorpusContainment(
        deduped, "doc_id", "text", eval, "eval_id", "eval_text")
      .select(col("train_id")).distinct()
    val clean = deduped.join(contaminated,
      deduped("doc_id") === contaminated("train_id"), "left_anti")
    val evalIds = eval.select(col("eval_id")).collect().map(_.getLong(0)).toSet
    val cleanIds = clean.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // planted-overlap eval docs that survived to this stage must be gone
    assert(cleanIds.intersect(evalIds).isEmpty, "contaminated docs survived")
    assert(cleanIds.nonEmpty)

    // 4. tokenize + fixed-length model inputs
    val enc = TA.encodeWithVocab(clean, clean, "doc_id", "text", vocabSize = 64)
    val inputs = TA.modelInputs(enc, "token_ids", maxLen = 32, padId = 0)
    val shapes = inputs.select(
        size(col("input_ids")).as("li"), size(col("attention_mask")).as("lm"),
        col("n_real"),
        aggregate(col("attention_mask"), lit(0), (a, x) => a + x).as("msum"))
      .collect()
    shapes.foreach { r =>
      assert(r.getInt(0) === 32 && r.getInt(1) === 32, "fixed-length violated")
      assert(r.getInt(2) === r.getInt(3), "mask sum != real length")
    }

    // 5. pack by real token count; no bin exceeds the budget
    val packed = TA.packSequences(
      inputs.select(col("id").as("doc_id"), col("n_real")), "doc_id", "n_real", 128)
    val binLoads = packed.groupBy(col("bin_id")).agg(sum(col("n_tokens")).as("load"))
      .collect().map(_.getLong(1))
    assert(binLoads.forall(_ <= 128), "bin over budget")
    assert(packed.count() === clean.count(), "packing lost or duplicated docs")

    // 6. sharded export + manifest: every clean doc lands exactly once
    val tmp = java.nio.file.Files.createTempDirectory("graft_pipeline").toFile
    try {
      val shards = graft.sources.Batches.exportShards(
        clean, "doc_id", tmp.toString, targetRowsPerShard = 40)
      assert(shards.map(_.rows).sum === clean.count())
      val back = spark.read.parquet(shards.map(_.path): _*)
      assert(back.count() === clean.count())
      assert(back.select(col("doc_id")).distinct().count() === clean.count())
      // round-trip fidelity: the deduped text survives export byte-for-byte
      val a = clean.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
      val b = back.select(col("doc_id"), col("text")).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(a.toSeq === b.toSeq)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(tmp)
    }
    docs.unpersist()
  }

  test("mlmMask: deterministic, ~15% selection, 80/10/10 actions, out respects action") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val m = graft.operators.TextAnalysis.mlmMask(docs, "doc_id", "text")
      .persist()
    val total = docs.select(explode(split(col("text"), " "))).count().toDouble
    val sel = m.count().toDouble
    assert(math.abs(sel / total - 0.15) < 0.02,
      s"selection rate ${sel / total} drifted from 0.15")
    val byAction = m.groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byAction("mask") / sel - 0.8) < 0.05)
    assert(math.abs(byAction.getOrElse("random", 0L) / sel - 0.1) < 0.04)
    assert(math.abs(byAction.getOrElse("keep", 0L) / sel - 0.1) < 0.04)
    // action semantics
    assert(m.filter(col("action") === "mask" && col("out") =!= "[MASK]").count() === 0)
    assert(m.filter(col("action") === "keep" && col("out") =!= col("token")).count() === 0)
    // random replacements come from the same document's token set
    val bad = m.filter(col("action") === "random")
      .join(docs, "doc_id")
      .filter(!array_contains(split(col("text"), " "), col("out")))
    assert(bad.count() === 0, "random replacement must be an in-doc token")
    // determinism: a second build is row-identical
    val m2 = graft.operators.TextAnalysis.mlmMask(docs, "doc_id", "text")
    assert(m.exceptAll(m2).count() === 0 && m2.exceptAll(m).count() === 0)
    m.unpersist(); ()
  }

  test("fimTransform: PSM parts reassemble to the original; passthrough untouched; rate respected") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val f = graft.operators.TextAnalysis.fimTransform(docs, "doc_id", "text",
      fimRate = 0.5).join(docs, "doc_id").persist()
    val n = f.count().toDouble
    val applied = f.filter(col("fim_applied")).count().toDouble
    assert(math.abs(applied / n - 0.5) < 0.05, s"apply rate ${applied / n}")
    // reassembly: pre + mid + suf == original text, char-exact
    val parts = f.filter(col("fim_applied")).withColumn("pre",
        regexp_extract(col("out"), "(?s)<\\|fim_pre\\|>(.*?)<\\|fim_suf\\|>", 1))
      .withColumn("suf",
        regexp_extract(col("out"), "(?s)<\\|fim_suf\\|>(.*?)<\\|fim_mid\\|>", 1))
      .withColumn("mid", regexp_extract(col("out"), "(?s)<\\|fim_mid\\|>(.*)$", 1))
    assert(parts.filter(concat(col("pre"), col("mid"), col("suf")) =!= col("text"))
      .count() === 0, "PSM reassembly must be exact")
    assert(parts.filter(col("lo") > col("hi")).count() === 0)
    assert(f.filter(!col("fim_applied") && col("out") =!= col("text"))
      .count() === 0, "passthrough rows must be byte-identical")
    f.unpersist(); ()
  }

  test("skipGramPairs: hand-checked window pairs; boundary positions truncate") {
    import spark.implicits._
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.skipGramPairs(df, "doc_id", "text", window = 2)
      .collect().map(r => (r.getLong(1), r.getString(2), r.getString(3))).toSet
    val want = Set(
      (1L, "a", "b"), (1L, "a", "c"),
      (2L, "b", "a"), (2L, "b", "c"), (2L, "b", "d"),
      (3L, "c", "a"), (3L, "c", "b"), (3L, "c", "d"),
      (4L, "d", "b"), (4L, "d", "c"))
    assert(got === want, s"got $got")
  }

  test("negativeSamples: draws follow unigram^0.75, deterministic, k per pair") {
    import spark.implicits._
    import graft.operators.{Sampling, TextAnalysis}
    // corpus with a heavily skewed vocab: 'x' 100, 'y' 10, 'z' 1
    val corpus = (Seq.fill(100)("x") ++ Seq.fill(10)("y") ++ Seq("z")).mkString(" ")
    val docs = Seq((1L, corpus)).toDF("doc_id", "text")
    val vocab = docs.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val pairs = TextAnalysis.skipGramPairs(docs, "doc_id", "text", window = 1)
    val neg = Sampling.negativeSamples(pairs, "doc_id", "pos", vocab,
      "token", "c", k = 4).persist()
    // exactly k draws per (pos, context) pair
    assert(neg.count() === pairs.count() * 4)
    // empirical shares track the ^0.75 noise distribution
    val byTok = neg.groupBy("negative").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = Map("x" -> math.pow(100, 0.75), "y" -> math.pow(10, 0.75),
      "z" -> 1.0)
    val z = w.values.sum
    val n = byTok.values.sum.toDouble
    w.foreach { case (t, wt) =>
      val expect = wt / z
      val gotShare = byTok.getOrElse(t, 0L) / n
      assert(math.abs(gotShare - expect) < 0.05,
        s"$t share $gotShare vs expected $expect")
    }
    // determinism
    val neg2 = Sampling.negativeSamples(pairs, "doc_id", "pos", vocab,
      "token", "c", k = 4)
    assert(neg.exceptAll(neg2).count() === 0 && neg2.exceptAll(neg).count() === 0)
    neg.unpersist(); ()
  }
}
