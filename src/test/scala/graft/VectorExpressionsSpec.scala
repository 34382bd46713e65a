package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.gf

class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  private def df2(a: Array[Float], b: Array[Float]) = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
  }
  private def d1(c: org.apache.spark.sql.Column, a: Array[Float], b: Array[Float]): Double =
    df2(a, b).select(c.as("r")).head().getDouble(0)

  test("cosine similarity matches hand computation") {
    val a = Array(1.0f, 2.0f, 3.0f); val b = Array(4.0f, 5.0f, 6.0f)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(d1(gf.cosine_similarity(col("a"), col("b")), a, b) - expected) < 1e-12)
  }

  test("cosine of identical vectors is 1") {
    val a = Array(0.5f, -0.25f, 0.125f)
    assert(math.abs(d1(gf.cosine_similarity(col("a"), col("b")), a, a) - 1.0) < 1e-12)
  }

  test("dot / l1 / l2 / linf") {
    val a = Array(1.0f, 2.0f, 3.0f); val b = Array(2.0f, 2.0f, 1.0f)
    assert(d1(gf.dot(col("a"), col("b")), a, b) === 9.0)
    assert(d1(gf.l1_norm(col("a"), col("b")), a, b) === 3.0)
    assert(math.abs(d1(gf.l2_norm(col("a"), col("b")), a, b) - math.sqrt(5.0)) < 1e-12)
    assert(d1(gf.linf_norm(col("a"), col("b")), a, b) === 2.0)
  }

  test("hamming counts differing elements incl. length mismatch") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 9.0f))).toDF("a", "b")
    val r = df.select(gf.hamming_distance(col("a"), col("b")).as("h")).head().getLong(0)
    assert(r === 2L) // one differing + one length overhang
  }

  test("null array yields null") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]])).toDF("a", "b")
    assert(df.select(gf.cosine_similarity(col("a"), col("b"))).head().isNullAt(0))
  }

  test("maxsim = sum over query of max cosine over doc") {
    import spark.implicits._
    val doc = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    val query = Array(Array(1.0f, 0.0f), Array(1.0f, 1.0f))
    val df = Seq((doc, query)).toDF("doc", "q")
    val got = df.select(gf.maxsim(col("doc"), col("q")).as("m")).head().getDouble(0)
    // q1: max(1, 0) = 1 ; q2: max(1/sqrt2, 1/sqrt2) = 1/sqrt2
    assert(math.abs(got - (1.0 + 1.0 / math.sqrt(2.0))) < 1e-12)
  }

  test("vector expressions run inside whole-stage codegen over a real scan") {
    // a local Seq would be constant-folded into LocalTableScan, so read parquet
    val e = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val df = e.select(gf.cosine_similarity(col("embedding"), col("embedding")).as("c"))
    // codegen stages print as `*(n)` in the simple plan string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_similarity"),
      s"expected cosine_similarity inside a codegen stage:\n$plan")
    val vals = df.collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-9), "self-cosine must be 1")
  }

  test("any/all/all_strict semantics incl. empty array") {
    import spark.implicits._
    val df = Seq(
      (1, Array(true, false)), (2, Array(true, true)), (3, Array.empty[Boolean])
    ).toDF("id", "c")
    val r = df.select(col("id"), gf.any_(col("c")).as("any"),
        gf.all_(col("c")).as("all"), gf.all_strict(col("c")).as("alls"))
      .orderBy(col("id")).collect()
    assert(r(0).getBoolean(1) && !r(0).getBoolean(2) && !r(0).getBoolean(3))
    assert(r(1).getBoolean(1) && r(1).getBoolean(2) && r(1).getBoolean(3))
    assert(!r(2).getBoolean(1) && r(2).getBoolean(2) && !r(2).getBoolean(3)) // ALL true, ALL_STRICT false on empty
  }

  test("quantize / tsum / mean_pool_rows") {
    import spark.implicits._
    val df = Seq(Tuple1(Array(0.5f, -0.5f, 0.0f))).toDF("a")
    assert(df.select(gf.tsum(gf.quantize(col("a")))).head().getDouble(0) === 1.0)
    val bag = Seq(Tuple1(Array(Array(1.0f, 3.0f), Array(3.0f, 5.0f)))).toDF("bag")
    val pooled = bag.select(gf.mean_pool_rows(col("bag"))).head().getSeq[Double](0)
    assert(pooled === Seq(2.0, 4.0))
  }

  test("vector kernels reject mismatched lengths; AVG of empty is NULL") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(gf.cosine_similarity(col("a"), col("b"))).collect()
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(root(e).getMessage.contains("length mismatch"), root(e).getMessage)
    // nulls still propagate as null, not as an error
    val withNull = Seq((Array(1.0f), Option.empty[Array[Float]])).toDF("a", "b")
    assert(withNull.select(gf.dot(col("a"), col("b"))).head().isNullAt(0))
    // AVG/MEAN over an empty slice is NULL
    val empty = Seq(Tuple1(Array.empty[Float])).toDF("a")
    assert(empty.select(gf.tavg(col("a"))).head().isNullAt(0))
  }

  test("MMR: diversity defers redundant results; lambda=1 is pure relevance; deterministic") {
    import spark.implicits._
    import graft.operators.HybridSearch
    // B duplicates A's vector; C is orthogonal but less relevant
    val cands = Seq(
      (1L, 1.00, Array(1.0, 0.0)),
      (2L, 0.95, Array(1.0, 0.0)),
      (3L, 0.50, Array(0.0, 1.0))
    ).toDF("id", "score", "vec")
    def order(lambda: Double): Seq[Long] =
      HybridSearch.mmr(cands, k = 3, lambda = lambda)
        .orderBy(col("mmr_rank")).collect().map(_.getLong(0)).toSeq
    // diversity-weighted: the orthogonal C overtakes the duplicate B
    assert(order(0.5) === Seq(1L, 3L, 2L))
    // pure relevance: plain score order
    assert(order(1.0) === Seq(1L, 2L, 3L))
    // deterministic across runs
    assert(order(0.5) === order(0.5))
    // k caps the output
    assert(HybridSearch.mmr(cands, k = 2).count() === 2L)
  }

  test("matryoshka: unit norm, full-dims identity ranking, zero prefix -> NULL") {
    import spark.implicits._
    import graft.operators.EmbeddingOps
    val df = Seq(
      (1L, Array(3.0f, 4.0f, 0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f, 2.0f, 2.0f)),
      (3L, Array(0.0f, 0.0f, 5.0f, 5.0f)) // zero 2-dim prefix
    ).toDF("id", "embedding")
    val t2 = EmbeddingOps.matryoshka(df, "embedding", 2)
      .select(col("id"), col("vec_trunc")).collect()
      .map(r => r.getLong(0) ->
        Option(r.get(1)).map(_.asInstanceOf[scala.collection.Seq[Double]])).toMap
    // renormalized: (3,4) -> (0.6, 0.8)
    assert(t2(1L).get.zip(Seq(0.6, 0.8)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // every non-null output has unit L2 norm
    t2.values.flatten.foreach { v =>
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
    }
    // zero prefix degrades to NULL, not a divide-by-zero vector
    assert(t2(3L).isEmpty)
    // dims = full width: renormed dot equals full cosine for every pair
    val t4 = EmbeddingOps.matryoshka(df, "embedding", 4)
    val both = t4.select(col("id"), col("vec_trunc"), col("embedding"))
    val x = both.as("a").crossJoin(both.as("b"))
      .select(gf.dot(col("a.vec_trunc"), col("b.vec_trunc")).as("d"),
        gf.cosine_similarity(col("a.embedding"), col("b.embedding")).as("c"))
      .collect()
    x.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6))
  }

  test("hardNegatives: other-label only, anchor excluded, contiguous ranks") {
    import spark.implicits._
    import graft.operators.SimilaritySearch
    // 3 labels x 4 vectors; anchor 0 (label 0) — its nearest same-label
    // twin (id 1, identical vector) must NOT appear
    val df = (0L to 11L).map { i =>
      val lab = (i % 3).toInt
      (i, Array.tabulate(4)(d => if (d == lab) 1.0f else 0.001f * i), lab)
    }.toDF("id", "vec", "label")
    val out = SimilaritySearch.hardNegatives(df, "id", "vec", "label",
        anchorPred = col("id") === 0, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(out.length === 5)
    val labels = df.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    out.foreach { case (qid, id, _) =>
      assert(id !== qid)
      assert(labels(id) !== labels(qid), s"negative $id shares anchor label")
    }
    assert(out.map(_._3).sorted.toSeq === Seq(1, 2, 3, 4, 5))
  }
}
