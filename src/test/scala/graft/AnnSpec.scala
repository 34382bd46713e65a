package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AnnIndex

/** ANN recall gate, mirroring the reference's embedding-quality test
  * (postgres/tests/py_tests/test_embedding_quality.py: KNN on seeded
  * random vectors must beat a minimum pass count vs exact results). */
class AnnSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  private def emb = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")

  test("default config recall@10 >= 0.6 on random vectors") {
    val queries = emb.filter(col("vec_id") < 10)
    val r = AnnIndex.recallAtK(spark, emb, queries, "vec_id", "embedding",
      k = 10, AnnIndex.SearchConfig(), nClusters = 16)
    assert(r >= 0.6, s"recall@10 = $r")
  }

  test("high-accuracy config (probe all clusters) recall@10 = 1.0") {
    val queries = emb.filter(col("vec_id") < 10)
    val r = AnnIndex.recallAtK(spark, emb, queries, "vec_id", "embedding",
      k = 10, AnnIndex.SearchConfig(accuracyFactor = 20, clusterSearchFactor = 8.0),
      nClusters = 16)
    assert(r === 1.0, s"recall@10 = $r (exhaustive probe must equal exact)")
  }

  test("quantized index: recall@10 non-decreasing in accuracyFactor") {
    val queries = emb.filter(col("vec_id") < 10)
    val rs = Seq(1, 3, 10).map { af =>
      AnnIndex.recallAtK(spark, emb, queries, "vec_id", "embedding", k = 10,
        AnnIndex.SearchConfig(accuracyFactor = af), nClusters = 16, quantized = true)
    }
    assert(rs == rs.sorted, s"recall must be non-decreasing in accuracyFactor: $rs")
  }

  test("quantized index recall@10 >= 0.9 vs brute force (all clusters probed)") {
    val queries = emb.filter(col("vec_id") < 10)
    val r = AnnIndex.recallAtK(spark, emb, queries, "vec_id", "embedding", k = 10,
      AnnIndex.SearchConfig(accuracyFactor = 10, clusterSearchFactor = 4.0),
      nClusters = 16, quantized = true)
    assert(r >= 0.9, s"quantized recall@10 = $r")
  }

  test("filtered search recall@10 >= 0.9 under a 20%-selective filter") {
    // WHERE composition (reference index_holder.hpp:33 run_query over a
    // filter bitmap): candidates come only from filter survivors, and
    // the probe widens by 1/selectivity so recall doesn't collapse
    val queries = emb.filter(col("vec_id") < 10)
    val keep = emb.filter(col("vec_id") % 5 === 0)
    val exact = graft.operators.SimilaritySearch.bruteForceTopK(
        keep, "vec_id", "embedding", queries, "vec_id", "embedding", 10)
      .select(col("qid"), col("id"))
    val idx = AnnIndex.build(emb, "vec_id", "embedding", nClusters = 16)
    val approx = AnnIndex.search(idx, queries, "vec_id", "embedding", 10,
        idFilter = Some(keep.select(col("vec_id"))))
      .select(col("qid"), col("id"))
    val r = exact.intersect(approx).count().toDouble / exact.count().toDouble
    assert(r >= 0.9, s"filtered recall@10 = $r")
    // nothing outside the filter leaks into the result
    val badIds = approx.filter(col("id") % 5 =!= 0).count()
    assert(badIds === 0)
  }

  test("filtered search widens the probe when the filter starves clusters") {
    // a filter keeping only 12 rows (< corpus/nClusters) cannot fill
    // k=10 from sqrt(16)=4 probed clusters without adaptive widening
    val queries = emb.filter(col("vec_id") < 3)
    val keep = emb.filter(col("vec_id") % 83 === 0)
    val nKeep = keep.count()
    val idx = AnnIndex.build(emb, "vec_id", "embedding", nClusters = 16)
    val res = AnnIndex.search(idx, queries, "vec_id", "embedding", 10,
      idFilter = Some(keep.select(col("vec_id"))))
    val counts = res.groupBy("qid").count().collect()
    assert(counts.length === 3)
    // every query returns min(k, survivors) rows — the probe reached
    // every cluster the survivors live in
    counts.foreach(r => assert(r.getLong(1) === math.min(10L, nKeep), r.toString))
    // the retry plan probes the PERSISTED filtered-assignment view — a
    // deficiency widening must not re-scan the assignment table per try
    assert(res.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
      "filtered probe should read the cached assignment semi-join")
  }

  test("IVF-PQ recall@10 >= 0.6 at default config") {
    val queries = emb.filter(col("vec_id") < 10)
    val r = AnnIndex.recallAtKPq(spark, emb, queries, "vec_id", "embedding",
      k = 10, AnnIndex.SearchConfig(), nClusters = 16)
    info(s"pq default recall@10 = $r")
    assert(r >= 0.6, s"pq recall@10 = $r")
  }

  test("IVF-PQ recall@10 >= 0.9 with all clusters probed and a wide rerank pool") {
    // exhaustive probe isolates PQ-gate loss: the ADC ordering only has
    // to keep true neighbors inside the top k*accuracyFactor for the
    // exact rerank to recover them
    val queries = emb.filter(col("vec_id") < 10)
    val r = AnnIndex.recallAtKPq(spark, emb, queries, "vec_id", "embedding",
      k = 10, AnnIndex.SearchConfig(accuracyFactor = 10, clusterSearchFactor = 4.0),
      nClusters = 16)
    info(s"pq exhaustive recall@10 = $r")
    assert(r >= 0.9, s"pq recall@10 = $r")
  }

  test("IVF-PQ knob matrix: accuracy_factor 5/10/20 x cluster fraction 0.5/2/8 behave like the reference's") {
    // the reference's search_config.hpp:30-100 defines the same two
    // knobs; this matrix pins their SEMANTICS on searchPq: accuracy
    // factor widens the exact-rerank pool (recall non-decreasing, by
    // construction: the rerank of a superset pool can only improve),
    // cluster fraction widens the probe, and the generous corner must
    // reach the 0.9 gate the other index kinds already meet
    import graft.operators.SimilaritySearch
    val queries = emb.filter(col("vec_id") < 10)
    val k = 10
    val exact = SimilaritySearch.bruteForceTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k)
      .select(col("qid"), col("id")).persist()
    val nExact = exact.count().toDouble
    val idx = AnnIndex.buildPq(emb, "vec_id", "embedding", nClusters = 16)
    val afs = Seq(5, 10, 20)
    val cfs = Seq(0.5, 2.0, 8.0)
    val recall = (for (af <- afs; cf <- cfs) yield {
      val approx = AnnIndex.searchPq(idx, queries, "vec_id", "embedding", k,
          AnnIndex.SearchConfig(accuracyFactor = af, clusterSearchFactor = cf))
        .select(col("qid"), col("id"))
      val r = exact.intersect(approx).count().toDouble / nExact
      info(f"af=$af cf=$cf recall@10 = $r%.3f")
      (af, cf) -> r
    }).toMap
    exact.unpersist()
    // recall non-decreasing in accuracyFactor at every cluster fraction
    cfs.foreach { cf =>
      val rs = afs.map(af => recall((af, cf)))
      assert(rs == rs.sorted,
        s"recall must be non-decreasing in accuracyFactor at cf=$cf: $rs")
    }
    // widening the probe never costs much and the trend is upward
    afs.foreach { af =>
      val rs = cfs.map(cf => recall((af, cf)))
      assert(rs.last >= rs.head - 1e-9,
        s"full probe must beat the narrow probe at af=$af: $rs")
    }
    // the generous corner meets the same 0.9 gate as Clustered/Quantized
    assert(recall((10, 8.0)) >= 0.9, s"af=10 cf=8: ${recall((10, 8.0))}")
    assert(recall((20, 8.0)) >= 0.9, s"af=20 cf=8: ${recall((20, 8.0))}")
  }

  test("IVF-PQ filtered search: no filter leak, probe widens, recall holds") {
    val queries = emb.filter(col("vec_id") < 10)
    val keep = emb.filter(col("vec_id") % 5 === 0)
    val exact = graft.operators.SimilaritySearch.bruteForceTopK(
        keep, "vec_id", "embedding", queries, "vec_id", "embedding", 10)
      .select(col("qid"), col("id"))
    val idx = AnnIndex.buildPq(emb, "vec_id", "embedding", nClusters = 16)
    val approx = AnnIndex.searchPq(idx, queries, "vec_id", "embedding", 10,
        AnnIndex.SearchConfig(accuracyFactor = 10, clusterSearchFactor = 2.0),
        idFilter = Some(keep.select(col("vec_id"))))
      .select(col("qid"), col("id"))
    val r = exact.intersect(approx).count().toDouble / exact.count().toDouble
    assert(r >= 0.85, s"pq filtered recall@10 = $r")
    assert(approx.filter(col("id") % 5 =!= 0).count() === 0)
  }

  test("IVF-PQ index round-trips through save/load with identical results") {
    val tmp = java.nio.file.Files.createTempDirectory("pqidx").toString
    val idx = AnnIndex.buildPq(emb, "vec_id", "embedding", nClusters = 8, m = 8, ksub = 16)
    AnnIndex.savePq(idx, tmp)
    val loaded = AnnIndex.loadPq(spark, tmp)
    assert(loaded.codebooks.m === 8 && loaded.codebooks.ksub === 16)
    val queries = emb.filter(col("vec_id") < 3)
    val a = AnnIndex.searchPq(idx, queries, "vec_id", "embedding", 5)
      .select("qid", "rank", "id").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val b = AnnIndex.searchPq(loaded, queries, "vec_id", "embedding", 5)
      .select("qid", "rank", "id").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(a === b)
  }

  test("search returns exactly k ranked rows per query") {
    val idx = AnnIndex.build(emb, "vec_id", "embedding", nClusters = 8)
    val res = AnnIndex.search(idx, emb.filter(col("vec_id") === 0), "vec_id", "embedding", 5)
      .collect()
    assert(res.length === 5)
    assert(res.map(_.getAs[Int]("rank")).sorted.toSeq === Seq(1, 2, 3, 4, 5))
  }

  test("l2 metric: exhaustive probe equals exact nearest, default probe recalls >= 0.6") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.gf
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_vec"))
    val exact = emb.crossJoin(queries)
      .withColumn("d", gf.l2_norm(col("embedding"), col("q_vec")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d").asc, col("vec_id"))))
      .filter(col("rk") <= 10).select(col("qid"), col("vec_id").as("id"))
    val idx = AnnIndex.build(emb, "vec_id", "embedding", nClusters = 16)
    // recall measured THROUGH the first-class evaluation operator: every
    // query has exactly 10 exact relevants, so the macro-averaged
    // recall@10 equals the pooled intersection count
    def recall(res: org.apache.spark.sql.DataFrame): Double =
      graft.operators.SearchMetrics.retrievalMetrics(
          res, "qid", "id", "rank", exact, "qid", "id", k = 10)
        .agg(avg(col("recall_at_k"))).head().getDouble(0)
    def search(cfg: AnnIndex.SearchConfig) =
      AnnIndex.search(idx, queries, "qid", "q_vec", 10, cfg, metric = "l2")
    assert(recall(search(AnnIndex.SearchConfig(clusterSearchFactor = 8.0))) === 1.0)
    assert(recall(search(AnnIndex.SearchConfig())) >= 0.6)
    // quantized index serves l2 too (exact scoring, no int8 gate)
    val qidx = AnnIndex.build(emb, "vec_id", "embedding", nClusters = 16,
      quantized = true)
    assert(recall(AnnIndex.search(qidx, queries, "qid", "q_vec", 10,
      AnnIndex.SearchConfig(clusterSearchFactor = 8.0), metric = "l2")) === 1.0)
  }

  test("dot metric (MIPS): exhaustive probe equals exact max inner product, default probe recalls >= 0.6") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.gf
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_vec"))
    val exact = emb.crossJoin(queries)
      .withColumn("ip", gf.dot(col("embedding"), col("q_vec")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("ip").desc, col("vec_id"))))
      .filter(col("rk") <= 10).select(col("qid"), col("vec_id").as("id"))
    val idx = AnnIndex.build(emb, "vec_id", "embedding", nClusters = 16)
    def recall(cfg: AnnIndex.SearchConfig): Double = {
      val approx = AnnIndex.search(idx, queries, "qid", "q_vec", 10, cfg,
        metric = "dot")
      graft.operators.SearchMetrics.retrievalMetrics(
          approx, "qid", "id", "rank", exact, "qid", "id", k = 10)
        .agg(avg(col("recall_at_k"))).head().getDouble(0)
    }
    assert(recall(AnnIndex.SearchConfig(clusterSearchFactor = 8.0)) === 1.0,
      "probing every cluster must recover the exact MIPS answer")
    assert(recall(AnnIndex.SearchConfig()) >= 0.6)
  }
}
