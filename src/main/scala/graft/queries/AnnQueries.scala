package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, IndexStore}

/** Clustered-ANN search surface (approximate — no SQL oracle; quality is
  * gated by the recall spec in AnnSpec, mirroring the reference's
  * test_embedding_quality.py minimum-pass-count gate).
  *
  * All three queries search a PERSISTED index from [[IndexStore]] — the
  * KMeans build runs once per dataset (Bench bills it to warm-up), so
  * the measured time is the probe + rerank, matching what the
  * reference's index-search numbers measure
  * (`cpp/deeplake_pg/index_search.cpp:114-133`).
  */
object AnnQueries extends QueryModule {

  /** one-time-per-corpus oracle-validity gates (see q_tql_ann_filtered) */
  private val annFilteredGate =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** vec_id 0's embedding as a TQL ARRAY literal, each float printed as
    * its promoted double (so a SQL ::DOUBLE[] cast of the same source
    * row yields bit-identical values — printing the FLOAT's shortest
    * decimal would parse to a different double) */
  private def qv0(s: org.apache.spark.sql.SparkSession, dir: String): String =
    table(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
      .map(_.toDouble).mkString("ARRAY[", ", ", "]")

  /** DuckDB oracle for the three single-query TQL ANN routes: replays
    * the clustered route over the artifact parquet — rank ALL centroids
    * by the metric (probe = top ceil(sqrt(16)) = 4, tie on cluster_id),
    * exact-score every candidate in the probed clusters, keep the top
    * 10 by (metric, id), then re-sort those by the ROUNDED projection
    * exactly as the routed TQL SELECT does. */
  private def tqlAnnRouteOracle(fn: String, ord: String, out: String): String =
    s"WITH c AS (SELECT cluster_id, centroid::DOUBLE[] AS cv " +
      "FROM read_parquet('__ANN_ARTIFACT__/centroids/*.parquet')), " +
      "a AS (SELECT id, cluster_id, vec::DOUBLE[] AS v " +
      "FROM read_parquet('__ANN_ARTIFACT__/assignments/**/*.parquet')), " +
      "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0), " +
      "pr AS (SELECT cluster_id, qv FROM (SELECT c.cluster_id, q.qv, " +
      s"row_number() OVER (ORDER BY $fn(q.qv, c.cv) $ord, c.cluster_id) AS cr " +
      "FROM c CROSS JOIN q) t WHERE cr <= 4), " +
      "cand AS (SELECT id FROM (SELECT a.id, " +
      s"row_number() OVER (ORDER BY $fn(a.v, pr.qv) $ord, a.id) AS rk " +
      "FROM a JOIN pr USING (cluster_id)) t WHERE rk <= 10) " +
      s"SELECT e.vec_id, round($fn(e.embedding::DOUBLE[], q.qv), 6) AS $out " +
      "FROM embeddings e CROSS JOIN q JOIN cand ON cand.id = e.vec_id " +
      s"ORDER BY $out $ord, vec_id LIMIT 10"

  /** DuckDB oracle for the ClusteredQuantized searches: replays the
    * two-phase gate over the artifact — probe nProbe clusters per query
    * (exact cosine vs centroids), stage-1 rank candidates by the INT8
    * cosine (vec_q is read straight from the artifact; the query side
    * requantizes with the same round(x*127/maxAbs) map, Spark round and
    * DuckDB round both half-away-from-zero on doubles), keep the
    * rerank pool, stage-2 exact-rerank the survivors. */
  private def quantizedRouteOracle(queryWhere: String, nProbe: Int,
      pool: Int): String =
    s"WITH c AS (SELECT cluster_id, centroid::DOUBLE[] AS cv " +
      "FROM read_parquet('__ANN_ARTIFACT__/centroids/*.parquet')), " +
      "a AS (SELECT id, cluster_id, vec::DOUBLE[] AS v, vec_q::DOUBLE[] AS vq " +
      "FROM read_parquet('__ANN_ARTIFACT__/assignments/**/*.parquet')), " +
      s"q0 AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings $queryWhere), " +
      "qm AS (SELECT qid, qv, greatest(list_aggregate(list_transform(qv, y -> abs(y)), 'max'), 1e-30) AS ma FROM q0), " +
      "q AS (SELECT qid, qv, list_transform(qv, x -> round(x * 127.0 / ma)) AS qvq FROM qm), " +
      "pr AS (SELECT qid, qv, qvq, cluster_id FROM (SELECT q.qid, q.qv, q.qvq, c.cluster_id, " +
      "row_number() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cluster_id) AS cr " +
      s"FROM q CROSS JOIN c) t WHERE cr <= $nProbe), " +
      "g AS (SELECT qid, qv, id, v FROM (SELECT pr.qid, pr.qv, a.id, a.v, " +
      "row_number() OVER (PARTITION BY pr.qid ORDER BY list_cosine_similarity(a.vq, pr.qvq) DESC, a.id) AS gr " +
      s"FROM pr JOIN a USING (cluster_id)) t WHERE gr <= $pool), " +
      "r AS (SELECT qid, id, list_cosine_similarity(v, qv) AS score FROM g), " +
      "f AS (SELECT qid, id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank FROM r) " +
      "SELECT qid, rank::INT AS rank, id AS neighbor_id, round(score, 6) AS cos_sim " +
      "FROM f WHERE rank <= 10 ORDER BY qid, rank"

  /** DuckDB oracle for the IVF-PQ searches: every piece replays from
    * the artifact parquet — the coarse probe (cosine vs RAW centroids),
    * the residual decomposition's cluster term dot(qn, cent_n) with the
    * engine's per-element FLOAT casts reproduced, the per-query m x
    * ksub ADC lookup tables (dot of the normalized query's subvector
    * against each codebook row), candidate scores as qc + the
    * subspace-ordered left fold of LUT lookups over the stored codes,
    * the rerank pool gate, and the exact-cosine final rank. `finalSel`
    * lets the TQL arm re-project/re-sort the candidate set the way the
    * routed SELECT does. */
  private def pqRouteOracle(queryWhere: String, candWhere: String,
      nProbe: Int, pool: Int, tqlFinal: Boolean): String = {
    val core =
      "cb AS (SELECT subspace, code, centroid::DOUBLE[] AS bc " +
        "FROM read_parquet('__ANNPQ_ARTIFACT__/codebooks/*.parquet')), " +
      "c0 AS (SELECT cluster_id, centroid::DOUBLE[] AS cv, " +
        "list_transform(centroid::DOUBLE[], x -> CAST(CAST(x / greatest(sqrt(list_sum(list_transform(centroid::DOUBLE[], y -> y*y))), 1e-30) AS FLOAT) AS DOUBLE)) AS cnv " +
        "FROM read_parquet('__ANNPQ_ARTIFACT__/centroids/*.parquet')), " +
      "a AS (SELECT id, cluster_id, vec::DOUBLE[] AS v, codes " +
        s"FROM read_parquet('__ANNPQ_ARTIFACT__/assignments/**/*.parquet') $candWhere), " +
      s"q0 AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings $queryWhere), " +
      "qn AS (SELECT qid, qv, list_transform(qv, x -> CAST(CAST(x / greatest(sqrt(list_sum(list_transform(qv, y -> y*y))), 1e-30) AS FLOAT) AS DOUBLE)) AS qnv FROM q0), " +
      "lut AS (SELECT q.qid, cb.subspace, list(list_dot_product(q.qnv[cb.subspace*8+1:cb.subspace*8+8], cb.bc) ORDER BY cb.code) AS tbl " +
        "FROM qn q CROSS JOIN cb GROUP BY 1, 2), " +
      "lutq AS (SELECT qid, list(tbl ORDER BY subspace) AS luts FROM lut GROUP BY 1), " +
      attempt("", nProbe, pool)
    // the filtered TQL arm replays AnnIndex.widening (topIds runs it on
    // the driver), not a hard-coded fixpoint: if the first attempt leaves the (one)
    // query short of min(k, filtered survivors) results, the probe
    // doubles to all 16 clusters — replayed as a second chain plus a
    // count-gated selector, so the oracle tracks the route on ANY corpus
    val widened = attempt("w", 16, pool)
    val finalSel =
      if (tqlFinal)
        s", $widened, " +
          "want AS (SELECT least(10, (SELECT count(*) FROM a)) AS w), " +
          "ok AS (SELECT (SELECT count(*) FROM f WHERE rank <= 10) >= (SELECT w FROM want) AS u), " +
          "sel AS (SELECT id FROM f WHERE rank <= 10 AND (SELECT u FROM ok) " +
          "UNION ALL SELECT id FROM fw WHERE rank <= 10 AND NOT (SELECT u FROM ok)) " +
          "SELECT e.vec_id, round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score " +
          "FROM embeddings e JOIN sel cd ON cd.id = e.vec_id " +
          "CROSS JOIN (SELECT qv FROM q0) q ORDER BY score DESC, vec_id LIMIT 10"
      else
        "SELECT qid, rank::INT AS rank, id AS neighbor_id, round(score, 6) AS cos_sim " +
          "FROM f WHERE rank <= 10 ORDER BY qid, rank"
    s"WITH $core $finalSel"
  }

  /** one probe-gate-rerank chain of [[pqRouteOracle]], CTE names
    * suffixed so the adaptive second attempt can coexist */
  private def attempt(sfx: String, nProbe: Int, pool: Int): String =
    s"pr$sfx AS (SELECT qid, qv, cluster_id, qc FROM (SELECT q.qid, q.qv, c0.cluster_id, " +
      "list_dot_product(q.qnv, c0.cnv) AS qc, " +
      "row_number() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, c0.cv) DESC, c0.cluster_id) AS cr " +
      s"FROM qn q CROSS JOIN c0) t WHERE cr <= $nProbe), " +
      s"g$sfx AS (SELECT qid, qv, id FROM (SELECT pr$sfx.qid, pr$sfx.qv, a.id, " +
      s"row_number() OVER (PARTITION BY pr$sfx.qid ORDER BY " +
      s"pr$sfx.qc + list_reduce(list_prepend(0.0, list_transform(range(1, 9), j -> lq.luts[j][a.codes[j] + 1])), (x, y) -> x + y) DESC, a.id) AS rk " +
      s"FROM pr$sfx JOIN a USING (cluster_id) JOIN lutq lq ON lq.qid = pr$sfx.qid) t WHERE rk <= $pool), " +
      s"r$sfx AS (SELECT g$sfx.qid, g$sfx.id, list_cosine_similarity(a2.v, g$sfx.qv) AS score " +
      s"FROM g$sfx JOIN a a2 ON a2.id = g$sfx.id), " +
      s"f$sfx AS (SELECT qid, id, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank FROM r$sfx)"

  override def qs: Seq[(String, Q)] = Seq(
    // FULL oracle (r13 verdict #4): the oracle reads the SAME artifact
    // parquet (centroids + cluster assignments) the engine serves from
    // and replays the route itself — probe the top-4 clusters per query
    // (cosine desc, cluster_id tiebreak; nProbe = ceil(sqrt(16))), score
    // probed candidates exactly, top-10 per query. The ANN ROUTING is
    // thereby oracle-checked, not just recall-gated.
    "q_vec_ann_topk" -> Q(
      (s, dir) => {
        val idx = IndexStore.ann(s, dir)
        val queries = table(s, dir, "embeddings").filter(col("vec_id") < 5)
        AnnIndex.search(idx, queries, "vec_id", "embedding", k = 10)
          .select(col("qid"), col("rank"), col("id").as("neighbor_id"),
            round(col("score"), 6).as("cos_sim"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH c AS (SELECT cluster_id, centroid::DOUBLE[] AS cv
             |  FROM read_parquet('__ANN_ARTIFACT__/centroids/*.parquet')),
             |a AS (SELECT id, cluster_id, vec::DOUBLE[] AS v
             |  FROM read_parquet('__ANN_ARTIFACT__/assignments/**/*.parquet')),
             |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
             |pr AS (SELECT qid, qv, cluster_id FROM (
             |  SELECT q.qid, q.qv, c.cluster_id, row_number() OVER (PARTITION BY q.qid
             |    ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cluster_id) AS cr
             |  FROM q CROSS JOIN c) t WHERE cr <= 4),
             |sc AS (SELECT pr.qid, a.id, list_cosine_similarity(a.v, pr.qv) AS score
             |  FROM pr JOIN a USING (cluster_id)),
             |r AS (SELECT qid, id, score, row_number() OVER
             |  (PARTITION BY qid ORDER BY score DESC, id) AS rank FROM sc)
             |SELECT qid, rank::INT AS rank, id AS neighbor_id,
             |round(score, 6) AS cos_sim FROM r WHERE rank <= 10
             |ORDER BY qid, rank""".stripMargin.replace('\n', ' ')),
      doc = "KMeans-clustered ANN: probe sqrt(n_clusters) clusters, exact rerank (oracle replays the route over the artifact)"),

    // FULL oracle: the two-phase int8 gate replays over the artifact's
    // own vec_q column (see quantizedRouteOracle)
    "q_vec_ann_quantized" -> Q(
      (s, dir) => {
        val idx = IndexStore.annQuantized(s, dir)
        val queries = table(s, dir, "embeddings").filter(col("vec_id") < 5)
        AnnIndex.search(idx, queries, "vec_id", "embedding", k = 10)
          .select(col("qid"), col("rank"), col("id").as("neighbor_id"),
            round(col("score"), 6).as("cos_sim"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(quantizedRouteOracle("WHERE vec_id < 5", nProbe = 4, pool = 100)),
      doc = "ClusteredQuantized: int8 candidate scan gates the exact rerank pool (oracle replays both phases)"),

    // the SAME fast path reached from TQL text: ORDER BY
    // COSINE_SIMILARITY(col, const) DESC LIMIT k over a table whose
    // embedding column is registered in AnnIndex.Catalog routes to the
    // index (check_for_top_k_binary_function_search, `cpp/tql/tql.hpp:171`).
    // FULL oracle (r13 verdict #4): the oracle replays the route over
    // the SAME artifact parquet — probe, exact candidate rank, then the
    // final rounded re-sort. The literal query vector prints each
    // float's PROMOTED DOUBLE (so the oracle's ::DOUBLE[] cast of the
    // source row parses to bit-identical values).
    "q_tql_ann_topk" -> Q(
      (s, dir) => {
        AnnIndex.Catalog.register("embeddings", "embedding", "vec_id",
          IndexStore.ann(s, dir))
        graft.dialect.Tql.query(s, dir,
          s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, ${qv0(s, dir)}), 6) AS score
             |FROM embeddings ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
      },
      Some(tqlAnnRouteOracle("list_cosine_similarity", "DESC", "score")),
      doc = "dialect-routed indexed top-k: driver-ranked centroids, one candidate-id job, an IN filter on the scan, no full-corpus ranking (oracle replays the route)"),

    // L2 ascending top-k routes to the SAME index (reference
    // `ORDER BY L2_NORM(emb - ARRAY[...]) ASC`, order_type::ascending)
    "q_tql_ann_l2" -> Q(
      (s, dir) => {
        AnnIndex.Catalog.register("embeddings", "embedding", "vec_id",
          IndexStore.ann(s, dir))
        graft.dialect.Tql.query(s, dir,
          s"""SELECT vec_id, ROUND(L2_NORM(embedding - ${qv0(s, dir)}), 6) AS dist
             |FROM embeddings ORDER BY dist ASC, vec_id LIMIT 10""".stripMargin)
      },
      Some(tqlAnnRouteOracle("list_distance", "ASC", "dist")),
      doc = "dialect-routed L2 ascending indexed top-k (reference order_type::ascending; oracle replays the route)"),

    // MIPS arm of the same route: ORDER BY DOT(col, const) DESC LIMIT k
    // probes clusters by q·centroid (the faiss IVF/METRIC_INNER_PRODUCT
    // coarse-probe posture) and exact-scores probed candidates
    "q_tql_ann_dot" -> Q(
      (s, dir) => {
        AnnIndex.Catalog.register("embeddings", "embedding", "vec_id",
          IndexStore.ann(s, dir))
        graft.dialect.Tql.query(s, dir,
          s"""SELECT vec_id, ROUND(DOT(embedding, ${qv0(s, dir)}), 6) AS ip
             |FROM embeddings ORDER BY ip DESC, vec_id LIMIT 10""".stripMargin)
      },
      Some(tqlAnnRouteOracle("list_dot_product", "DESC", "ip")),
      doc = "dialect-routed MIPS top-k: DOT DESC probes clusters by q·centroid (oracle replays the route)"),

    // WHERE composes into the index search as a candidate pre-filter
    // (reference runs index queries against a filter bitmap,
    // `cpp/query_core/index_holder.hpp:33`): only filter survivors are
    // candidates, and the probe widens adaptively when the filter
    // starves a cluster
    // FULL oracle: the adaptive probe's first step is deterministic —
    // selectivity is 1/5 at every sf, so the initial widened probe
    // ceil(nProbe0/selectivity) = 20 >= 16 clusters and the route
    // degenerates to the exact top-10 over the filtered set; the oracle
    // replays exactly that (the honest semantics: an unselective filter
    // means the index can prune nothing).
    "q_tql_ann_filtered" -> Q(
      (s, dir) => {
        AnnIndex.Catalog.register("embeddings", "embedding", "vec_id",
          IndexStore.ann(s, dir))
        // oracle-validity gate (r14 ADVICE): the oracle replays the
        // full-probe fixpoint, which holds only while the engine's
        // initial widened probe ceil(nProbe0/selectivity) covers every
        // cluster. Recompute that arithmetic (nClusters=16, nProbe0=
        // ceil(sqrt(16))=4 — AnnIndex.firstProbe, scaled by
        // AnnIndex.widening) and fail LOUDLY on a corpus that breaks it
        // instead of silently diverging.
        // static per corpus -> memoized: the two count jobs must not
        // ride inside the TIMED query body (bench reps would price gate
        // arithmetic, not query work)
        annFilteredGate.computeIfAbsent(dir, { d: String =>
          val emb = table(s, d, "embeddings")
          val total = math.max(1L, emb.count())
          val avail = emb.filter(col("vec_id") % 5 === 0).count()
          val sel = math.max(avail.toDouble / total, 1.0 / 16)
          require(math.ceil(4 / sel) >= 16,
            f"q_tql_ann_filtered oracle assumes a full probe, but selectivity=$sel%.3f " +
              "would widen to fewer than 16 clusters — re-derive the oracle for this corpus")
          java.lang.Boolean.TRUE
        })
        graft.dialect.Tql.query(s, dir,
          s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, ${qv0(s, dir)}), 6) AS score
             |FROM embeddings WHERE vec_id % 5 == 0
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
      },
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
             |f AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 5 = 0),
             |cand AS (SELECT vec_id FROM (SELECT f.vec_id,
             |  row_number() OVER (ORDER BY list_cosine_similarity(f.v, q.qv) DESC, f.vec_id) AS rk
             |  FROM f CROSS JOIN q) t WHERE rk <= 10)
             |SELECT e.vec_id, round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
             |FROM embeddings e CROSS JOIN q JOIN cand USING (vec_id)
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin.replace('\n', ' ')),
      doc = "filtered indexed top-k: WHERE gates the index probe, nProbe widens adaptively (oracle replays the full-probe fixpoint)"),

    // FULL oracle: the whole ADC pipeline replays from the artifact
    // parquet (see pqRouteOracle)
    "q_vec_ann_pq" -> Q(
      (s, dir) => {
        val idx = IndexStore.annPq(s, dir)
        val queries = table(s, dir, "embeddings").filter(col("vec_id") < 5)
        AnnIndex.search(idx, queries, "vec_id", "embedding", k = 10)
          .select(col("qid"), col("rank"), col("id").as("neighbor_id"),
            round(col("score"), 6).as("cos_sim"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(pqRouteOracle("WHERE vec_id < 5", "", nProbe = 4, pool = 100,
        tqlFinal = false)),
      doc = "IVF-PQ: per-query ADC lookup tables score m-byte codes, exact rerank on survivors (oracle replays ADC)"),

    // the same dialect route over a PQ-gated index registered for the
    // column: ORDER BY COSINE_SIMILARITY ... LIMIT k (plus a WHERE
    // pre-filter) ranks the probed survivors by ADC in topIds' one pass
    // and reranks the gate's pool exactly
    // FULL oracle: same ADC replay, candidates pre-filtered to the
    // WHERE survivors; selectivity 1/2 widens the adaptive probe's
    // first step to ceil(4/0.5) = 8 clusters, and the oracle ALSO
    // replays the deficiency widening (a second full-probe chain behind
    // a count gate), so it tracks the route on any corpus
    "q_tql_ann_pq" -> Q(
      (s, dir) => {
        AnnIndex.Catalog.clear()
        AnnIndex.Catalog.register("embeddings", "embedding", "vec_id",
          IndexStore.annPq(s, dir))
        try graft.dialect.Tql.query(s, dir,
          s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, ${qv0(s, dir)}), 6) AS score
             |FROM embeddings WHERE vec_id % 2 == 0
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
        finally AnnIndex.Catalog.clear()
      },
      Some(pqRouteOracle("WHERE vec_id = 0", "WHERE id % 2 = 0", nProbe = 8,
        pool = 100, tqlFinal = true)),
      doc = "dialect-routed IVF-PQ top-k with WHERE pre-filter (ADC scan, exact rerank; oracle replays the route)"),

    // FULL oracle: same replay at the preset's widened knobs
    // (nProbe = ceil(sqrt(16)*2) = 8, pool = 10*20 = 200)
    "q_vec_ann_high_accuracy" -> Q(
      (s, dir) => {
        val idx = IndexStore.annQuantized(s, dir)
        val queries = table(s, dir, "embeddings").filter(col("vec_id") < 3)
        AnnIndex.search(idx, queries, "vec_id", "embedding", k = 10,
            AnnIndex.SearchConfig(accuracyFactor = 20, clusterSearchFactor = 2.0))
          .select(col("qid"), col("rank"), col("id").as("neighbor_id"),
            round(col("score"), 6).as("cos_sim"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(quantizedRouteOracle("WHERE vec_id < 3", nProbe = 8, pool = 200)),
      doc = "high_accuracy preset: 2x clusters probed, 2x rerank pool on the quantized index (oracle replays both phases)"),

    // MAXSIM arm of the dialect route (the reference's ColPali story
    // pairs MAXSIM with the embedding index, docs/docs/guide/rag.md:
    // 1377-1413): embeddings fold into 8-vector "pages"; the registered
    // index holds each page's MEAN-POOLED vector; every query vector
    // probes it and exact MAXSIM reranks only the candidate union —
    // ORDER BY MAXSIM(...) DESC LIMIT k no longer scans the corpus.
    // FULL oracle: replays the pooled probe (3-vector query bag, top-3
    // of 8 clusters each, 100-candidate pool per query vector, distinct
    // union) over the artifact's own index parquet, then the exact
    // multi-vector MAXSIM (sum over query vectors of max bag cosine)
    // over the candidate pages' bags. Query-bag literals print promoted
    // doubles so the oracle's ::DOUBLE[] cast is bit-identical.
    "q_tql_maxsim_routed" -> Q(
      (s, dir) => {
        AnnIndex.Catalog.clear()
        val bags = IndexStore.maxsimBagsPath(s, dir)
        AnnIndex.Catalog.register(bags, "bag", "page_id",
          IndexStore.maxsimAnn(s, dir))
        val qbag = table(s, dir, "embeddings").filter(col("vec_id") < 3)
          .orderBy(col("vec_id")).select(col("embedding")).collect()
          .map(_.getSeq[Float](0).map(_.toDouble).mkString("ARRAY[", ", ", "]"))
          .mkString("ARRAY[", ", ", "]")
        try graft.dialect.Tql.query(s, dir,
          s"""SELECT page_id, ROUND(MAXSIM(bag, $qbag), 6) AS score
             |FROM "$bags" ORDER BY score DESC, page_id LIMIT 10""".stripMargin)
        finally AnnIndex.Catalog.clear()
      },
      Some("""WITH c AS (SELECT cluster_id, centroid::DOUBLE[] AS cv
             |  FROM read_parquet('__MAXSIM_ARTIFACT__/index/centroids/*.parquet')),
             |a AS (SELECT id, cluster_id, vec::DOUBLE[] AS v
             |  FROM read_parquet('__MAXSIM_ARTIFACT__/index/assignments/**/*.parquet')),
             |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
             |pr AS (SELECT qid, qv, cluster_id FROM (SELECT q.qid, q.qv, c.cluster_id,
             |  row_number() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cluster_id) AS cr
             |  FROM q CROSS JOIN c) t WHERE cr <= 3),
             |cand AS (SELECT DISTINCT id FROM (SELECT pr.qid, a.id,
             |  row_number() OVER (PARTITION BY pr.qid ORDER BY list_cosine_similarity(a.v, pr.qv) DESC, a.id) AS rk
             |  FROM pr JOIN a USING (cluster_id)) t WHERE rk <= 100),
             |b AS (SELECT page_id, bag FROM read_parquet('__MAXSIM_ARTIFACT__/bags/*.parquet')
             |  JOIN cand ON cand.id = page_id),
             |mx AS (SELECT b.page_id, q.qid, max(list_cosine_similarity(d.dv::DOUBLE[], q.qv)) AS m
             |  FROM b, unnest(b.bag) AS d(dv), q GROUP BY 1, 2),
             |sc AS (SELECT page_id, round(sum(m), 6) AS score FROM mx GROUP BY 1)
             |SELECT page_id, score FROM sc
             |ORDER BY score DESC, page_id LIMIT 10""".stripMargin.replace('\n', ' ')),
      doc = "dialect-routed MAXSIM top-k: pooled-vector index probe, exact multi-vector rerank (oracle replays the route)")
  )
}
