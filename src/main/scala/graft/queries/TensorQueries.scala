package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.operators.Grouping

/** Remaining array/tensor scalar surface (SURVEY.md §2.10) not covered by
  * VectorQueries: SHAPE, NONZERO, ISCLOSE, BINCOUNT, FLAT/TRANSPOSE,
  * LOGICAL_AND/OR, KEYS(json), DATA(col,i), MEAN_POOL_ROWS, within-row
  * MEAN/STDEV/MEDIAN, UNGROUP split variants, and the sampling fraction /
  * random-shuffle paths (§2.6, §2.8).
  */
object TensorQueries extends QueryModule {

  private val E = "embeddings"

  override def qs: Seq[(String, Q)] = Seq(

    // ---- SHAPE(a) (tql.md:408-412). Output joined as a string: the driver's
    // row-sort cannot order array cells, so array results are serialized.
    "q_array_shape" -> Q(
      (s, dir) => {
        table(s, dir, E)
          .filter(col("vec_id") < 20)
          .select(col("vec_id"), concat_ws(",", gf.shape(col("embedding"))).as("shp"),
            size(col("embedding")).as("dim"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, len(embedding)::VARCHAR AS shp, len(embedding) AS dim
             |FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""".stripMargin.replace('\n', ' '))),

    // ---- NONZERO(a): indices of non-zero elements (tql.md:419-423)
    "q_array_nonzero" -> Q(
      (s, dir) => {
        val thresholded = transform(col("embedding"),
          x => when(x > 0.2f, x).otherwise(lit(0.0f)))
        table(s, dir, E)
          .filter(col("vec_id") < 40)
          .select(col("vec_id"),
            concat_ws(",", slice(gf.nonzero(thresholded), 1, 5)).as("first_nz"),
            size(gf.nonzero(thresholded)).as("n_nz"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id,
             |array_to_string(list_filter(range(0, len(embedding)), i -> embedding[i+1] > 0.2)[1:5], ',') AS first_nz,
             |len(list_filter(range(0, len(embedding)), i -> embedding[i+1] > 0.2)) AS n_nz
             |FROM embeddings WHERE vec_id < 40 ORDER BY vec_id""".stripMargin.replace('\n', ' '))),

    // ---- ISCLOSE(a, b, rtol, atol) between consecutive rows
    // (`cpp/nd/comparison.hpp:17`)
    "q_array_isclose" -> Q(
      (s, dir) => {
        val e = table(s, dir, E)
        val a = e.select(col("vec_id"), col("embedding").as("ea"))
        val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("eb"))
        a.join(b, "vec_id")
          .filter(col("vec_id") < 50)
          .select(col("vec_id"),
            size(filter(gf.isclose(col("ea"), col("eb"), rtol = 0.5, atol = 0.1),
              x => x)).as("n_close"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT a.vec_id,
             |list_aggregate(list_transform(range(1, len(a.embedding)+1),
             |  i -> CASE WHEN abs(a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)
             |    <= 0.1 + 0.5 * abs(b.embedding[i]::DOUBLE) THEN 1 ELSE 0 END), 'sum')::BIGINT AS n_close
             |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
             |WHERE a.vec_id < 50 ORDER BY a.vec_id""".stripMargin.replace('\n', ' '))),

    // ---- BINCOUNT: per-row histogram (`cpp/nd/statistics.hpp:10-35`)
    "q_array_bincount" -> Q(
      (s, dir) => {
        val bins = transform(col("embedding"),
          x => least(lit(7L), greatest(lit(0L),
            floor((x.cast("double") + 1.0d) * 2.0d).cast("long"))))
        table(s, dir, E)
          .filter(col("vec_id") < 30)
          .select(col("vec_id"), concat_ws(",", gf.bincount(bins, 8)).as("hist"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, array_to_string(list_transform(range(0, 8), k ->
             |len(list_filter(embedding, x ->
             |  least(7, greatest(0, floor((x::DOUBLE + 1.0) * 2.0)::BIGINT)) = k))), ',') AS hist
             |FROM embeddings WHERE vec_id < 30 ORDER BY vec_id""".stripMargin.replace('\n', ' '))),

    // ---- FLAT + TRANSPOSE of a 2-D tensor (`cpp/nd/functions.hpp:127,141`)
    "q_array_flat_transpose" -> Q(
      (s, dir) => {
        val mat = array(slice(col("embedding"), 1, 4), slice(col("embedding"), 5, 4))
        table(s, dir, E)
          .filter(col("vec_id") < 25)
          .select(col("vec_id"),
            concat_ws(",", transform(gf.flat(gf.transpose(mat)),
              x => round(x.cast("double") * 1e6d).cast("long"))).as("t_flat"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, array_to_string([round(embedding[1]::DOUBLE*1e6)::BIGINT, round(embedding[5]::DOUBLE*1e6)::BIGINT,
             |round(embedding[2]::DOUBLE*1e6)::BIGINT, round(embedding[6]::DOUBLE*1e6)::BIGINT,
             |round(embedding[3]::DOUBLE*1e6)::BIGINT, round(embedding[7]::DOUBLE*1e6)::BIGINT,
             |round(embedding[4]::DOUBLE*1e6)::BIGINT, round(embedding[8]::DOUBLE*1e6)::BIGINT], ',') AS t_flat
             |FROM embeddings WHERE vec_id < 25 ORDER BY vec_id""".stripMargin.replace('\n', ' '))),

    // ---- LOGICAL_AND / LOGICAL_OR elementwise (`cpp/nd/logical.hpp:14-16`)
    "q_array_logical" -> Q(
      (s, dir) => {
        val a = transform(col("embedding"), x => x > 0.0f)
        val b = transform(col("embedding"), x => x < 0.2f)
        table(s, dir, E)
          .select(col("vec_id"),
            size(filter(gf.logical_and(a, b), x => x)).as("n_and"),
            size(filter(gf.logical_or(a, b), x => x)).as("n_or"))
          .filter(col("vec_id") < 60)
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id,
             |len(list_filter(embedding, x -> x > 0.0 AND x < 0.2)) AS n_and,
             |len(list_filter(embedding, x -> x > 0.0 OR x < 0.2)) AS n_or
             |FROM embeddings WHERE vec_id < 60 ORDER BY vec_id""".stripMargin.replace('\n', ' '))),

    // ---- KEYS(json) + JSON key access (tql.md:517-521, :143-166)
    "q_json_keys" -> Q(
      (s, dir) => {
        table(s, dir, "events")
          .filter(col("event_id") < 50)
          .select(col("event_id"), concat_ws(",", gf.keys(col("props"))).as("prop_keys"),
            get_json_object(col("props"), "$.k").cast("long").as("k_value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, array_to_string(json_keys(props), ',') AS prop_keys,
             |json_extract(props, '$.k')::BIGINT AS k_value
             |FROM events WHERE event_id < 50 ORDER BY event_id""".stripMargin.replace('\n', ' '))),

    // ---- DATA(col, i): compare every row to the value at absolute row 0
    // (tql.md:414-417 — constant per query, broadcast scalar)
    "q_data_at" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
        val ref = ev.filter(col("event_id") === 0).select(col("value").as("ref_value"))
        ev.filter(col("event_id") < 30)
          .crossJoin(broadcast(ref))
          .select(col("event_id"), round(col("value"), 6).as("value"),
            round(col("value") - col("ref_value"), 6).as("delta_vs_row0"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, round(e.value,6) AS value,
             |round(e.value - r.ref_value,6) AS delta_vs_row0
             |FROM events e, (SELECT value AS ref_value FROM events WHERE event_id = 0) r
             |WHERE e.event_id < 30 ORDER BY e.event_id""".stripMargin.replace('\n', ' '))),

    // ---- MEAN_POOL_ROWS over per-label embedding bags (`cpp/nd/norm.hpp:44`)
    "q_mean_pool" -> Q(
      (s, dir) => {
        table(s, dir, E)
          .groupBy(col("label"))
          .agg(collect_list(col("embedding")).as("bag"))
          .select(col("label"),
            round(element_at(gf.mean_pool_rows(col("bag")), 1), 6).as("d1"),
            round(element_at(gf.mean_pool_rows(col("bag")), 2), 6).as("d2"),
            round(element_at(gf.mean_pool_rows(col("bag")), 3), 6).as("d3"),
            round(element_at(gf.mean_pool_rows(col("bag")), 4), 6).as("d4"))
          .orderBy(col("label"))
      },
      Some("""SELECT label, round(avg(embedding[1]::DOUBLE),6) AS d1,
             |round(avg(embedding[2]::DOUBLE),6) AS d2,
             |round(avg(embedding[3]::DOUBLE),6) AS d3,
             |round(avg(embedding[4]::DOUBLE),6) AS d4
             |FROM embeddings GROUP BY label ORDER BY label""".stripMargin.replace('\n', ' '))),

    // ---- within-row MEAN/STDEV/MEDIAN (`cpp/nd/statistics.hpp:10-35`)
    "q_tensor_stats" -> Q(
      (s, dir) => {
        val xs = transform(col("embedding"), x => x.cast("double"))
        val n = size(col("embedding")).cast("double")
        val mean = gf.tsum(xs) / n
        val sumsq = aggregate(xs, lit(0.0d), (acc, x) => acc + x * x)
        val stdev = sqrt((sumsq - n * mean * mean) / (n - lit(1.0d)))
        val sorted = array_sort(xs)
        val median = (element_at(sorted, 32) + element_at(sorted, 33)) / 2.0d
        table(s, dir, E)
          .filter(col("vec_id") < 80)
          .select(col("vec_id"), round(mean, 6).as("t_mean"),
            round(stdev, 6).as("t_stdev"), round(median, 6).as("t_median"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id,
             |round(list_aggregate(embedding::DOUBLE[], 'sum') / len(embedding),6) AS t_mean,
             |round(list_aggregate(embedding::DOUBLE[], 'stddev_samp'),6) AS t_stdev,
             |round(list_aggregate(embedding::DOUBLE[], 'median'),6) AS t_median
             |FROM embeddings WHERE vec_id < 80 ORDER BY vec_id""".stripMargin.replace('\n', ' '))),

    // ---- UNGROUP split_by_number: explode each vector into 4 equal chunks
    // (`cpp/query_core/ungroup_statement.hpp:15-101`)
    "q_ungroup_split_number" -> Q(
      (s, dir) => {
        val chunks = transform(sequence(lit(0), lit(3)),
          i => slice(col("embedding"), i * 16 + 1, lit(16)))
        table(s, dir, E)
          .filter(col("vec_id") < 20)
          .select(col("vec_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
          .select(col("vec_id"), col("chunk_idx"),
            round(gf.tsum(col("chunk")), 6).as("chunk_sum"),
            size(col("chunk")).as("chunk_len"))
          .orderBy(col("vec_id"), col("chunk_idx"))
      },
      Some("""SELECT e.vec_id, r.range::INT AS chunk_idx,
             |round(list_aggregate(e.embedding[(r.range*16+1):(r.range*16+16)]::DOUBLE[], 'sum'),6) AS chunk_sum,
             |len(e.embedding[(r.range*16+1):(r.range*16+16)]) AS chunk_len
             |FROM embeddings e CROSS JOIN range(4) r
             |WHERE e.vec_id < 20 ORDER BY e.vec_id, chunk_idx""".stripMargin.replace('\n', ' '))),

    // ---- UNGROUP split_by_lengths: explicit chunk lengths
    // (`cpp/query_core/ungroup_statement.hpp:19`)
    "q_ungroup_split_lengths" -> Q(
      (s, dir) => {
        Grouping.ungroupSplitByLengths(
            table(s, dir, E).filter(col("vec_id") < 20),
            "embedding", Seq(8, 24, 32), keep = Seq("vec_id"))
          .select(col("vec_id"), col("pos").as("chunk_idx"),
            round(gf.tsum(col("embedding")), 6).as("chunk_sum"),
            size(col("embedding")).as("chunk_len"))
          .orderBy(col("vec_id"), col("chunk_idx"))
      },
      Some("""SELECT vec_id, c.i::INTEGER AS chunk_idx,
             |round(list_aggregate((CASE c.i WHEN 0 THEN embedding[1:8] WHEN 1 THEN embedding[9:32]
             |  ELSE embedding[33:64] END)::DOUBLE[], 'sum'),6) AS chunk_sum,
             |(CASE c.i WHEN 0 THEN 8 WHEN 1 THEN 24 ELSE 32 END)::INTEGER AS chunk_len
             |FROM embeddings CROSS JOIN range(3) AS c(i)
             |WHERE vec_id < 20 ORDER BY vec_id, chunk_idx""".stripMargin.replace('\n', ' '))),

    // ---- PROD within-row reduction (`cpp/nd/functions.hpp:79-149`).
    // Elements are scaled x10 first so the 6-element product is O(1) —
    // raw products land at ~1e-9 where round(6) collapses everything to
    // +/-0.0 and the engines disagree on the zero's sign
    "q_array_prod" -> Q(
      (s, dir) => {
        table(s, dir, E).filter(col("vec_id") < 30)
          .select(col("vec_id"),
            round(gf.tprod(transform(slice(col("embedding"), 1, 6),
              x => x.cast("double") * 10)), 6).as("prod6"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, round(list_aggregate(list_transform(embedding[1:6], x -> x::DOUBLE * 10), 'product'),6) AS prod6
             |FROM embeddings WHERE vec_id < 30 ORDER BY vec_id""".stripMargin.replace('\n', ' '))),

    // ---- ALL vs ALL_STRICT empty-array semantics (tql.md:435-451:
    // ALL is true on an empty condition array, ALL_STRICT is false)
    "q_array_all_strict" -> Q(
      (s, dir) => {
        val f = filter(col("embedding"), x => x.cast("double") > 2.0)
        val b = transform(f, x => x.cast("double") > 2.0)
        table(s, dir, E).filter(col("vec_id") < 40)
          .select(col("vec_id"),
            gf.all_(b).as("all_on_maybe_empty"),
            gf.all_strict(b).as("strict_v"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, true AS all_on_maybe_empty,
             |(len(list_filter(embedding, x -> x::DOUBLE > 2.0)) > 0) AS strict_v
             |FROM embeddings WHERE vec_id < 40 ORDER BY vec_id""".stripMargin.replace('\n', ' '))),

    // ---- most-common-values stats (§2.4 ColumnStatistics MCV arrays,
    // `cpp/deeplake_pg/column_statistics.cpp:166-192`)
    "q_mcv_stats" -> Q(
      (s, dir) => {
        val li = table(s, dir, "part")
        val n = li.count().toDouble
        li.groupBy(col("p_brand"))
          .agg(count(lit(1)).as("c"))
          .select(col("p_brand"), col("c"),
            round(col("c") / n, 6).as("freq"))
          .orderBy(col("c").desc, col("p_brand"))
          .limit(10)
      },
      Some("""SELECT p_brand, c, round(c / (SELECT count(*)::DOUBLE FROM part), 6) AS freq
             |FROM (SELECT p_brand, count(*) AS c FROM part GROUP BY p_brand) t
             |ORDER BY c DESC, p_brand LIMIT 10""".stripMargin.replace('\n', ' '))),

    // ---- SAMPLE BY fraction (tql.md:641-643) — Bernoulli keep-test on the
    // md5-derived uniform keyed on vec_id: same marginal distribution as a
    // seeded sample but layout-independent, map-side (pushes into the scan),
    // and replayed exactly by the DuckDB oracle
    "q_sample_fraction" -> Q(
      (s, dir) => {
        graft.operators.Sampling.fractionHashSample(
            table(s, dir, E), col("vec_id"), 0.1)
          .select(col("vec_id"), col("label"))
          .orderBy(col("vec_id"))
      },
      Some(s"""SELECT vec_id, label FROM embeddings
              |WHERE ${uuSql("md5(vec_id::VARCHAR)")} < 0.1
              |ORDER BY vec_id""".stripMargin.replace('\n', ' ')),
      doc = "hash-Bernoulli 10% sample; deterministic and full-oracle"),

    // ---- deterministic stratified sample: n-per-stratum by md5 order —
    // random in distribution yet engine-independent, so FULLY
    // oracle-checked (unlike RNG-seeded sampling)
    "q_sample_stratified" -> Q(
      (s, dir) => graft.operators.Sampling.stratifiedHashSample(
          table(s, dir, "documents"), col("lang"), col("doc_id"), 10)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id")),
      Some("""SELECT doc_id, lang FROM (
             |SELECT doc_id, lang, row_number() OVER (
             |  PARTITION BY lang ORDER BY md5(doc_id::VARCHAR)) AS rk
             |FROM documents) t WHERE rk <= 10
             |ORDER BY lang, doc_id""".stripMargin.replace('\n', ' '))),

    // ---- domain-mixing resampler: hit a prescribed lang mixture
    // (en 40% / fr 20% / es 20% / zh 10% / de 10% of 200) with
    // deterministic md5-order takes — fully oracle-checked
    "q_domain_mix" -> Q(
      (s, dir) => graft.operators.Sampling.domainMix(
          table(s, dir, "documents"), col("lang"), col("doc_id"),
          Map("en" -> 0.4, "fr" -> 0.2, "es" -> 0.2, "zh" -> 0.1, "de" -> 0.1),
          totalN = 200L)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang")),
      Some("""WITH r AS (SELECT lang, row_number() OVER (
             |  PARTITION BY lang ORDER BY md5(doc_id::VARCHAR)) AS rk FROM documents)
             |SELECT lang, count(*) AS n FROM r
             |WHERE rk <= CASE lang WHEN 'en' THEN 80 WHEN 'fr' THEN 40
             |  WHEN 'es' THEN 40 WHEN 'zh' THEN 20 WHEN 'de' THEN 20 ELSE 0 END
             |GROUP BY lang ORDER BY lang""".stripMargin.replace('\n', ' '))),

    // ---- UniMax budget allocation (Chung et al. 2023): spread a
    // 40k-token budget uniformly across languages subject to a 2-epoch
    // repetition cap — exact water-filling resolved in one ascending-cap
    // window pass; the waterline CASE replays 1:1 in SQL (FULL oracle).
    "q_domain_unimax" -> Q(
      (s, dir) => graft.operators.Sampling.unimaxAllocation(
          table(s, dir, "documents"), col("lang"),
          size(split(col("text"), " ")), budget = 40000.0, maxEpochs = 2.0)
        .withColumnRenamed("domain", "lang")
        .orderBy(col("lang")),
      Some("""WITH c AS (SELECT lang AS domain,
             |  sum(len(string_split(text,' ')))::DOUBLE AS n_tokens
             |  FROM documents GROUP BY 1),
             |f AS (SELECT domain, n_tokens, n_tokens * 2.0 AS cap FROM c),
             |wdw AS (SELECT domain, n_tokens, cap,
             |  coalesce(sum(cap) OVER (ORDER BY cap, domain
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS pfx,
             |  (count(*) OVER ()) - (row_number() OVER (ORDER BY cap, domain)) + 1 AS remaining
             |  FROM f),
             |flags AS (SELECT *, cap * remaining <= 40000.0 - pfx AS capped FROM wdw),
             |tau AS (SELECT (40000.0 - coalesce(sum(CASE WHEN capped THEN cap END), 0.0))
             |  / greatest(coalesce(sum(CASE WHEN NOT capped THEN 1 END)::BIGINT, 0), 1) AS tau FROM flags)
             |SELECT domain AS lang, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  round(cap, 6) AS cap,
             |  round(CASE WHEN capped THEN cap ELSE least(cap, tau) END, 6) AS alloc,
             |  round(round(CASE WHEN capped THEN cap ELSE least(cap, tau) END, 6) / n_tokens, 6) AS epochs
             |FROM flags, tau ORDER BY lang""".stripMargin.replace('\n', ' ')),
      doc = "UniMax water-filling token-budget allocation across languages (2-epoch cap)"),

    // ---- round-robin domain interleave: curriculum ORDER, not
    // membership — (round, slot) coordinates spread domains one row per
    // round; md5-seeded within-domain shuffle, fully oracle-checked
    "q_interleave_domains" -> Q(
      (s, dir) => graft.operators.Sampling.interleaveDomains(
          table(s, dir, "documents"), col("lang"), col("doc_id"), seed = 7L)
        .select(col("doc_id"), col("domain"), col("slot"), col("round"))
        .orderBy(col("round"), col("slot"), col("doc_id")),
      Some("""WITH s AS (SELECT lang AS domain,
             |  (row_number() OVER (ORDER BY lang) - 1)::INTEGER AS slot
             |  FROM (SELECT DISTINCT lang FROM documents)),
             |r AS (SELECT doc_id, lang AS domain,
             |      md5('7:' || doc_id::VARCHAR) AS h FROM documents)
             |SELECT r.doc_id, r.domain, s.slot,
             |(row_number() OVER (PARTITION BY r.domain ORDER BY r.h, r.doc_id) - 1)::BIGINT AS round
             |FROM r JOIN s USING (domain)
             |ORDER BY round, slot, doc_id""".stripMargin.replace('\n', ' ')),
      doc = "deterministic round-robin domain interleave as (round, slot) order coordinates"),

    // ---- per-label class centroids: Summarizer's fixed-width buffer
    // (no n x d explode before the shuffle); output flattens to
    // (label, dim, value) scalar rows for the comparator
    "q_vec_label_centroids" -> Q(
      (s, dir) => graft.operators.EmbeddingOps.labelCentroids(
          table(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "v")),
          col("n"))
        .select(col("label"), col("dim"), round(col("v"), 6).as("v"), col("n"))
        .orderBy(col("label"), col("dim")),
      Some("""WITH x AS (SELECT label, embedding,
             |  unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
             |SELECT label, (i - 1)::INTEGER AS dim,
             |round(avg(embedding[i]), 6) AS v, count(*) AS n
             |FROM x GROUP BY label, i
             |ORDER BY label, dim""".stripMargin.replace('\n', ' ')),
      doc = "element-wise mean embedding per label (class centroids)"),

    // ---- embedding-space drift between two snapshots: the monitor
    // that says WHEN to rebuild the ANN index (centroid direction /
    // magnitude shift); each side is one fixed-width Summarizer agg
    "q_vec_embedding_drift" -> Q(
      (s, dir) => {
        val e = table(s, dir, "embeddings")
        graft.operators.Drift.embeddingDrift(
          e.filter(col("label") % 2 === 0),
          e.filter(col("label") % 2 === 1), "embedding")
      },
      Some("""WITH r AS (SELECT embedding AS e FROM embeddings WHERE label % 2 = 0),
             |c AS (SELECT embedding AS e FROM embeddings WHERE label % 2 = 1),
             |rm AS (SELECT i, avg(e[i]) AS m FROM
             |  (SELECT e, unnest(range(1, len(e) + 1)) AS i FROM r) GROUP BY i),
             |cm AS (SELECT i, avg(e[i]) AS m FROM
             |  (SELECT e, unnest(range(1, len(e) + 1)) AS i FROM c) GROUP BY i),
             |d AS (SELECT sum(rm.m * cm.m) AS dot, sum(rm.m * rm.m) AS r2,
             |  sum(cm.m * cm.m) AS c2,
             |  sum((rm.m - cm.m) * (rm.m - cm.m)) AS sh FROM rm JOIN cm USING (i)),
             |n AS (SELECT (SELECT count(*) FROM r)::BIGINT AS n_ref,
             |  (SELECT count(*) FROM c)::BIGINT AS n_cur)
             |SELECT n_ref, n_cur,
             |round(dot / (sqrt(r2) * sqrt(c2)), 6) AS centroid_cosine,
             |round(sqrt(sh), 6) AS centroid_shift,
             |round(sqrt(r2), 6) AS norm_ref, round(sqrt(c2), 6) AS norm_cur
             |FROM d, n""".stripMargin.replace('\n', ' ')),
      doc = "mean-vector cosine/shift between even- and odd-label embedding snapshots"),

    // ---- label-outlier scores (cleanlab-style mislabeled-sample QA):
    // distance to own label centroid, z-scored within the label —
    // broadcast centroids + broadcast per-label stats, map-side math
    "q_vec_label_outliers" -> Q(
      (s, dir) => graft.operators.EmbeddingOps.labelOutliers(
          table(s, dir, "embeddings"), "vec_id", "label", "embedding")
        .select(col("id").as("vec_id"), col("label"),
          round(col("dist"), 6).as("dist"), round(col("z"), 6).as("z"))
        .orderBy(round(col("z"), 6).desc, col("vec_id")).limit(50),
      Some("""WITH x AS (SELECT vec_id, label, embedding,
             |  unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
             |cent AS (SELECT label, i, avg(embedding[i]) AS c FROM x GROUP BY label, i),
             |d AS (SELECT vec_id, x.label,
             |  sqrt(sum((embedding[x.i] - c) * (embedding[x.i] - c))) AS dist
             |  FROM x JOIN cent ON x.label = cent.label AND x.i = cent.i
             |  GROUP BY vec_id, x.label),
             |st AS (SELECT label, avg(dist) AS mu, stddev_samp(dist) AS sigma
             |  FROM d GROUP BY label)
             |SELECT vec_id, label, round(dist, 6) AS dist,
             |round((dist - mu) / sigma, 6) AS z
             |FROM d JOIN st USING (label)
             |ORDER BY round((dist - mu) / sigma, 6) DESC, vec_id
             |LIMIT 50""".stripMargin.replace('\n', ' ')),
      doc = "per-label outlier z-scores: distance to own class centroid (label-noise audit)"),

    // ---- PCA embedding reduction (SemDeDup's pre-step). FULL oracle
    // via the artifact-replay pattern (r15 verdict Next #3): the
    // eigendecomposition — the non-SQL part — persists ONCE as the
    // loadings artifact (IndexStore.pca8); the query projects map-side
    // against the persisted matrix (k aggregate-HOF dot products, zero
    // shuffle, zero refit per run) and DuckDB replays the SAME
    // projection from the SAME parquet. Output stays the per-row
    // projection norm; the subspace law (planted low-rank data
    // reconstructs exactly, variance ordering, orthonormal loadings)
    // remains gated in DedupSpec against fitPca itself.
    "q_vec_pca" -> Q(
      (s, dir) => {
        val L = graft.operators.IndexStore.pcaLoadings(s, dir, 8).collect()
        val d = L.map(_.getInt(0)).max + 1
        val nk = L.map(_.getInt(1)).max + 1
        val V = Array.ofDim[Double](nk, d)
        L.foreach(r => V(r.getInt(1))(r.getInt(0)) = r.getDouble(2))
        val projs = (0 until nk).map { kk =>
          aggregate(zip_with(col("embedding").cast("array<double>"),
            typedLit(V(kk).toSeq), (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x)
        }
        table(s, dir, "embeddings").select(col("vec_id"),
            round(sqrt(projs.map(p => p * p).reduce(_ + _)), 4).as("pca_norm"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH L AS (SELECT i, k, v
             |  FROM read_parquet('__PCA_ARTIFACT__/loadings/*.parquet')),
             |p AS (SELECT e.vec_id, L.k,
             |  sum(e.embedding[L.i + 1]::DOUBLE * L.v) AS p
             |  FROM embeddings e CROSS JOIN L GROUP BY e.vec_id, L.k)
             |SELECT vec_id, round(sqrt(sum(p * p)), 4) AS pca_norm
             |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin.replace('\n', ' ')),
      doc = "8-dim PCA projection norms per embedding (oracle replays the projection from the persisted loadings artifact)"),

    // ---- cluster-prototype sampling (coreset selection): nearest-to-
    // centroid representatives per embedding cluster off the persisted
    // ANN artifact. Deterministic given the artifact, but KMeans is not
    // SQL-expressible -> no_oracle; selection law gated in
    // WeightedSampleSpec on hand-built clusters.
    // FULL oracle (r13 verdict #4, oracle-reads-the-artifact): the
    // centroids are parquet in the IndexStore; DuckDB reads the SAME
    // files (Verify resolves __ANN_ARTIFACT__ to the verified sfDir's
    // artifact at dump time) and replays assignment (first argmax
    // cluster on exact double equality — min(cluster_id) over the
    // max-sim rows), the per-cluster rank window, and the 6dp round.
    "q_sample_prototypes" -> Q(
      (s, dir) => graft.operators.Sampling.prototypeSample(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          graft.operators.IndexStore.ann(s, dir).centroids, perCluster = 5)
        .orderBy(col("cluster_id"), col("centroid_sim").desc, col("id")),
      Some("""WITH c AS (SELECT cluster_id, centroid::DOUBLE[] AS cv
             |  FROM read_parquet('__ANN_ARTIFACT__/centroids/*.parquet')),
             |sims AS (SELECT e.vec_id AS id, c.cluster_id,
             |  list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS sim
             |  FROM embeddings e CROSS JOIN c),
             |best AS (SELECT id, max(sim) AS best FROM sims GROUP BY id),
             |assign AS (SELECT s.id, min(s.cluster_id) AS cluster_id, max(b.best) AS best
             |  FROM sims s JOIN best b ON b.id = s.id AND s.sim = b.best GROUP BY s.id),
             |r AS (SELECT id, cluster_id, best, row_number() OVER
             |  (PARTITION BY cluster_id ORDER BY best DESC, id) AS rk FROM assign)
             |SELECT id, cluster_id, round(best, 6) AS centroid_sim FROM r
             |WHERE rk <= 5 ORDER BY cluster_id, centroid_sim DESC, id""".stripMargin.replace('\n', ' ')),
      doc = "5 nearest-to-centroid prototypes per cluster (oracle reads the artifact's centroid parquet)"),

    // ---- blocked fuzzy self-join (record linkage): PassJoin pigeonhole
    // segment blocking + levenshtein verify; the oracle is BRUTE FORCE,
    // so a pass certifies the blocking found every pair (completeness)
    "q_fuzzy_join" -> Q(
      (s, dir) => graft.operators.Dedup.fuzzySelfJoin(
          table(s, dir, "supplier"), "s_suppkey", "s_name", maxDist = 1)
        .orderBy(col("id_a"), col("id_b")),
      Some("""SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
             |levenshtein(a.s_name, b.s_name) AS dist
             |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
             |WHERE levenshtein(a.s_name, b.s_name) <= 1
             |ORDER BY id_a, id_b""".stripMargin.replace('\n', ' '))),

    // ---- equi-width histogram profile: bounds ride as a broadcast
    // 1-row frame (no driver action), bucketing is pure map-side math
    "q_histogram" -> Q(
      (s, dir) => {
        val e = table(s, dir, "events")
        val bounds = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        e.select(col("value")).crossJoin(broadcast(bounds))
          .select(least(lit(15), floor((col("value") - col("lo")) /
            (col("hi") - col("lo")) * 16)).cast("int").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .orderBy(col("bucket"))
      },
      Some("""WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
             |SELECT least(15, floor((value - lo) / (hi - lo) * 16))::INT AS bucket,
             |count(*) AS n FROM events CROSS JOIN b
             |GROUP BY 1 ORDER BY bucket""".stripMargin.replace('\n', ' '))),

    // ---- exact interpolated per-group percentiles (profiling): one
    // partial-agg pass; Spark percentile == DuckDB quantile_cont
    "q_percentiles_group" -> Q(
      (s, dir) => table(s, dir, "lineitem")
        // double, not decimal: exact within the oracle's 4-decimal
        // compare, and the percentile buffer is fixed-width primitives
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
        .groupBy(col("l_returnflag"))
        // ONE percentile agg over the quantile array (three separate
        // calls would each carry a per-group value->count map)
        .agg(expr("percentile(p, array(0.25, 0.5, 0.75))").as("__q"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          round(element_at(col("__q"), 1), 4).as("p25"),
          round(element_at(col("__q"), 2), 4).as("p50"),
          round(element_at(col("__q"), 3), 4).as("p75"),
          col("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             |round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
             |count(*) AS n FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin.replace('\n', ' '))),

    // ---- winsorized (percentile-clipped) statistics: outlier-robust
    // feature cleaning — exact [p01, p99] bounds come from funnel-free
    // sketch-then-refine (operators.Quantiles, bit-identical to DuckDB
    // quantile_cont so fully oracle-checked) and bind as literals;
    // clamping is map-side math.
    "q_winsorize" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
        graft.operators.Robust.winsorize(li, "p")
          .withColumnRenamed("__w", "w")
          .groupBy(col("l_returnflag"))
          .agg(round(min(col("lo")), 4).as("lo"), round(min(col("hi")), 4).as("hi"),
            round(avg(col("p")), 4).as("avg_raw"),
            round(avg(col("w")), 4).as("avg_winsorized"),
            sum((col("p") =!= col("w")).cast("long")).as("n_clipped"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH b AS (SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
             |  quantile_cont(l_extendedprice, 0.99) AS hi FROM lineitem),
             |c AS (SELECT l_returnflag, l_extendedprice::DOUBLE AS p,
             |  least(greatest(l_extendedprice::DOUBLE, lo), hi) AS w, lo, hi
             |  FROM lineitem, b)
             |SELECT l_returnflag, round(min(lo), 4) AS lo, round(min(hi), 4) AS hi,
             |round(avg(p), 4) AS avg_raw, round(avg(w), 4) AS avg_winsorized,
             |sum(CAST(p <> w AS BIGINT))::BIGINT AS n_clipped
             |FROM c GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin.replace('\n', ' ')),
      doc = "percentile-clipped robust statistics (winsorization at [p01, p99])"),

    // ---- per-group winsorization: each return flag clamps to its own
    // [p01, p99] (ONE grouped array-percentile agg, broadcast join back)
    "q_winsorize_group" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
        graft.operators.Robust.winsorizeByGroup(li, "l_returnflag", "p")
          .withColumnRenamed("__w", "w")
          .groupBy(col("l_returnflag"))
          .agg(round(min(col("lo")), 4).as("lo"), round(min(col("hi")), 4).as("hi"),
            round(avg(col("p")), 4).as("avg_raw"),
            round(avg(col("w")), 4).as("avg_winsorized"),
            sum((col("p") =!= col("w")).cast("long")).as("n_clipped"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH b AS (SELECT l_returnflag,
             |  quantile_cont(l_extendedprice::DOUBLE, 0.01) AS lo,
             |  quantile_cont(l_extendedprice::DOUBLE, 0.99) AS hi
             |  FROM lineitem GROUP BY 1),
             |c AS (SELECT l.l_returnflag, l.l_extendedprice::DOUBLE AS p,
             |  least(greatest(l.l_extendedprice::DOUBLE, lo), hi) AS w, lo, hi
             |  FROM lineitem l JOIN b USING (l_returnflag))
             |SELECT l_returnflag, round(min(lo), 4) AS lo, round(min(hi), 4) AS hi,
             |round(avg(p), 4) AS avg_raw, round(avg(w), 4) AS avg_winsorized,
             |sum(CAST(p <> w AS BIGINT))::BIGINT AS n_clipped
             |FROM c GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin.replace('\n', ' ')),
      doc = "per-group winsorization: group-local [p01, p99] clamping"),

    // ---- MAD robust z: the outlier score a single extreme value
    // cannot corrupt (0.6745 (x - med) / MAD, flag at the standard 3.5)
    "q_robust_mad" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
        graft.operators.Robust.madScore(li, "p")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum((abs(col("robust_z")) > 3.5).cast("long")).as("n_outliers"),
            round(min(col("med")), 4).as("med"), round(min(col("mad")), 4).as("mad"),
            round(min(col("robust_z")), 6).as("z_min"),
            round(max(col("robust_z")), 6).as("z_max"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH m AS (SELECT quantile_cont(l_extendedprice::DOUBLE, 0.5) AS med FROM lineitem),
             |a AS (SELECT quantile_cont(abs(l_extendedprice::DOUBLE - med), 0.5) AS mad
             |      FROM lineitem, m),
             |c AS (SELECT l_returnflag, med, mad,
             |  0.6745 * (l_extendedprice::DOUBLE - med) / mad AS z FROM lineitem, m, a)
             |SELECT l_returnflag, count(*) AS n,
             |sum(CAST(abs(z) > 3.5 AS BIGINT))::BIGINT AS n_outliers,
             |round(min(med), 4) AS med, round(min(mad), 4) AS mad,
             |round(min(z), 6) AS z_min, round(max(z), 6) AS z_max
             |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace('\n', ' ')),
      doc = "median-absolute-deviation robust z outlier profile per return flag"),

    // ---- cross-source quantile normalization (batch-effect removal):
    // every language's n_chars distribution maps onto English's via
    // Q_ref(F_group(x)) with linear quantile interpolation — after the
    // transform a threshold means the same thing in every source. The
    // reference ranks stamp through the distributed RowNumber (never an
    // unpartitioned window); FULL oracle.
    "q_feature_qnorm" -> Q(
      (s, dir) => graft.operators.Features.quantileNormalize(
          table(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "n_chars", refGroup = "en")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("q_norm"))
        .orderBy(col("doc_id")),
      Some("""WITH nn AS (SELECT doc_id, lang, n_chars, n_chars::DOUBLE AS v
             |  FROM documents WHERE n_chars IS NOT NULL),
             |pr AS (SELECT doc_id, lang, n_chars,
             |  percent_rank() OVER (PARTITION BY lang ORDER BY v) AS p FROM nn),
             |ref AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS rn0
             |  FROM nn WHERE lang = 'en'),
             |n AS (SELECT count(*) AS nref FROM ref),
             |t AS (SELECT doc_id, lang, n_chars, p * (nref - 1) AS t FROM pr, n)
             |SELECT t.doc_id, t.lang, t.n_chars,
             |  round(lo.v + (t.t - floor(t.t)) * (hi.v - lo.v), 6) AS q_norm
             |FROM t JOIN ref lo ON lo.rn0 = CAST(floor(t.t) AS BIGINT)
             |  JOIN ref hi ON hi.rn0 = CAST(ceil(t.t) AS BIGINT)
             |ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "cross-source quantile normalization of n_chars onto the English distribution"),

    // ---- equal-frequency discretization: decile binning against
    // exact edges bound as literals, map-side bin math
    "q_discretize" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_extendedprice").cast("double").as("v"))
        graft.operators.Features.discretize(li, "v", bins = 10)
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            round(min(col("v")), 2).as("v_min"), round(max(col("v")), 2).as("v_max"))
          .orderBy(col("bin"))
      },
      Some("""WITH e AS (SELECT quantile_cont(l_extendedprice::DOUBLE,
             |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges FROM lineitem),
             |b AS (SELECT l_extendedprice::DOUBLE AS v,
             |  len(list_filter(edges, x -> l_extendedprice::DOUBLE >= x))::INT AS bin
             |  FROM lineitem, e)
             |SELECT bin, count(*) AS n, round(min(v), 2) AS v_min,
             |round(max(v), 2) AS v_max
             |FROM b GROUP BY bin ORDER BY bin""".stripMargin.replace('\n', ' ')),
      doc = "equal-frequency decile discretization (quantile-edge binning)"),

    // ---- categorical encoders: smoothed target mean + frequency,
    // category table folded with the broadcast prior, broadcast encode join
    "q_cat_encode" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice").cast("double").as("y"))
        graft.operators.Features.targetEncode(o, "o_orderpriority", "y")
          .filter(col("o_orderkey") < 2000)
          .select(col("o_orderkey"), col("o_orderpriority"),
            round(col("target_enc"), 4).as("target_enc"),
            round(col("freq_enc"), 6).as("freq_enc"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH p AS (SELECT avg(o_totalprice::DOUBLE) AS prior, count(*) AS total FROM orders),
             |s AS (SELECT o_orderpriority, count(*) AS n, sum(o_totalprice::DOUBLE) AS sm
             |      FROM orders GROUP BY 1),
             |enc AS (SELECT o_orderpriority, (sm + prior * 10.0) / (n + 10.0) AS te,
             |  n::DOUBLE / total AS fe FROM s, p)
             |SELECT o.o_orderkey, o.o_orderpriority, round(te, 4) AS target_enc,
             |round(fe, 6) AS freq_enc
             |FROM orders o JOIN enc USING (o_orderpriority)
             |WHERE o.o_orderkey < 2000 ORDER BY o.o_orderkey""".stripMargin.replace('\n', ' ')),
      doc = "smoothed target encoding + frequency encoding of a categorical"),

    // ---- correlation profile: pairwise Pearson over numeric columns in
    // ONE partial-agg pass (co-moment merge is associative)
    "q_corr_matrix" -> Q(
      (s, dir) => table(s, dir, "lineitem")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price"),
          round(corr(col("l_quantity"), col("l_discount")), 6).as("qty_disc"),
          round(corr(col("l_extendedprice"), col("l_discount")), 6).as("price_disc"),
          round(corr(col("l_extendedprice"), col("l_tax")), 6).as("price_tax")),
      Some("""SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
             |round(corr(l_quantity, l_discount), 6) AS qty_disc,
             |round(corr(l_extendedprice, l_discount), 6) AS price_disc,
             |round(corr(l_extendedprice, l_tax), 6) AS price_tax
             |FROM lineitem""".stripMargin.replace('\n', ' '))),

    // ---- domain mixing WITH replacement: zh/fr quotas exceed their
    // populations, so rows replicate deterministically (floor copies +
    // md5-order remainder) to hit the mixture exactly — oversampling
    // for under-represented domains, fully oracle-checked
    "q_domain_mix_oversample" -> Q(
      (s, dir) => graft.operators.Sampling.domainMixOversample(
          table(s, dir, "documents"), col("lang"), col("doc_id"),
          Map("en" -> 0.2, "zh" -> 0.5, "fr" -> 0.3), totalN = 400L)
        .select(col("doc_id"), col("lang"), col("dup_idx"))
        .orderBy(col("doc_id"), col("dup_idx")),
      Some("""WITH r AS (SELECT doc_id, lang, row_number() OVER (
             |  PARTITION BY lang ORDER BY md5(doc_id::VARCHAR)) AS rk,
             |  count(*) OVER (PARTITION BY lang) AS avail FROM documents),
             |q AS (SELECT doc_id, lang, rk, avail, CASE lang WHEN 'en' THEN 80
             |  WHEN 'zh' THEN 200 WHEN 'fr' THEN 120 ELSE 0 END AS quota FROM r),
             |c AS (SELECT doc_id, lang, CASE WHEN quota <= avail
             |  THEN CASE WHEN rk <= quota THEN 1 ELSE 0 END
             |  ELSE quota // avail + CASE WHEN rk <= quota % avail THEN 1 ELSE 0 END
             |  END AS copies FROM q)
             |SELECT doc_id, lang, unnest(range(1, copies+1)) AS dup_idx
             |FROM c WHERE copies > 0
             |ORDER BY doc_id, dup_idx""".stripMargin.replace('\n', ' '))),

    // ---- temperature-scaled mixture (mT5 practice): quotas ∝ count^(1/2)
    // upweight small langs without hand-written shares; the oracle
    // recomputes the same sqrt-scaled quotas from the data
    "q_domain_mix_temperature" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        graft.operators.Sampling.domainMix(d, col("lang"), col("doc_id"),
            graft.operators.Sampling.temperatureTargets(d, col("lang"), 2.0),
            totalN = 200L)
          .groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .orderBy(col("lang"))
      },
      Some("""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
             |sh AS (SELECT lang, sqrt(cnt) AS w, (SELECT sum(sqrt(cnt)) FROM c) AS z FROM c),
             |q AS (SELECT lang, floor(200 * w / z + 1e-9)::BIGINT AS quota FROM sh),
             |r AS (SELECT lang, row_number() OVER (
             |  PARTITION BY lang ORDER BY md5(doc_id::VARCHAR)) AS rk FROM documents)
             |SELECT r.lang AS lang, count(*) AS n FROM r JOIN q ON r.lang = q.lang
             |WHERE rk <= quota GROUP BY r.lang
             |ORDER BY r.lang""".stripMargin.replace('\n', ' '))),

    // ---- deterministic WEIGHTED per-group sample: Efraimidis-Spirakis
    // keys over a hash-derived uniform — the weighted-reservoir
    // distribution, yet engine-independent and FULLY oracle-checked
    // (DuckDB mirrors the md5-fold uniform with list_reduce)
    "q_sample_group_weighted" -> Q(
      (s, dir) => graft.operators.Sampling.weightedHashSamplePerGroup(
          table(s, dir, "documents"), col("lang"), col("doc_id"),
          col("n_chars"), 5)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, lang, n_chars, md5(doc_id::VARCHAR) AS h FROM documents),
             |u AS (SELECT doc_id, lang, n_chars,
             |  (list_reduce(list_prepend(0, list_transform(range(1,33),
             |     i -> ascii(substr(h, CAST(i AS INT), 1)))),
             |   (a, b) -> (a*31 + b) % 1000003) + 1) / 1000004.0 AS uu FROM t),
             |r AS (SELECT doc_id, lang, n_chars, row_number() OVER (
             |  PARTITION BY lang ORDER BY -ln(uu)/n_chars, doc_id) AS rk FROM u)
             |SELECT doc_id, lang, n_chars FROM r WHERE rk <= 5
             |ORDER BY lang, doc_id""".stripMargin.replace('\n', ' '))),

    // ---- ORDER BY RANDOM() shuffle (tql.md:523-532) — seeded via the
    // same md5-fold uniform the samplers use, NOT Spark's rand():
    // hash-of-key ordering is layout-independent (a repartitioned or
    // task-retried 100 TB scan shuffles identically), and replayable in
    // any engine with string md5, so the check upgrades from rows-only
    // to a FULL DuckDB oracle. TakeOrderedAndProject keeps the limit a
    // per-partition top-k, never a global sort.
    "q_shuffle_random" -> Q(
      (s, dir) => {
        val key = graft.operators.Sampling.hashUniform(
          concat_ws(":", lit("shuf42"), col("event_id")))
        table(s, dir, "events")
          .orderBy(key, col("event_id"))
          .select(col("event_id"), col("event_type"))
          .limit(20)
      },
      Some(s"""WITH t AS (SELECT event_id, event_type,
              |  md5('shuf42:' || event_id::VARCHAR) AS h FROM events)
              |SELECT event_id, event_type FROM t
              |ORDER BY ${uuSql("h")}, event_id LIMIT 20"""
        .stripMargin.replace('\n', ' ')),
      doc = "seeded hash shuffle; md5-fold key -> full oracle, layout-independent")
  )
}
