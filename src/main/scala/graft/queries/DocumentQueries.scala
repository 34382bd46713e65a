package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pii, TextAnalysis => TA}

/** Training-data pipeline surface over `documents` + `embeddings`:
  * deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), text analysis (language-ID, quality scoring, token
  * counting, fingerprinting), keyword search.
  *
  * Every dedup variant here carries a full DuckDB oracle: the shared
  * deterministic hash is md5, and MinHash uses lexicographic-min over
  * md5 hex strings, so candidate generation is bit-identical across
  * engines (no engine-specific hash functions anywhere).
  */
object DocumentQueries extends QueryModule {

  // ---- shared oracle SQL fragments (kept in lockstep with TextAnalysis) ----
  private val shingleCte =
    """t AS (SELECT doc_id, lang, length(text) AS len, string_split(text,' ') AS w FROM documents),
      |s AS (SELECT doc_id, len, CASE WHEN len(w) >= 3
      |  THEN list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))
      |  ELSE []::VARCHAR[] END AS sh FROM t)""".stripMargin.replace('\n', ' ')

  private val jacSql =
    "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))"

  private val sigSql = (0 until 8)
    .map(i => s"list_aggregate(list_transform(sh, x -> md5('$i:'||x)),'min')")
    .mkString("[", ", ", "]")

  // 64-bit simhash replay over PRE-HASHED token arrays (column `hw` =
  // list_transform(w, md5), column `nw` = len(w)): bit p = majority of
  // bit (3 - p%4) of hex digit (p/4 + 1) — in lockstep with
  // TextAnalysis.simhash64
  private val simhash64Sql = (0 until 64).map { p =>
    val d = p / 4 + 1; val s = 3 - (p % 4)
    s"CASE WHEN 2*list_aggregate(list_transform(hw, x -> (('0x'||substring(x,$d,1))::INTEGER >> $s) & 1),'sum') >= nw THEN '1' ELSE '0' END"
  }.mkString("concat(", ", ", ")")

  // shared CTE staging the per-token md5 once (the 64 bit terms above
  // each re-substring it, but never re-hash)
  private val simhashCte =
    """t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |hh AS (SELECT doc_id, len(w) AS nw, list_transform(w, x -> md5(x)) AS hw FROM t)""".stripMargin.replace('\n', ' ')

  private val langScoreSql = TA.langMarkers.map { case (lang, ms) =>
    s"len(list_filter(w, x -> x IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_$lang"
  }.mkString(", ")

  private val langBest = "greatest(s_en, s_fr, s_es, s_zh, s_de)"
  private val langPredSql = TA.langMarkers.map(_._1)
    .map(l => s"WHEN s_$l = $langBest AND $langBest > 0 THEN '$l'")
    .mkString("CASE ", " ", " ELSE 'unknown' END")

  // ---- PII fixtures: the synthetic corpus is plain words, so both
  // engines enrich 3/4 of the docs with identical doc_id-derived PII
  // tokens (email, phone, ip, ssn-shaped id) before scrubbing —
  // deterministic, driver-data-derived input that actually exercises
  // the redactor. Regexes interpolate from Pii.patterns verbatim.
  private def piiEnrichSpark(doc: Column, text: Column): Column = {
    val d = doc.cast("string")
    concat(text, when(doc % 4 =!= 3, concat(
      lit(" contact user"), d, lit("@mail.com call +1-"),
      lpad(((doc * 7) % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(((doc * 13) % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (doc % 256).cast("string"), lit(".0."),
      ((doc * 3) % 256).cast("string"),
      lit(" id "), lpad((doc % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((doc % 100).cast("string"), 2, "0"), lit("-"),
      lpad((doc % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
  }

  private val piiEnrichSql =
    """text || CASE WHEN doc_id % 4 <> 3 THEN ' contact user' || doc_id ||
      |'@mail.com call +1-' || lpad((doc_id*7 % 1000)::VARCHAR, 3, '0') ||
      |'-' || lpad((doc_id*13 % 10000)::VARCHAR, 4, '0') ||
      |' from 10.' || (doc_id % 256) || '.0.' || (doc_id*3 % 256) ||
      |' id ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
      |lpad((doc_id % 100)::VARCHAR, 2, '0') || '-' ||
      |lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END""".stripMargin.replace('\n', ' ')

  private val duckRedactSql = Pii.patterns.foldLeft("text2") {
    case (e, (_, p, r)) => s"regexp_replace($e, '$p', '$r', 'g')"
  }

  // ---- quality-rule fixtures: the synthetic corpus is single-line word
  // soup, so (PII-fixture pattern) both engines enrich deterministic
  // doc_id-derived classes with the structure each Gopher rule inspects:
  // mod-11 truncation (word-count rule), mod-7 bullet lines / ellipsis
  // lines / symbol words (alpha rule) / long words (mean-len rule).
  private def qrEnrichSpark(doc: Column, text: Column): Column = {
    val base = when(doc % 11 === 0,
        concat_ws(" ", slice(split(text, " "), 1, 8)))
      .otherwise(text)
    val dec = when(doc % 7 === 0,
        lit("\n- alpha beta\n- gamma delta\n- epsilon zeta"))
      .when(doc % 7 === 1, lit("\nto be continued...\nmore to come..."))
      .when(doc % 7 === 2, concat(lit("\n"), repeat(lit("## "), 39), lit("##")))
      .when(doc % 7 === 3,
        concat(lit("\n"), repeat(lit("longwordalphabetagamma "), 59),
          lit("longwordalphabetagamma")))
      .otherwise(lit(""))
    concat(base, dec)
  }

  private val qrEnrichSql =
    """CASE WHEN doc_id % 11 = 0
      |  THEN array_to_string((string_split(text,' '))[1:8], ' ') ELSE text END ||
      |CASE WHEN doc_id % 7 = 0 THEN chr(10) || '- alpha beta' || chr(10) || '- gamma delta' || chr(10) || '- epsilon zeta'
      |WHEN doc_id % 7 = 1 THEN chr(10) || 'to be continued...' || chr(10) || 'more to come...'
      |WHEN doc_id % 7 = 2 THEN chr(10) || repeat('## ', 39) || '##'
      |WHEN doc_id % 7 = 3 THEN chr(10) || repeat('longwordalphabetagamma ', 59) || 'longwordalphabetagamma'
      |ELSE '' END""".stripMargin.replace('\n', ' ')

  // metric SQL over text2, kept in lockstep with TextAnalysis.ruleMetrics
  private val qrMetricsSql =
    s"""len(ws) AS n_words,
      |round(list_aggregate(list_transform(ws, x -> length(x)), 'sum')::DOUBLE / len(ws), 6) AS mean_word_len,
      |round(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(ws), 6) AS alpha_frac,
      |round(len(list_filter(ln, x -> starts_with(x, '- ')))::DOUBLE / len(ln), 6) AS bullet_frac,
      |round(len(list_filter(ln, x -> ends_with(x, '...')))::DOUBLE / len(ln), 6) AS ellipsis_frac,
      |len(list_filter(ws, x -> x IN (${TA.stopwords.map(s0 => s"'$s0'").mkString(",")}))) AS stop_count""".stripMargin.replace('\n', ' ')

  private val qrFlagsSql =
    """(n_words >= 20 AND n_words <= 100000) AS f_words,
      |(mean_word_len >= 2.5 AND mean_word_len <= 8.0) AS f_mean_len,
      |(alpha_frac >= 0.9) AS f_alpha,
      |(bullet_frac <= 0.5) AS f_bullet,
      |(ellipsis_frac <= 0.3) AS f_ellipsis,
      |(stop_count >= 2) AS f_stop""".stripMargin.replace('\n', ' ')

  // ---- tokenizer-oracle builders: BPE/WordPiece training is
  // engine-replayable (pair/unit counts are exact longs; WordPiece's
  // likelihood score is ONE division of exact longs — identically
  // correctly-rounded in both engines), so the fixed merge rounds
  // unroll into chained CTEs and encoding replays as the same fold.

  /** word→count CTEs + initial symbol lists. `wp` switches between
    * BPE's char+</w> symbols and WordPiece's bare-first/##-rest. */
  private def tokHead(trainWhere: String, wp: Boolean): Seq[String] = Seq(
    s"wc AS MATERIALIZED (SELECT w, count(*)::BIGINT AS c FROM (SELECT " +
      s"unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents " +
      s"$trainWhere) t WHERE len(w) > 0 GROUP BY w)",
    if (wp)
      "s0 AS MATERIALIZED (SELECT w, c, list_prepend(w[1], list_transform(" +
        "range(2, length(w) + 1), i -> '##' || w[i])) AS syms FROM wc)"
    else
      "s0 AS MATERIALIZED (SELECT w, c, list_append(list_transform(" +
        "range(1, length(w) + 1), i -> w[i]), '</w>') AS syms FROM wc)")

  /** leftmost-first merge application as a list_reduce fold — equals
    * the scan because a freshly merged token can never re-match the
    * pair's left side (the right side is non-empty) */
  private def mergeFold(name: String, src: String, b: String,
      joined: String, keep: String): String =
    s"$name AS MATERIALIZED (SELECT $keep, list_reduce(list_transform(syms, x -> [x]), " +
      s"(acc, e) -> CASE WHEN acc[-1] = $b.l AND e[1] = $b.r " +
      s"THEN list_append(acc[1:len(acc) - 1], $joined) " +
      s"ELSE list_append(acc, e[1]) END) AS syms FROM $src, $b)"

  /** one BPE round: adjacent-pair count, (score DESC, l, r) argmax,
    * merge fold */
  private def bpeRound(i: Int): Seq[String] = Seq(
    s"pr$i AS (SELECT c, unnest(list_transform(range(1, len(syms)), " +
      s"j -> [syms[j], syms[j + 1]])) AS pr FROM s$i)",
    s"p$i AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, sum(c)::BIGINT AS score " +
      s"FROM pr$i GROUP BY 1, 2)",
    s"b$i AS MATERIALIZED (SELECT l, r, score FROM p$i ORDER BY score DESC, l, r LIMIT 1)",
    mergeFold(s"s${i + 1}", s"s$i", s"b$i", s"b$i.l || b$i.r", "w, c"))

  /** one WordPiece round: pair + unit counts, likelihood argmax
    * (score DESC, pc DESC, l, r), ##-aware merge fold */
  private def wpRound(i: Int): Seq[String] = Seq(
    s"pr$i AS (SELECT c, unnest(list_transform(range(1, len(syms)), " +
      s"j -> [syms[j], syms[j + 1]])) AS pr FROM s$i)",
    s"p$i AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, sum(c)::BIGINT AS pc " +
      s"FROM pr$i GROUP BY 1, 2)",
    s"u$i AS MATERIALIZED (SELECT s, sum(c)::BIGINT AS uc FROM " +
      s"(SELECT c, unnest(syms) AS s FROM s$i) t GROUP BY s)",
    s"b$i AS MATERIALIZED (SELECT p$i.l AS l, p$i.r AS r, pc, " +
      s"pc::DOUBLE / (ul.uc::DOUBLE * ur.uc::DOUBLE) AS score, " +
      s"p$i.l || CASE WHEN substr(p$i.r, 1, 2) = '##' " +
      s"THEN substr(p$i.r, 3) ELSE p$i.r END AS j " +
      s"FROM p$i JOIN u$i ul ON ul.s = p$i.l JOIN u$i ur ON ur.s = p$i.r " +
      s"ORDER BY score DESC, pc DESC, l, r LIMIT 1)",
    mergeFold(s"s${i + 1}", s"s$i", s"b$i", s"b$i.j", "w, c"))

  private def bpeMergesOracle(m: Int): String = {
    val ctes = tokHead("", wp = false) ++ (0 until m).flatMap(bpeRound)
    val union = (0 until m).map(i =>
      s"""SELECT $i::INT AS rank, l AS "left", r AS "right", score FROM b$i""")
      .mkString(" UNION ALL ")
    s"WITH ${ctes.mkString(", ")} SELECT * FROM ($union) ORDER BY rank"
  }

  private def wpMergesOracle(m: Int): String = {
    val ctes = tokHead("", wp = true) ++ (0 until m).flatMap(wpRound)
    val union = (0 until m).map(i =>
      s"""SELECT $i::INT AS rank, l AS "left", r AS "right", """ +
        s"pc AS pair_count, round(score, 9) AS score FROM b$i")
      .mkString(" UNION ALL ")
    s"WITH ${ctes.mkString(", ")} SELECT * FROM ($union) ORDER BY rank"
  }

  private def bpeEncodeOracle(m: Int, trainWhere: String,
      encWhere: String): String = {
    val train = tokHead(trainWhere, wp = false) ++ (0 until m).flatMap(bpeRound)
    val enc = Seq(
      s"ew AS MATERIALIZED (SELECT DISTINCT w FROM (SELECT " +
        s"unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents " +
        s"$encWhere) t WHERE len(w) > 0)",
      "e0 AS MATERIALIZED (SELECT w, list_append(list_transform(" +
        "range(1, length(w) + 1), i -> w[i]), '</w>') AS syms FROM ew)") ++
      (0 until m).map(i =>
        mergeFold(s"e${i + 1}", s"e$i", s"b$i", s"b$i.l || b$i.r", "w")) ++ Seq(
      s"seg AS MATERIALIZED (SELECT w, array_to_string(syms, ' ') AS segmentation, " +
        s"len(syms)::BIGINT AS ns FROM e$m)",
      s"dw AS (SELECT doc_id, " +
        s"unnest(regexp_split_to_array(text, '\\s+')) AS w, " +
        s"unnest(range(1, len(regexp_split_to_array(text, '\\s+')) + 1)) AS pos " +
        s"FROM documents $encWhere)")
    s"WITH ${(train ++ enc).mkString(", ")} " +
      "SELECT doc_id, count(*)::BIGINT AS n_words, " +
      "sum(seg.ns)::BIGINT AS n_subwords, " +
      "string_agg(seg.segmentation, ' ' ORDER BY pos) AS subwords " +
      "FROM dw JOIN seg USING (w) GROUP BY doc_id ORDER BY doc_id"
  }

  private def wpEncodeOracle(m: Int, trainWhere: String,
      encWhere: String): String = {
    val train = tokHead(trainWhere, wp = true) ++ (0 until m).flatMap(wpRound)
    val vocabUnion = ("SELECT piece FROM alpha" +:
      (0 until m).map(i => s"SELECT j FROM b$i")).mkString(" UNION ")
    val enc = Seq(
      "alpha AS MATERIALIZED (SELECT DISTINCT unnest(syms) AS piece FROM s0)",
      s"vocab AS MATERIALIZED ($vocabUnion)",
      s"ew AS MATERIALIZED (SELECT DISTINCT w FROM (SELECT " +
        s"unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents " +
        s"$encWhere) t WHERE len(w) > 0)",
      "pos AS MATERIALIZED (SELECT w, unnest(range(1, length(w) + 1)) AS start FROM ew)",
      // candidates: at start 1 a bare piece prefixes the word; later a
      // ##-piece's suffix matches at the offset. adv = consumed chars.
      "cand AS MATERIALIZED (SELECT p.w, p.start, v.piece, " +
        "CASE WHEN p.start > 1 THEN length(v.piece) - 2 " +
        "ELSE length(v.piece) END AS adv FROM pos p JOIN vocab v ON " +
        "CASE WHEN p.start = 1 THEN substr(v.piece, 1, 2) <> '##' " +
        "AND substr(p.w, 1, length(v.piece)) = v.piece " +
        "ELSE substr(v.piece, 1, 2) = '##' AND length(v.piece) > 2 " +
        "AND substr(p.w, p.start, length(v.piece) - 2) = substr(v.piece, 3) END)",
      "best AS MATERIALIZED (SELECT w, start, piece, adv FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY w, start ORDER BY adv DESC) AS rk " +
        "FROM cand) t WHERE rk = 1)",
      // greedy longest-match walk; a stalled walk (no match at some
      // offset) never reaches length(w)+1 -> word-level [UNK]
      "walk AS (SELECT w, 1::BIGINT AS start, CAST([] AS VARCHAR[]) AS pieces " +
        "FROM ew UNION ALL SELECT walk.w, walk.start + b.adv, " +
        "list_append(walk.pieces, b.piece) FROM walk " +
        "JOIN best b ON b.w = walk.w AND b.start = walk.start " +
        "WHERE walk.start <= length(walk.w))",
      "done AS MATERIALIZED (SELECT w, pieces FROM walk WHERE start = length(w) + 1)",
      "seg AS MATERIALIZED (SELECT ew.w, CASE WHEN d.w IS NULL THEN '[UNK]' " +
        "ELSE array_to_string(d.pieces, ' ') END AS segmentation, " +
        "CASE WHEN d.w IS NULL THEN 1::BIGINT ELSE len(d.pieces)::BIGINT END AS np, " +
        "CASE WHEN d.w IS NULL THEN 1 ELSE 0 END AS nu " +
        "FROM ew LEFT JOIN done d USING (w))",
      s"dw AS (SELECT doc_id, " +
        s"unnest(regexp_split_to_array(text, '\\s+')) AS w, " +
        s"unnest(range(1, len(regexp_split_to_array(text, '\\s+')) + 1)) AS pos " +
        s"FROM documents $encWhere)")
    s"WITH RECURSIVE ${(train ++ enc).mkString(", ")} " +
      "SELECT doc_id, count(*)::BIGINT AS n_words, " +
      "sum(seg.np)::BIGINT AS n_pieces, sum(seg.nu)::BIGINT AS n_unk, " +
      "string_agg(seg.segmentation, ' ' ORDER BY pos) AS pieces " +
      "FROM dw JOIN seg USING (w) GROUP BY doc_id ORDER BY doc_id"
  }

  /** DuckDB oracle for `q_dedup_embedding_rplsh`: recompute the SAME
    * seed-deterministic hyperplanes the engine binds as in-plan
    * literals ([[graft.operators.Dedup.rpLshNearDupPairs]]) and inline
    * each float's exact promoted-double value (`toDouble.toString`
    * round-trips; printing the FLOAT's shortest decimal would parse to
    * a different double). Sign bits, band keys, the banded candidate
    * self-join, and the exact-cosine verify then replay verbatim —
    * both engines read elements as doubles and fold left-to-right, and
    * the 6dp round on cos_sim absorbs any residual low-bit noise. */
  private def rpLshOracle(threshold: Double, numBits: Int, bands: Int,
      seed: Long, dim: Int): String = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(numBits, dim)(rnd.nextGaussian().toFloat)
    val bitExprs = planes.map { p =>
      val lits = p.map(_.toDouble.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(vec, $lits) >= 0 THEN '1' ELSE '0' END)"
    }
    val rpb = numBits / bands
    s"WITH v AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings), " +
      s"sig AS MATERIALIZED (SELECT id, ${bitExprs.mkString(" || ")} AS s FROM v), " +
      s"bnd AS MATERIALIZED (SELECT id, b, substring(s, b*$rpb + 1, $rpb) AS key " +
      s"FROM sig, range($bands) t(b)), " +
      "cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b FROM bnd x " +
      "JOIN bnd y ON x.b = y.b AND x.key = y.key AND x.id < y.id), " +
      "sc AS (SELECT id_a, id_b, " +
      "round(list_cosine_similarity(va.vec, vb.vec), 6) AS cos_sim " +
      "FROM cand JOIN v va ON va.id = cand.id_a JOIN v vb ON vb.id = cand.id_b) " +
      s"SELECT id_a, id_b, cos_sim FROM sc WHERE cos_sim > $threshold " +
      "ORDER BY id_a, id_b"
  }

  /** DuckDB oracle for `q_bootstrap_ci`: the per-(replicate, doc)
    * uniform replays via [[uuSql]], buckets through the SAME Poisson(1)
    * CDF constants the engine folds over
    * ([[graft.operators.Resampling.poissonCdf]], printed at full
    * round-trip precision), and the percentile ranks replay as a
    * row_number over the replicate means (ties broken by replicate). */
  private def bootstrapOracle(replicates: Int, loRank: Int,
      hiRank: Int): String = {
    val cdf = graft.operators.Resampling.poissonCdf
    val caseChain = cdf.zipWithIndex
      .map { case (c, k) => s"WHEN u <= $c THEN $k.0" }
      .mkString("CASE ", " ", " ELSE 9.0 END")
    val uu = uuSql("md5('42:' || rep || ':' || k || ':boot')")
    s"WITH b AS (SELECT doc_id::VARCHAR AS k, " +
      "len(string_split(text, ' '))::DOUBLE AS x FROM documents), " +
      s"r AS (SELECT k, x, unnest(range($replicates)) AS rep FROM b), " +
      s"u AS (SELECT rep, x, $uu AS u FROM r), " +
      s"w AS (SELECT rep, x, $caseChain AS w FROM u), " +
      "m AS (SELECT rep, sum(w*x)/sum(w) AS mean FROM w GROUP BY rep HAVING sum(w) > 0), " +
      "s AS (SELECT mean, row_number() OVER (ORDER BY mean, rep) AS rk, " +
      "count(*) OVER () AS nr FROM m), " +
      s"f AS (SELECT max(nr)::INT AS n_replicates, " +
      s"min(CASE WHEN rk = $loRank THEN mean END) AS lo, " +
      s"min(CASE WHEN rk = $hiRank THEN mean END) AS hi FROM s), " +
      "p AS (SELECT count(*)::BIGINT AS n_rows, sum(x)/count(*) AS pmean FROM b) " +
      "SELECT p.n_rows, f.n_replicates, round(p.pmean, 6) AS mean, " +
      "round(f.lo, 6) AS ci_lo, round(f.hi, 6) AS ci_hi FROM p CROSS JOIN f"
  }

  /** DuckDB oracle for `q_pack_sequences`: per md5 shard, walk the
    * (n desc, id) order through the IDENTICAL first-fit fold the engine
    * runs — the recursive CTE carries the bin-capacity list; DuckDB's
    * list_position returns 0 (not NULL) on no-fit, hence the
    * coalesce-and-compare-0 guard. bin_id = shard·2³² + local index
    * (equal to the engine's shard << 32 | b for non-negative values). */
  private def packSequencesOracle(maxTokens: Int, numShards: Int): String = {
    val pos = "coalesce(list_position(list_transform(w.bins, b2 -> b2 >= o.n), true), 0)"
    s"WITH RECURSIVE t AS (SELECT doc_id AS id, " +
      "(len(string_split(text, ' ')) + CAST(ceil(length(text)/16.0) AS INT))::INT AS n, " +
      s"(('0x'||substring(md5(doc_id::VARCHAR),1,8))::BIGINT % $numShards)::INT AS shard " +
      "FROM documents), " +
      "ord AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY n DESC, id) AS k FROM t), " +
      "cnt AS (SELECT shard, count(*) AS m FROM ord GROUP BY 1), " +
      "walk(shard, k, bins, ids, assigns) AS (" +
      "SELECT shard, 0::BIGINT, CAST([] AS INT[]), CAST([] AS BIGINT[]), CAST([] AS INT[]) FROM cnt " +
      "UNION ALL SELECT w.shard, w.k + 1, " +
      s"CASE WHEN o.n >= $maxTokens THEN list_append(w.bins, 0) " +
      s"WHEN $pos = 0 THEN list_append(w.bins, $maxTokens - o.n) " +
      s"ELSE list_transform(w.bins, (b, i) -> CASE WHEN i = $pos THEN b - o.n ELSE b END) END, " +
      "list_append(w.ids, o.id), " +
      s"list_append(w.assigns, CASE WHEN o.n >= $maxTokens OR $pos = 0 " +
      s"THEN len(w.bins) ELSE $pos - 1 END) " +
      "FROM walk w JOIN ord o ON o.shard = w.shard AND o.k = w.k + 1), " +
      "done AS (SELECT w.shard, w.ids, w.assigns FROM walk w " +
      "JOIN cnt c ON c.shard = w.shard AND w.k = c.m), " +
      "z AS (SELECT shard AS zshard, unnest(ids) AS zid, unnest(assigns) AS zb FROM done) " +
      "SELECT z.zid AS id, (z.zshard::BIGINT * 4294967296 + z.zb) AS bin_id, " +
      "t.n AS n_tokens FROM z JOIN t ON t.id = z.zid ORDER BY 1"
  }

  override def qs: Seq[(String, Q)] = Seq(

    // ---- exact dedup: corpus duplication profile
    "q_dedup_exact_stats" -> Q(
      (s, dir) => Dedup.exactStats(table(s, dir, "documents"), "text"),
      Some("""WITH g AS (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)
             |SELECT sum(c)::BIGINT AS n_docs, count(*) AS n_unique,
             |sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
             |sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END)::BIGINT AS n_redundant
             |FROM g""".stripMargin.replace('\n', ' '))),

    // ---- exact dedup: keeper mapping (dropped -> kept)
    "q_dedup_exact_mapping" -> Q(
      (s, dir) => Dedup.exactDupMapping(table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("dropped_id")),
      Some("""WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
             |g AS (SELECT h, min(doc_id) AS keeper, count(*) AS c FROM d GROUP BY h)
             |SELECT d.doc_id AS dropped_id, g.keeper AS kept_id
             |FROM d JOIN g USING(h) WHERE g.c > 1 AND d.doc_id <> g.keeper
             |ORDER BY dropped_id""".stripMargin.replace('\n', ' '))),

    // ---- n-gram Jaccard near-dup pairs (inverted shingle index, exact)
    "q_dedup_ngram_jaccard" -> Q(
      (s, dir) => Dedup.ngramJaccardPairs(table(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $shingleCte
              |SELECT id_a, id_b, jac FROM (
              |  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, round($jacSql, 6) AS jac
              |  FROM s sa JOIN s sb ON sa.doc_id < sb.doc_id) p
              |WHERE jac >= 0.8 ORDER BY id_a, id_b""".stripMargin.replace('\n', ' '))),

    // ---- sequence packing (pretraining batch prep): FFD bins inside
    // md5-keyed shards. FULL oracle since r14 (the shard key moved from
    // the Spark-hash partition id — engine-internal — to the
    // engine-independent md5 fold): DuckDB replays the exact first-fit
    // fold per shard as a recursive CTE over the (n desc, id) order.
    "q_pack_sequences" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
          .select(col("doc_id"), TA.estTokenCount(col("text")).as("nt"))
        TA.packSequences(d, "doc_id", "nt", maxTokens = 2048)
          .orderBy(col("id"))
      },
      Some(packSequencesOracle(maxTokens = 2048, numShards = 32)),
      doc = "first-fit-decreasing sequence packing into 2048-token bins (md5 shards; FFD replays as a recursive-CTE fold)"),

    // ---- cross-corpus decontamination (train/eval n-gram containment):
    // the pre-ship audit every pretraining pipeline runs — which eval
    // docs leak into the training split, by shingle containment
    "q_decontaminate" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        Dedup.crossCorpusContainment(
            d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
            d.filter(col("doc_id") % 3 === 0), "doc_id", "text",
            n = 3, threshold = 0.5)
          .orderBy(col("eval_id"), col("train_id"))
      },
      Some(s"""WITH $shingleCte,
              |tp AS (SELECT doc_id AS train_id, unnest(sh) AS sg FROM s WHERE doc_id % 3 <> 0),
              |ep AS (SELECT doc_id AS eval_id, len(sh) AS n_sh, unnest(sh) AS sg
              |       FROM s WHERE doc_id % 3 = 0 AND len(sh) > 0),
              |m AS (SELECT train_id, eval_id, n_sh, count(*) AS overlap
              |      FROM tp JOIN ep USING (sg) GROUP BY 1, 2, 3)
              |SELECT eval_id, train_id, round(overlap * 1.0 / n_sh, 6) AS containment
              |FROM m WHERE overlap * 1.0 / n_sh >= 0.5
              |ORDER BY eval_id, train_id""".stripMargin.replace('\n', ' '))),

    // ---- Bloom-prefiltered decontamination — the 100 TB posture of
    // q_decontaminate: a Bloom filter over the (bounded, benchmark-
    // sized) eval shingles broadcasts to the train scan, so only train
    // shingles that might occur in eval ever reach the shuffle. The
    // output is IDENTICAL to the exact operator (false positives die in
    // the eval equi-join), so it shares the exact query's FULL oracle;
    // DedupSpec additionally asserts the parity and measures the
    // prefilter's surviving fraction.
    "q_decontaminate_bloom" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        Dedup.crossCorpusContainmentBloom(
            d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
            d.filter(col("doc_id") % 3 === 0), "doc_id", "text",
            n = 3, threshold = 0.5)
          .orderBy(col("eval_id"), col("train_id"))
      },
      Some(s"""WITH $shingleCte,
              |tp AS (SELECT doc_id AS train_id, unnest(sh) AS sg FROM s WHERE doc_id % 3 <> 0),
              |ep AS (SELECT doc_id AS eval_id, len(sh) AS n_sh, unnest(sh) AS sg
              |       FROM s WHERE doc_id % 3 = 0 AND len(sh) > 0),
              |m AS (SELECT train_id, eval_id, n_sh, count(*) AS overlap
              |      FROM tp JOIN ep USING (sg) GROUP BY 1, 2, 3)
              |SELECT eval_id, train_id, round(overlap * 1.0 / n_sh, 6) AS containment
              |FROM m WHERE overlap * 1.0 / n_sh >= 0.5
              |ORDER BY eval_id, train_id""".stripMargin.replace('\n', ' ')),
      doc = "broadcast-Bloom prefiltered decontamination; output == exact operator"),

    // ---- semantic decontamination: the embedding-space twin of the
    // n-gram audit — paraphrased eval leakage that shares no exact
    // shingles still lands nearby in embedding space. Exact brute-force
    // semantics (eval broadcasts, train scanned once map-side), so the
    // oracle is a full cross compare.
    "q_decontaminate_semantic" -> Q(
      (s, dir) => {
        val e = table(s, dir, "embeddings")
        Dedup.embeddingDecontaminate(
            e.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
            e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
            threshold = 0.35)
          .orderBy(col("eval_id"))
      },
      Some("""WITH f AS (
             |SELECT e.vec_id AS eval_id, t.vec_id AS train_id,
             |  list_cosine_similarity(t.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS sim
             |FROM embeddings t JOIN embeddings e
             |  ON t.vec_id % 10 <> 0 AND e.vec_id % 10 = 0
             |WHERE list_cosine_similarity(t.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0.35),
             |c AS (SELECT eval_id, count(*) AS n_matches FROM f GROUP BY eval_id),
             |b AS (SELECT eval_id, train_id AS best_train_id, round(sim, 6) AS best_sim,
             |      row_number() OVER (PARTITION BY eval_id
             |        ORDER BY round(sim, 6) DESC, train_id) AS rn FROM f)
             |SELECT c.eval_id, c.n_matches, b.best_train_id, b.best_sim
             |FROM c JOIN b USING (eval_id) WHERE b.rn = 1
             |ORDER BY eval_id""".stripMargin.replace('\n', ' ')),
      doc = "embedding-space train/eval contamination (broadcast eval, exact cosine)"),

    // ---- MinHash + LSH near-dup pairs (8 hashes, 4 bands of 2)
    "q_dedup_minhash_lsh" -> Q(
      (s, dir) => Dedup.minhashLshPairs(table(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $shingleCte,
              |m AS (SELECT doc_id, $sigSql AS sig FROM s),
              |bd AS (SELECT doc_id, i AS band_idx, md5(sig[2*i+1] || sig[2*i+2]) AS band_key
              |       FROM m, range(4) AS r(i)),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bd a JOIN bd b ON a.band_idx = b.band_idx
              |         AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
              |SELECT id_a, id_b, jac FROM (
              |  SELECT c.id_a, c.id_b, round($jacSql, 6) AS jac
              |  FROM cand c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b) p
              |WHERE jac >= 0.8 ORDER BY id_a, id_b""".stripMargin.replace('\n', ' '))),

    // ---- SimHash signature buckets (collision groups)
    // member lists are CAPPED samples (100 smallest ids): a megabucket
    // of identical boilerplate must not materialize an unbounded array
    // in one aggregation row; the oracle slices its sorted list the
    // same way
    "q_dedup_simhash" -> Q(
      (s, dir) => Dedup.simhashBuckets(table(s, dir, "documents"), "doc_id", "text")
        .withColumn("member_sample", concat_ws(",", col("member_sample")))
        .orderBy(col("sig")),
      Some(s"""WITH $simhashCte,
              |sg AS (SELECT doc_id, $simhash64Sql AS sig FROM hh)
              |SELECT sig, count(*) AS n, array_to_string((list(doc_id ORDER BY doc_id))[1:100], ',') AS member_sample
              |FROM sg GROUP BY sig HAVING count(*) > 1 ORDER BY sig""".stripMargin.replace('\n', ' '))),

    // ---- simhash near-dup PAIRS within hamming distance 3: the
    // multi-block pigeonhole hamming join (Manku et al. 2007) over
    // 64-bit simhash fingerprints; oracle brute-forces the same
    // distance over the replicated simhash in DuckDB. In a 2^64 space
    // dist <= 3 admits ~2^-47 of RANDOM pairs — only true near-dups
    // survive — and blocks=6 keys on C(6,3)=20 three-block subsets of
    // ~32 bits each, so band buckets stay sparse at corpus scale
    "q_dedup_simhash_hamming" -> Q(
      (s, dir) => {
        // spread the one-split documents scan BEFORE the tokenize+simhash
        // kernel (r17, guide §2.6): the per-doc kernel is the query's
        // dominant cost and ran as a single serial task
        val fps = graft.core.Par.spread(table(s, dir, "documents"))
          .select(col("doc_id").as("id"),
            split(TA.simhash64(TA.tokens(col("text"))), "")
              .cast("array<tinyint>").as("bits"))
        Dedup.hammingNearDupPairs(fps, "id", "bits", maxDist = 3, blocks = 6)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dist"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH $simhashCte,
              |sg AS (SELECT doc_id, $simhash64Sql AS sig FROM hh)
              |SELECT doc_a, doc_b, dist FROM (
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |len(list_filter(range(1,65), p -> substring(a.sig,p,1) != substring(b.sig,p,1)))::INTEGER AS dist
              |FROM sg a JOIN sg b ON a.doc_id < b.doc_id) x
              |WHERE dist <= 3 ORDER BY doc_a, doc_b""".stripMargin.replace('\n', ' ')),
      doc = "complete banded hamming pairs over 64-bit simhash (dist <= 3)"),

    // ---- embedding-cosine near-dup pairs (cluster-blocked; centroids
    // come from the persisted ANN index so no KMeans fit at query time)
    "q_dedup_embedding" -> Q(
      (s, dir) => Dedup.embeddingNearDupPairs(table(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4,
          centroids = Some(graft.operators.IndexStore.ann(s, dir).centroids))
        .orderBy(col("id_a"), col("id_b")),
      Some("""SELECT id_a, id_b, cos_sim FROM (
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),6) AS cos_sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) p
             |WHERE cos_sim > 0.4 ORDER BY id_a, id_b""".stripMargin.replace('\n', ' '))),

    // ---- embedding near-dup via random-hyperplane LSH blocking
    // (KMeans-free alternative). FULL oracle (r13 verdict #3): the
    // hyperplanes are seed-deterministic in-plan literals, so the
    // oracle builder recomputes THE SAME planes and inlines each
    // float's exact promoted-double value — sign bits, band keys, the
    // banded candidate join, and the exact-cosine verify all replay in
    // SQL. DedupSpec additionally gates candidate recall vs the
    // lossless cluster-blocked pair set.
    "q_dedup_embedding_rplsh" -> Q(
      // spread the one-split embeddings scan before the numBits
      // dot-product signature kernel (r17, guide §2.6 — the probe showed
      // the whole query on 43 tasks, jobsum ≈ wall, i.e. a near-serial
      // FLOP-bound chain)
      (s, dir) => Dedup.rpLshNearDupPairs(
          graft.core.Par.spread(table(s, dir, "embeddings")),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b")),
      Some(rpLshOracle(threshold = 0.4, numBits = 16, bands = 8,
        seed = 42L, dim = 64)),
      doc = "random-hyperplane LSH embedding near-dup (seeded planes replay as SQL literals)"),

    // ---- exact repeated-span profile (substring-level dedup metric,
    // Lee et al. 2022): corpus-duplicated 5-grams merged to maximal
    // per-doc spans; oracle replays the gram counting + gaps-and-islands
    // span merge in DuckDB over the raw gram STRINGS (the engine uses
    // xxhash64 grams — identical output barring a 2^-64 collision)
    "q_dedup_repeated_spans" -> Q(
      (s, dir) => Dedup.repeatedSpanProfile(table(s, dir, "documents"),
          "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_dup_spans"), col("dup_tokens"), col("dup_frac"))
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g0 AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1))) AS i
             |       FROM tok WHERE len(w) >= 5),
             |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+4], ' ') AS gram FROM g0),
             |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
             |d AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
             |m AS (SELECT doc_id, pos, CASE WHEN pos > coalesce(max(pos + 5) OVER
             |        (PARTITION BY doc_id ORDER BY pos
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             |      THEN 1 ELSE 0 END AS ni FROM d),
             |i2 AS (SELECT doc_id, pos, sum(ni) OVER
             |        (PARTITION BY doc_id ORDER BY pos) AS isl FROM m),
             |sp AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + 5 AS e
             |       FROM i2 GROUP BY doc_id, isl),
             |pd AS (SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
             |       sum(e - s)::BIGINT AS dup_tokens FROM sp GROUP BY doc_id)
             |SELECT t.doc_id, len(t.w)::INTEGER AS n_tokens,
             |coalesce(pd.n_dup_spans, 0)::BIGINT AS n_dup_spans,
             |coalesce(pd.dup_tokens, 0)::BIGINT AS dup_tokens,
             |round(coalesce(pd.dup_tokens, 0)::DOUBLE / greatest(len(t.w), 1), 6) AS dup_frac
             |FROM tok t LEFT JOIN pd USING (doc_id)
             |ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "corpus-duplicated 5-gram spans per doc (exact substring dedup metric)"),

    // ---- exact duplicated-span REMOVAL (the rewrite of the profile
    // above, Lee et al. 2022 ExactSubstr): 8-token windows occurring
    // >= 2 times keep their first occurrence (min doc_id, pos) and
    // every other occurrence is cut; overlapping cuts merge to maximal
    // spans; the cleaned text is hash-compared against DuckDB replaying
    // the SAME keeper + islands + token-filter rules on gram STRINGS
    "q_dedup_span_removal" -> Q(
      (s, dir) => Dedup.removeDuplicateSpans(table(s, dir, "documents"),
          "doc_id", "text", n = 8)
        .select(col("id").as("doc_id"), col("text_clean"), col("n_tokens"),
          col("n_spans_removed"), col("removed_tokens"))
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g0 AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i
             |       FROM tok WHERE len(w) >= 8),
             |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram FROM g0),
             |k AS (SELECT doc_id, pos,
             |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
             |      count(*) OVER (PARTITION BY gram) AS c FROM g),
             |f AS (SELECT doc_id, pos FROM k WHERE c >= 2 AND rn > 1),
             |m AS (SELECT doc_id, pos, CASE WHEN pos > coalesce(max(pos + 8) OVER
             |        (PARTITION BY doc_id ORDER BY pos
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             |      THEN 1 ELSE 0 END AS ni FROM f),
             |i2 AS (SELECT doc_id, pos, sum(ni) OVER
             |        (PARTITION BY doc_id ORDER BY pos) AS isl FROM m),
             |sp AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + 8 AS e
             |       FROM i2 GROUP BY doc_id, isl),
             |pd AS (SELECT doc_id, count(*)::BIGINT AS n_spans_removed,
             |       sum(e - s)::BIGINT AS removed_tokens FROM sp GROUP BY doc_id),
             |ti AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM tok),
             |keep AS (SELECT t.doc_id, t.i, t.w[t.i] AS tk FROM ti t
             |         WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id
             |           AND t.i - 1 >= sp.s AND t.i - 1 < sp.e)),
             |ct AS (SELECT doc_id, coalesce(string_agg(tk, ' ' ORDER BY i), '') AS text_clean
             |       FROM keep GROUP BY doc_id)
             |SELECT t.doc_id, coalesce(ct.text_clean, '') AS text_clean,
             |len(t.w)::INTEGER AS n_tokens,
             |coalesce(pd.n_spans_removed, 0)::BIGINT AS n_spans_removed,
             |coalesce(pd.removed_tokens, 0)::BIGINT AS removed_tokens
             |FROM tok t LEFT JOIN pd USING (doc_id) LEFT JOIN ct USING (doc_id)
             |ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "exact duplicated-span removal: keep-first ExactSubstr rewrite with cleaned text"),

    // ---- per-doc n-gram novelty: inverse of the repeated-span lens —
    // what fraction of a doc's distinct 5-grams exist nowhere else
    "q_ngram_novelty" -> Q(
      (s, dir) => Dedup.noveltyProfile(table(s, dir, "documents"),
          "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_novel"),
          col("novelty_frac"))
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g0 AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1))) AS i
             |       FROM tok WHERE len(w) >= 5),
             |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram FROM g0),
             |rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
             |pg AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
             |pr AS (SELECT doc_id, count(*) AS n_rep FROM g
             |       WHERE gram IN (SELECT gram FROM rep) GROUP BY doc_id)
             |SELECT t.doc_id, coalesce(pg.n_grams, 0)::BIGINT AS n_grams,
             |(coalesce(pg.n_grams, 0) - coalesce(pr.n_rep, 0))::BIGINT AS n_novel,
             |round((coalesce(pg.n_grams, 0) - coalesce(pr.n_rep, 0))::DOUBLE /
             |  greatest(coalesce(pg.n_grams, 0), 1), 6) AS novelty_frac
             |FROM tok t LEFT JOIN pg USING (doc_id) LEFT JOIN pr USING (doc_id)
             |ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "per-doc distinct-5-gram novelty fraction (corpus df=1 grams)"),

    // ---- ROUGE-2 overlap audit (Lin 2004): clipped-bigram P/R/F1 of
    // each candidate doc against its paired reference — the eval-set
    // contamination / summary-overlap metric. Entirely map-side HOFs
    // on the joined row (no explode, no gram shuffle); FULL oracle via
    // the identical DuckDB list pipeline.
    "q_text_rouge" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        val pairs = d.filter(col("doc_id") < 100)
          .select(col("doc_id"), col("text").as("cand"))
          .join(d.select((col("doc_id") - 100).as("doc_id"),
            col("text").as("ref")), "doc_id")
        graft.operators.TextAnalysis.rougeN(pairs, "cand", "ref", n = 2)
          .select(col("doc_id"), col("rouge2_overlap"), col("rouge2_prec"),
            col("rouge2_rec"), col("rouge2_f1"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (SELECT a.doc_id, string_split(a.text,' ') AS cw, string_split(b.text,' ') AS rw
             |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 100 WHERE a.doc_id < 100),
             |g AS (SELECT doc_id,
             |  CASE WHEN len(cw) >= 2 THEN list_transform(range(1, len(cw)), i -> array_to_string(cw[i:i+1],' ')) ELSE []::VARCHAR[] END AS cg,
             |  CASE WHEN len(rw) >= 2 THEN list_transform(range(1, len(rw)), i -> array_to_string(rw[i:i+1],' ')) ELSE []::VARCHAR[] END AS rg
             |  FROM p),
             |o AS (SELECT doc_id, cg, rg,
             |  list_reduce(list_prepend(0, list_transform(list_distinct(cg),
             |    gg -> least(len(list_filter(cg, t -> t = gg)), len(list_filter(rg, t -> t = gg))))),
             |    (a,b) -> a + b)::BIGINT AS rouge2_overlap FROM g),
             |pr AS (SELECT doc_id, rouge2_overlap,
             |  CASE WHEN len(cg) > 0 THEN round(rouge2_overlap::DOUBLE / len(cg), 6) ELSE 0.0 END AS rouge2_prec,
             |  CASE WHEN len(rg) > 0 THEN round(rouge2_overlap::DOUBLE / len(rg), 6) ELSE 0.0 END AS rouge2_rec FROM o)
             |SELECT doc_id, rouge2_overlap, rouge2_prec, rouge2_rec,
             |  CASE WHEN rouge2_prec + rouge2_rec > 0 THEN round(2.0*rouge2_prec*rouge2_rec/(rouge2_prec+rouge2_rec),6) ELSE 0.0 END AS rouge2_f1
             |FROM pr ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "ROUGE-2 clipped-bigram P/R/F1 between paired docs (map-side HOF pipeline)"),

    // ---- sentence-BLEU (Papineni 2002) over the same doc pairing as
    // q_text_rouge: clipped modified precisions n=1..4, brevity
    // penalty, unsmoothed geometric mean. Map-side HOFs on materialized
    // gram arrays; the per-n DuckDB CTE fragments are loop-generated.
    "q_text_bleu" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        val pairs = d.filter(col("doc_id") < 100)
          .select(col("doc_id"), col("text").as("cand"))
          .join(d.select((col("doc_id") - 100).as("doc_id"),
            col("text").as("ref")), "doc_id")
        graft.operators.TextAnalysis.bleu(pairs, "cand", "ref", maxN = 4)
          .select(col("doc_id"), col("bleu_prec1"), col("bleu_prec2"),
            col("bleu_prec3"), col("bleu_prec4"), col("bleu_bp"), col("bleu"))
          .orderBy(col("doc_id"))
      },
      Some {
        def g(w: String, n: Int) =
          s"CASE WHEN len($w) >= $n THEN list_transform(range(1, len($w)-$n+2), " +
            s"i -> array_to_string($w[i:i+${n - 1}],' ')) ELSE []::VARCHAR[] END"
        def prec(n: Int) =
          s"CASE WHEN len(${g("cw", n)}) > 0 THEN round(" +
            s"list_reduce(list_prepend(0, list_transform(list_distinct(${g("cw", n)}), " +
            s"gg -> least(len(list_filter(${g("cw", n)}, t -> t = gg)), " +
            s"len(list_filter(${g("rw", n)}, t -> t = gg))))), (a,b) -> a + b)::DOUBLE " +
            s"/ len(${g("cw", n)}), 6) ELSE 0.0 END AS bleu_prec$n"
        val precs = (1 to 4).map(prec).mkString(", ")
        s"""WITH p AS (SELECT a.doc_id, string_split(a.text,' ') AS cw, string_split(b.text,' ') AS rw
           |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 100 WHERE a.doc_id < 100),
           |m AS (SELECT doc_id, len(cw)::DOUBLE AS c, len(rw)::DOUBLE AS r, $precs FROM p),
           |bp AS (SELECT *, round(CASE WHEN c >= r THEN 1.0 WHEN c > 0 THEN exp(1.0 - r/c) ELSE 0.0 END, 6) AS bleu_bp FROM m)
           |SELECT doc_id, bleu_prec1, bleu_prec2, bleu_prec3, bleu_prec4, bleu_bp,
           |CASE WHEN bleu_prec1 > 0 AND bleu_prec2 > 0 AND bleu_prec3 > 0 AND bleu_prec4 > 0
           |THEN round(bleu_bp * exp((ln(bleu_prec1)+ln(bleu_prec2)+ln(bleu_prec3)+ln(bleu_prec4))/4), 6)
           |ELSE 0.0 END AS bleu
           |FROM bp ORDER BY doc_id""".stripMargin.replace('\n', ' ')
      },
      doc = "sentence-BLEU (4-gram clipped precisions + brevity penalty) between paired docs"),

    // ---- near-dup pairs -> dedup groups: connected components with a
    // min-id keeper per component (oracle: recursive-CTE transitive
    // closure over the identical MinHash-LSH pair set)
    "q_dedup_components" -> Q(
      (s, dir) => {
        val pairs = Dedup.minhashLshPairs(table(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val sizes = cc.groupBy(col("component_id"))
          .agg(count(lit(1)).as("component_size"))
        cc.join(sizes, "component_id")
          .select(col("id").as("doc_id"), col("component_id"), col("component_size"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |m AS (SELECT doc_id, $sigSql AS sig FROM s),
              |bd AS (SELECT doc_id, i AS band_idx, md5(sig[2*i+1] || sig[2*i+2]) AS band_key
              |       FROM m, range(4) AS r(i)),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bd a JOIN bd b ON a.band_idx = b.band_idx
              |         AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
              |pr AS (SELECT id_a, id_b FROM (
              |  SELECT c.id_a, c.id_b, round($jacSql, 6) AS jac
              |  FROM cand c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b) p
              |  WHERE jac >= 0.8),
              |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
              |walk(a, b) AS (SELECT a, b FROM e
              |  UNION SELECT w.a, e2.b FROM walk w JOIN e e2 ON w.b = e2.a),
              |lab AS (SELECT a AS doc_id, least(a, min(b)) AS component_id FROM walk GROUP BY a)
              |SELECT doc_id, component_id,
              |count(*) OVER (PARTITION BY component_id) AS component_size
              |FROM lab ORDER BY doc_id""".stripMargin.replace('\n', ' '))),

    // ---- dedup-aware sampling weights: 1/component_size per doc
    // (singletons weight 1) — the bridge between near-dup components
    // and the weighted sampler, so duplicated content contributes ONE
    // document's worth of probability mass instead of size× (the
    // soft alternative to hard keeper deletion)
    "q_dedup_weights" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", threshold = 0.8)
        val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val sizes = cc.groupBy(col("component_id"))
          .agg(count(lit(1)).as("sz"))
        d.select(col("doc_id"))
          .join(cc.join(sizes, "component_id")
            .select(col("id").as("doc_id"), col("component_id"), col("sz")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component_id"), col("doc_id")).as("component_id"),
            coalesce(col("sz"), lit(1L)).as("component_size"),
            round(lit(1.0) / coalesce(col("sz"), lit(1L)), 6).as("weight"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |m AS (SELECT doc_id, $sigSql AS sig FROM s),
              |bd AS (SELECT doc_id, i AS band_idx, md5(sig[2*i+1] || sig[2*i+2]) AS band_key
              |       FROM m, range(4) AS r(i)),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bd a JOIN bd b ON a.band_idx = b.band_idx
              |         AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
              |pr AS (SELECT id_a, id_b FROM (
              |  SELECT c.id_a, c.id_b, round($jacSql, 6) AS jac
              |  FROM cand c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b) p
              |  WHERE jac >= 0.8),
              |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
              |walk(a, b) AS (SELECT a, b FROM e
              |  UNION SELECT w.a, e2.b FROM walk w JOIN e e2 ON w.b = e2.a),
              |lab AS (SELECT a AS doc_id, least(a, min(b)) AS component_id FROM walk GROUP BY a),
              |sz AS (SELECT component_id, count(*) AS sz FROM lab GROUP BY 1)
              |SELECT d.doc_id,
              |coalesce(lab.component_id, d.doc_id) AS component_id,
              |coalesce(sz.sz, 1) AS component_size,
              |round(1.0/coalesce(sz.sz, 1), 6) AS weight
              |FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id
              |LEFT JOIN sz ON sz.component_id = lab.component_id
              |ORDER BY d.doc_id""".stripMargin.replace('\n', ' ')),
      doc = "dedup-aware sampling weights: 1/near-dup-component-size per doc"),

    // ---- quality-aware keeper selection: each near-dup component
    // keeps its highest-quality member (longest doc, min-id ties) —
    // the rewrite policy between pair detection and corpus rewrite
    "q_dedup_keeper" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", threshold = 0.8)
        Dedup.nearDupKeeper(d, "doc_id", pairs, "id_a", "id_b", "n_chars")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |m AS (SELECT doc_id, $sigSql AS sig FROM s),
              |bd AS (SELECT doc_id, i AS band_idx, md5(sig[2*i+1] || sig[2*i+2]) AS band_key
              |       FROM m, range(4) AS r(i)),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bd a JOIN bd b ON a.band_idx = b.band_idx
              |         AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
              |pr AS (SELECT id_a, id_b FROM (
              |  SELECT c.id_a, c.id_b, round($jacSql, 6) AS jac
              |  FROM cand c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b) p
              |  WHERE jac >= 0.8),
              |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
              |walk(a, b) AS (SELECT a, b FROM e
              |  UNION SELECT w.a, e2.b FROM walk w JOIN e e2 ON w.b = e2.a),
              |lab AS (SELECT a AS doc_id, least(a, min(b)) AS component_id FROM walk GROUP BY a),
              |g AS (SELECT d.doc_id, d.n_chars,
              |      coalesce(lab.component_id, d.doc_id) AS component_id
              |      FROM documents d LEFT JOIN lab USING (doc_id))
              |SELECT doc_id, component_id,
              |first_value(doc_id) OVER (PARTITION BY component_id
              |  ORDER BY n_chars DESC, doc_id) AS keeper_id,
              |doc_id = first_value(doc_id) OVER (PARTITION BY component_id
              |  ORDER BY n_chars DESC, doc_id) AS is_keeper
              |FROM g ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "per-component best-quality keeper mapping over LSH near-dup groups"),

    // ---- leakage-safe split: near-duplicates (LSH pairs -> connected
    // components) bucket by COMPONENT id, so every near-dup group lands
    // in one split — the dedup-aware split that prevents train/test
    // contamination. Fully oracle-checked (recursive-CTE components).
    "q_split_leakage_safe" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", threshold = 0.8)
        Dedup.leakageSafeSplit(d, "doc_id", pairs, "id_a", "id_b")
          .select(col("doc_id"), col("lang"), col("group_key"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $shingleCte,
              |m AS (SELECT doc_id, $sigSql AS sig FROM s),
              |bd AS (SELECT doc_id, i AS band_idx, md5(sig[2*i+1] || sig[2*i+2]) AS band_key
              |       FROM m, range(4) AS r(i)),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM bd a JOIN bd b ON a.band_idx = b.band_idx
              |         AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
              |pr AS (SELECT id_a, id_b FROM (
              |  SELECT c.id_a, c.id_b, round($jacSql, 6) AS jac
              |  FROM cand c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b) p
              |  WHERE jac >= 0.8),
              |e AS (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
              |walk(a, b) AS (SELECT a, b FROM e
              |  UNION SELECT w.a, e2.b FROM walk w JOIN e e2 ON w.b = e2.a),
              |lab AS (SELECT a AS doc_id, least(a, min(b)) AS component_id FROM walk GROUP BY a),
              |g AS (SELECT d.doc_id, d.lang, coalesce(lab.component_id, d.doc_id) AS group_key
              |      FROM documents d LEFT JOIN lab USING (doc_id))
              |SELECT doc_id, lang, group_key,
              |CASE WHEN substring(md5(group_key::VARCHAR),1,1) <= 'c' THEN 'train'
              |WHEN substring(md5(group_key::VARCHAR),1,1) <= 'e' THEN 'valid'
              |ELSE 'test' END AS split
              |FROM g ORDER BY doc_id""".stripMargin.replace('\n', ' '))),

    // ---- overlapping token-window chunking (pretraining/RAG prep)
    "q_text_chunk" -> Q(
      (s, dir) => TA.chunkTokens(
          table(s, dir, "documents").filter(col("doc_id") < 50),
          "doc_id", "text", chunkSize = 20, overlap = 5)
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id < 50),
             |c AS (SELECT doc_id, CAST((st-1)//15 AS INT) AS chunk_idx,
             |      w[st:least(st+19, len(w))] AS ch
             |      FROM t, unnest(range(1, len(w)+1, 15)) AS r(st))
             |SELECT doc_id, chunk_idx, len(ch) AS n_chunk_tokens,
             |array_to_string(ch,' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin.replace('\n', ' '))),

    // ---- repetition profile (Gopher/C4-style quality filter inputs):
    // top-bigram dominance + duplicate-token fraction per doc
    "q_text_repetition" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents").filter(col("doc_id") < 100)
        val w = TA.tokens(col("text"))
        val st = d.select(col("doc_id"), size(w).as("n_tokens"),
          size(array_distinct(w)).as("n_uniq"))
        val ct = d.select(col("doc_id"), explode(TA.bigrams(w)).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        val tp = ct.groupBy(col("doc_id"))
          .agg(max(col("c")).as("top_bigram_n"), sum(col("c")).as("n_bigrams"))
        tp.join(st, "doc_id")
          .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
            round(col("top_bigram_n").cast("double") / col("n_bigrams"), 6)
              .as("top_bigram_frac"),
            round(lit(1.0) - col("n_uniq").cast("double") / col("n_tokens"), 6)
              .as("dup_token_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id < 100),
             |st AS (SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_uniq FROM t),
             |bg AS (SELECT doc_id, w[i]||' '||w[i+1] AS bg FROM t, unnest(range(1, len(w))) AS r(i)),
             |ct AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
             |tp AS (SELECT doc_id, max(c) AS top_bigram_n, sum(c)::BIGINT AS n_bigrams FROM ct GROUP BY 1)
             |SELECT tp.doc_id, n_bigrams, top_bigram_n,
             |round(top_bigram_n::DOUBLE / n_bigrams, 6) AS top_bigram_frac,
             |round(1.0 - n_uniq::DOUBLE / n_tokens, 6) AS dup_token_frac
             |FROM tp JOIN st ON tp.doc_id = st.doc_id
             |ORDER BY tp.doc_id""".stripMargin.replace('\n', ' '))),

    // ---- deterministic md5-bucket train/valid/test split (reproducible
    // across engines, runs, and data orderings — no RNG state)
    "q_split_hash" -> Q(
      (s, dir) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 1)
        table(s, dir, "documents")
          .select(col("lang"),
            when(h <= "c", "train").when(h <= "e", "valid").otherwise("test")
              .as("split"))
          .groupBy(col("split"), col("lang")).agg(count(lit(1)).as("n"))
          .orderBy(col("split"), col("lang"))
      },
      Some("""WITH t AS (SELECT lang,
             |CASE WHEN substring(md5(doc_id::VARCHAR),1,1) <= 'c' THEN 'train'
             |WHEN substring(md5(doc_id::VARCHAR),1,1) <= 'e' THEN 'valid'
             |ELSE 'test' END AS split FROM documents)
             |SELECT split, lang, count(*) AS n FROM t
             |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin.replace('\n', ' '))),

    // ---- seeded epoch shuffle: deterministic per-epoch permutation as
    // (shard, position) coordinates — per-shard rank windows, no global
    // sort; bit-stable across engines via md5.
    "q_epoch_shuffle" -> Q(
      (s, dir) => graft.sources.Batches.epochShuffle(
          table(s, dir, "documents").select(col("doc_id")),
          "doc_id", seed = 7L, numShards = 4)
        .orderBy(col("shard_id"), col("position")),
      Some("""WITH t AS (SELECT doc_id, md5('7:'||doc_id::VARCHAR) AS h FROM documents),
             |s AS (SELECT doc_id, h,
             |  (('0x'||substring(h,1,8))::BIGINT % 4)::INT AS shard_id FROM t)
             |SELECT doc_id, shard_id,
             |(row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id) - 1) AS position
             |FROM s ORDER BY shard_id, position""".stripMargin.replace('\n', ' '))),

    // ---- GPT-style concat-and-chunk packing (the zero-padding
    // counterpart of q_pack_sequences' FFD bins): concat docs per
    // hash-shard in id order, slice the token stream into 200-token
    // sequences; each doc maps to the sequence holding its first
    // token. Per-shard windows only — no global cumsum.
    "q_pack_concat" -> Q(
      (s, dir) => graft.sources.Batches.concatChunkPack(
          table(s, dir, "documents")
            .select(col("doc_id"), size(split(col("text"), " ")).as("n_toks")),
          "doc_id", "n_toks", budget = 200, numShards = 4)
        .orderBy(col("shard_id"), col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             |  (('0x'||substring(md5(doc_id::VARCHAR),1,8))::BIGINT % 4)::INT AS shard_id FROM documents),
             |s AS (SELECT *, (sum(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT AS strt FROM t)
             |SELECT shard_id, doc_id, n_tokens, strt // 200 AS seq_id, strt % 200 AS seq_offset
             |FROM s ORDER BY shard_id, doc_id""".stripMargin.replace('\n', ' ')),
      doc = "concat-and-chunk sequence packing: per-shard token cumsum sliced into fixed 200-token sequences"),

    // ---- Poisson bootstrap CI (Chamandy et al. 2012): the scalable
    // bootstrap — per-(replicate, row) Poisson(1) weights from the
    // hashUniform PRF, so the resample is map-side and the whole draw
    // REPLAYS in SQL (shared CDF constants, uuSql uniform replay)
    "q_bootstrap_ci" -> Q(
      (s, dir) => graft.operators.Resampling.poissonBootstrapMean(
          table(s, dir, "documents")
            .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens")),
          "doc_id", "n_tokens", replicates = 40),
      Some(bootstrapOracle(replicates = 40, loRank = 1, hiRank = 39)),
      doc = "Poisson-bootstrap 95% CI for mean tokens/doc (40 hash-PRF replicates, fully SQL-replayable)"),

    // ---- Cohen's kappa between two heuristic length raters: the
    // chance-corrected agreement audit run before trusting LLM-judge /
    // heuristic labels; both raters are deterministic buckets so the
    // contingency table, margins, and kappa replay exactly
    "q_rater_kappa" -> Q(
      (s, dir) => {
        val nt = size(split(col("text"), " "))
        val ch = length(col("text"))
        graft.operators.Profiling.cohenKappa(
          table(s, dir, "documents").select(
            when(nt < 40, "short").when(nt < 80, "medium").otherwise("long")
              .as("rater_a"),
            when(ch < 250, "short").when(ch < 500, "medium").otherwise("long")
              .as("rater_b")),
          "rater_a", "rater_b")
      },
      Some("""WITH l AS (SELECT
             |  CASE WHEN len(string_split(text, ' ')) < 40 THEN 'short'
             |    WHEN len(string_split(text, ' ')) < 80 THEN 'medium' ELSE 'long' END AS a,
             |  CASE WHEN length(text) < 250 THEN 'short'
             |    WHEN length(text) < 500 THEN 'medium' ELSE 'long' END AS b FROM documents),
             |obs AS (SELECT a, b, count(*) AS o FROM l GROUP BY 1, 2),
             |ra AS (SELECT a AS lab, sum(o) AS na FROM obs GROUP BY 1),
             |cb AS (SELECT b AS lab, sum(o) AS nb FROM obs GROUP BY 1),
             |m AS (SELECT coalesce(ra.lab, cb.lab) AS lab, coalesce(na, 0) AS na,
             |  coalesce(nb, 0) AS nb FROM ra FULL OUTER JOIN cb ON ra.lab = cb.lab),
             |tt AS (SELECT sum(o)::DOUBLE AS n FROM obs),
             |dg AS (SELECT coalesce(sum(CASE WHEN a = b THEN o END), 0)::DOUBLE AS agree FROM obs),
             |x AS (SELECT n, agree, (na/n)*(nb/n) AS pk FROM m CROSS JOIN tt CROSS JOIN dg),
             |f AS (SELECT max(n)::BIGINT AS n, count(*) AS n_labels,
             |  max(agree/n) AS po, sum(pk) AS pe FROM x)
             |SELECT n, n_labels, round(po, 6) AS po, round(pe, 6) AS pe,
             |CASE WHEN pe < 1.0 THEN round((po - pe)/(1.0 - pe), 6) END AS kappa
             |FROM f""".stripMargin.replace('\n', ' ')),
      doc = "Cohen's kappa inter-rater agreement between two deterministic length raters"),

    // ---- empirical-Bayes beta-binomial shrinkage of per-source pass
    // rates (small sources stop lying): MoM prior over source rates,
    // counts-proportional shrinkage; exact arithmetic -> FULL oracle
    "q_eb_source_rates" -> Q(
      (s, dir) => graft.operators.Profiling.ebBetaBinomialRates(
          table(s, dir, "documents")
            .select(col("source"), (col("n_chars") >= 300).cast("double").as("pass")),
          "source", "pass")
        .orderBy(col("domain")),
      Some("""WITH per AS (SELECT coalesce(source, chr(0)||'null') AS domain,
             |  count(*)::BIGINT AS n, sum(CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END) AS x
             |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
             |r AS (SELECT *, x/n AS rate FROM per),
             |p AS (SELECT avg(rate) AS m, var_samp(rate) AS v FROM r),
             |kk AS (SELECT m, v, (m*(1.0-m) - v)/v AS k FROM p)
             |SELECT domain, n, x::BIGINT AS successes, round(rate, 6) AS rate,
             |CASE WHEN v > 0 AND k > 0 THEN round(m*k, 6) END AS alpha,
             |CASE WHEN v > 0 AND k > 0 THEN round((1.0-m)*k, 6) END AS beta,
             |round(CASE WHEN v > 0 AND k > 0 THEN (x + m*k)/(n + k) ELSE rate END, 6) AS shrunk_rate
             |FROM r CROSS JOIN kk ORDER BY domain""".stripMargin.replace('\n', ' ')),
      doc = "empirical-Bayes shrunk per-source pass rates (beta-binomial MoM prior)"),

    // ---- Good-Turing frequency-of-frequencies over corpus 5-gram
    // counts (the smoothing family's third member): Turing-adjusted
    // counts per class + the unseen shingle mass — "how much of the
    // 5-gram space have we NOT seen" (the synthetic corpus's 31-token
    // unigram vocab has no low-frequency classes, so the statistic
    // lives on shingles here)
    "q_good_turing" -> Q(
      (s, dir) => {
        val tok = split(col("text"), " ")
        // 5-gram explode is FLOP-bound over a one-split scan — spread
        val grams = graft.core.Par.spread(table(s, dir, "documents"))
          .filter(size(tok) >= 5)
          .select(explode(transform(
            sequence(lit(1), size(tok) - 4),
            i => array_join(slice(tok, i, lit(5)), " "))).as("g"))
          .groupBy(col("g")).agg(count(lit(1)).as("u"))
        graft.operators.TextAnalysis.goodTuring(grams, "u", maxR = 10)
          .orderBy(col("r"))
      },
      Some("""WITH tok AS (SELECT string_split(text, ' ') AS w FROM documents),
             |g0 AS (SELECT w, unnest(range(1, len(w) - 3)) AS i FROM tok WHERE len(w) >= 5),
             |uni AS (SELECT array_to_string(w[i:i+4], ' ') AS g, count(*)::BIGINT AS u
             |  FROM g0 GROUP BY 1),
             |nr AS (SELECT u AS r, count(*)::BIGINT AS n_r FROM uni GROUP BY 1),
             |tt AS (SELECT sum(u)::DOUBLE AS n,
             |  coalesce(sum(CASE WHEN u = 1 THEN 1 END), 0)::BIGINT AS n1 FROM uni),
             |obs AS (SELECT nr.r, nr.n_r,
             |  round(CASE WHEN nx.n_r IS NOT NULL THEN (nr.r + 1)*nx.n_r::DOUBLE/nr.n_r
             |    ELSE nr.r::DOUBLE END, 6) AS r_star,
             |  round(nr.r*nr.n_r/tt.n, 6) AS raw_mass,
             |  round(CASE WHEN nx.n_r IS NOT NULL THEN (nr.r + 1)*nx.n_r::DOUBLE/tt.n
             |    ELSE nr.r*nr.n_r/tt.n END, 6) AS smoothed_mass
             |  FROM nr LEFT JOIN nr nx ON nx.r = nr.r + 1 CROSS JOIN tt WHERE nr.r <= 10),
             |z AS (SELECT 0::BIGINT AS r, 0::BIGINT AS n_r, NULL::DOUBLE AS r_star,
             |  0.0::DOUBLE AS raw_mass, round(n1/n, 6) AS smoothed_mass FROM tt)
             |SELECT * FROM z UNION ALL SELECT * FROM obs ORDER BY r""".stripMargin.replace('\n', ' ')),
      doc = "Good-Turing class-count smoothing + unseen mass over corpus 5-gram counts"),

    // ---- Fleiss' kappa: the multi-rater agreement audit (LLM-judge
    // ensembles) over three deterministic length/punctuation raters
    "q_rater_fleiss" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        def lab(c: org.apache.spark.sql.Column, lo: Int, hi: Int) =
          when(c < lo, "short").when(c < hi, "medium").otherwise("long")
        val nt = size(split(col("text"), " "))
        val ch = length(col("text"))
        val dots = length(col("text")) - length(translate(col("text"), ".", ""))
        graft.operators.Profiling.fleissKappa(
          d.select(col("doc_id").as("item"), lab(nt, 40, 80).as("label"))
            .unionByName(d.select(col("doc_id").as("item"),
              lab(ch, 250, 500).as("label")))
            .unionByName(d.select(col("doc_id").as("item"),
              lab(dots, 3, 6).as("label"))),
          "item", "label")
      },
      Some("""WITH l AS (SELECT doc_id AS i, unnest([
             |  CASE WHEN len(string_split(text, ' ')) < 40 THEN 'short'
             |    WHEN len(string_split(text, ' ')) < 80 THEN 'medium' ELSE 'long' END,
             |  CASE WHEN length(text) < 250 THEN 'short'
             |    WHEN length(text) < 500 THEN 'medium' ELSE 'long' END,
             |  CASE WHEN length(text) - length(replace(text, '.', '')) < 3 THEN 'short'
             |    WHEN length(text) - length(replace(text, '.', '')) < 6 THEN 'medium' ELSE 'long' END]) AS j
             |  FROM documents),
             |cnt AS (SELECT i, j, count(*) AS n FROM l GROUP BY 1, 2),
             |pi AS (SELECT i, sum(n) AS m, sum(n*n) AS s2 FROM cnt GROUP BY 1),
             |pb AS (SELECT count(*)::BIGINT AS n_items, avg((s2 - 3)/6.0) AS pbar FROM pi),
             |pj AS (SELECT sum(n) AS nj FROM cnt GROUP BY j),
             |pe AS (SELECT sum((nj/(n_items*3.0))*(nj/(n_items*3.0))) AS pe FROM pj CROSS JOIN pb)
             |SELECT n_items, 3::BIGINT AS m_raters, round(pbar, 6) AS p_bar,
             |round(pe, 6) AS p_e,
             |CASE WHEN pe < 1.0 THEN round((pbar - pe)/(1.0 - pe), 6) END AS kappa
             |FROM pb CROSS JOIN pe""".stripMargin.replace('\n', ' ')),
      doc = "Fleiss' kappa across three deterministic raters (length, chars, punctuation density)"),

    // ---- Simpson's-paradox audit: is the en-vs-other pass-rate gap a
    // source-mix artifact? Per source: both rates, the per-stratum
    // contrast vs the aggregate one, reversal flag. Exact arithmetic.
    "q_simpson_audit" -> Q(
      (s, dir) => graft.operators.Profiling.simpsonAudit(
          table(s, dir, "documents"),
          col("lang") === "en", col("n_chars") >= 300, "source")
        .orderBy(col("stratum")),
      Some("""WITH b AS (SELECT coalesce(source, chr(0)||'null') AS stratum,
             |  lang = 'en' AS t,
             |  CASE WHEN n_chars >= 300 THEN 1.0 WHEN n_chars < 300 THEN 0.0 END AS y
             |  FROM documents),
             |a AS (SELECT avg(CASE WHEN t THEN y END) - avg(CASE WHEN NOT t THEN y END) AS ad FROM b),
             |st AS (SELECT stratum,
             |  count(CASE WHEN t THEN 1 END)::BIGINT AS n_treat,
             |  count(CASE WHEN NOT t THEN 1 END)::BIGINT AS n_ctrl,
             |  avg(CASE WHEN t THEN y END) AS rt,
             |  avg(CASE WHEN NOT t THEN y END) AS rc FROM b GROUP BY 1)
             |SELECT stratum, n_treat, n_ctrl,
             |round(rt, 6) AS rate_treat, round(rc, 6) AS rate_ctrl,
             |round(rt - rc, 6) AS diff, round(a.ad, 6) AS agg_diff,
             |(rt - rc) * a.ad < 0 AS reversed
             |FROM st CROSS JOIN a ORDER BY stratum""".stripMargin.replace('\n', ' ')),
      doc = "Simpson's-paradox audit: per-source en-vs-other pass-rate contrast vs the aggregate"),

    // ---- Luhn-validated card redaction: Spark decides by CHECKSUM,
    // the oracle bakes the decision into constants (the planted valid
    // number is replaced, the checksum-invalid one must survive —
    // digit-free corpus verified, so no other runs exist)
    "q_pii_redact_cards" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" card 4111111111111111")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" ref 4111111111111112")).otherwise(lit(""))).as("text"))
        d.select(col("doc_id"),
            graft.operators.Pii.redactCards(col("text")).as("scrubbed"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, text ||
             |  (CASE WHEN doc_id % 5 = 0 THEN ' card 4111111111111111' ELSE '' END) ||
             |  (CASE WHEN doc_id % 7 = 0 THEN ' ref 4111111111111112' ELSE '' END) AS text FROM documents)
             |SELECT doc_id, replace(text, '4111111111111111', '<CARD>') AS scrubbed
             |FROM d ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "Luhn-checksum card redaction: valid numbers become <CARD>, checksum-invalid digit runs survive"),

    // ---- Unicode script profile (data-card / mixed-script spam audit):
    // per-doc letter counts by script over planted multi-script
    // suffixes (the ASCII corpus alone is all-Latin). Java \p{IsXxx}
    // and DuckDB-RE2 \p{Xxx} resolve the same script property.
    "q_text_script_profile" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" Привет мир")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" 日本語")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" مرحبا")).otherwise(lit(""))).as("text"))
        TA.scriptProfile(d, "doc_id", "text").orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, text ||
             |  (CASE WHEN doc_id % 3 = 0 THEN ' Привет мир' ELSE '' END) ||
             |  (CASE WHEN doc_id % 5 = 0 THEN ' 日本語' ELSE '' END) ||
             |  (CASE WHEN doc_id % 7 = 0 THEN ' مرحبا' ELSE '' END) AS text FROM documents),
             |c AS (SELECT doc_id,
             |  len(regexp_extract_all(text, '\p{L}')) AS n_letters,
             |  len(regexp_extract_all(text, '\p{Latin}')) AS n_latin,
             |  len(regexp_extract_all(text, '\p{Cyrillic}')) AS n_cyrillic,
             |  len(regexp_extract_all(text, '\p{Han}')) AS n_han,
             |  len(regexp_extract_all(text, '\p{Arabic}')) AS n_arabic FROM d)
             |SELECT doc_id, n_letters, n_latin, n_cyrillic, n_han, n_arabic,
             |  n_letters - n_latin - n_cyrillic - n_han - n_arabic AS n_other,
             |  CASE WHEN n_letters > 0 THEN round(greatest(n_latin, n_cyrillic, n_han,
             |    n_arabic, n_letters - n_latin - n_cyrillic - n_han - n_arabic)::DOUBLE
             |    / n_letters, 6) END AS dominant_frac
             |FROM c ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "per-doc Unicode script letter counts + dominant-script fraction (mixed-script spam signal)"),

    // ---- mojibake repair roundtrip: Spark mangles in-plan (UTF-8 bytes
    // re-read as latin-1 — the classic crawl encoding failure) and
    // FIX_MOJIBAKE must recover the original exactly, so the oracle is
    // simply the CLEAN expected text (DuckDB never models the mangle)
    "q_text_fix_mojibake" -> Q(
      (s, dir) => {
        val suffix = " résumé naïve piñata"
        val mangled = decode(encode(
          concat(col("text"), lit(suffix)), "UTF-8"), "ISO-8859-1")
        table(s, dir, "documents")
          .select(col("doc_id"), graft.functions.gf.fix_mojibake(mangled).as("fixed"))
          .orderBy(col("doc_id"))
      },
      Some("SELECT doc_id, text || ' résumé naïve piñata' AS fixed " +
        "FROM documents ORDER BY doc_id"),
      doc = "cp1252 mojibake repair: in-plan mangled text must round-trip back to the clean original"),

    // ---- token counting + fingerprinting per doc
    "q_text_token_stats" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents").filter(col("doc_id") < 100)
        val w = TA.tokens(col("text"))
        d.select(col("doc_id"),
            size(w).as("n_tokens"),
            size(array_distinct(w)).as("n_uniq"),
            TA.estTokenCount(col("text")).as("est_bpe_tokens"),
            TA.bagFingerprint(col("text")).as("fingerprint"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
             |len(list_distinct(string_split(text,' '))) AS n_uniq,
             |(len(string_split(text,' ')) + ceil(length(text)/16.0))::INTEGER AS est_bpe_tokens,
             |md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fingerprint
             |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin.replace('\n', ' '))),

    // ---- quality scoring aggregated by language
    "q_text_quality" -> Q(
      (s, dir) => {
        table(s, dir, "documents")
          .select(col("lang"), TA.qualityScore(col("text")).as("q"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            round(avg(col("q")), 4).as("avg_quality"),
            round(min(col("q")), 6).as("min_quality"),
            round(max(col("q")), 6).as("max_quality"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH t AS (SELECT lang, length(text) AS c, string_split(text,' ') AS w FROM documents),
              |q AS (SELECT lang, round(
              |  0.3 * least(len(w)/50.0, 1.0) +
              |  0.3 * (len(list_distinct(w))::DOUBLE / len(w)) +
              |  0.2 * (1.0 - len(list_filter(w, x -> x IN (${TA.stopwords.map(s0 => s"'$s0'").mkString(",")})))::DOUBLE / len(w)) +
              |  0.2 * least(((c - len(w) + 1.0) / len(w)) / 6.0, 1.0), 6) AS q FROM t)
              |SELECT lang, count(*) AS n, round(avg(q),4) AS avg_quality,
              |round(min(q),6) AS min_quality, round(max(q),6) AS max_quality
              |FROM q GROUP BY lang ORDER BY lang""".stripMargin.replace('\n', ' '))),

    // ---- language-ID heuristic: confusion counts vs actual lang column
    "q_text_langid" -> Q(
      (s, dir) => {
        val w = TA.tokens(col("text"))
        // scores staged in their own projection: each interpreted marker
        // scan runs once per row; the argmax reads materialized ints
        val staged = table(s, dir, "documents")
          .select(col("lang").as("actual_lang") +:
            TA.langScores(w).map { case (l, sc) => sc.as(s"__s_$l") }: _*)
        staged
          .select(col("actual_lang"), TA.langIdFromScores(
            TA.langMarkers.map { case (l, _) => l -> col(s"__s_$l") }).as("predicted"))
          .groupBy(col("actual_lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("actual_lang"), col("predicted"))
      },
      Some(s"""WITH t AS (SELECT lang, string_split(text,' ') AS w FROM documents),
              |sc AS (SELECT lang, $langScoreSql FROM t),
              |p AS (SELECT lang, $langPredSql AS predicted FROM sc)
              |SELECT lang AS actual_lang, predicted, count(*) AS n
              |FROM p GROUP BY 1, 2 ORDER BY actual_lang, predicted""".stripMargin.replace('\n', ' '))),

    // ---- PII incidence profile per language (map-only detectors)
    "q_pii_stats" -> Q(
      (s, dir) => {
        val staged = table(s, dir, "documents")
          .select(col("lang") +: Pii.flags(
            piiEnrichSpark(col("doc_id"), col("text")))
            .map { case (n, f) => f.as(s"__f_$n") }: _*)
        staged.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            Pii.patterns.map { case (n, _, _) =>
              sum(when(col(s"__f_$n"), 1).otherwise(0)).as(s"n_$n")
            }: _*)
          .orderBy(col("lang"))
      },
      Some(s"""WITH t AS (SELECT lang, $piiEnrichSql AS text2 FROM documents)
              |SELECT lang, count(*) AS n_docs,
              |${Pii.patterns.map { case (n, p, _) =>
                 s"sum(CASE WHEN regexp_matches(text2, '$p') THEN 1 ELSE 0 END)::BIGINT AS n_$n"
               }.mkString(", ")}
              |FROM t GROUP BY lang ORDER BY lang""".stripMargin.replace('\n', ' '))),

    // ---- PII redaction (chained regexp_replace scrub, shared pattern
    // order; n_redactions = sentinel occurrences in the scrubbed text)
    "q_pii_redact" -> Q(
      (s, dir) => {
        val red = Pii.redact(piiEnrichSpark(col("doc_id"), col("text")))
        table(s, dir, "documents").filter(col("doc_id") < 60)
          .select(col("doc_id"), red.as("clean_text"),
            Pii.redactionCount(red).as("n_redactions"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $piiEnrichSql AS text2 FROM documents WHERE doc_id < 60),
              |r AS (SELECT doc_id, $duckRedactSql AS clean_text FROM t)
              |SELECT doc_id, clean_text,
              |(${Pii.patterns.map { case (_, _, rep) =>
                 s"(length(clean_text) - length(replace(clean_text, '$rep', ''))) // ${rep.length}"
               }.mkString(" + ")})::INT AS n_redactions
              |FROM r ORDER BY doc_id""".stripMargin.replace('\n', ' '))),

    // ---- Gopher-style rule-based quality filter: per-doc metrics + flags
    "q_quality_rules" -> Q(
      (s, dir) => {
        val enriched = table(s, dir, "documents").filter(col("doc_id") < 120)
          .select(col("doc_id"),
            qrEnrichSpark(col("doc_id"), col("text")).as("text2"))
        val m = enriched.select(col("doc_id") +:
          TA.ruleMetrics(col("text2")).map { case (n, c) => c.as(n) }: _*)
        val flags = TA.ruleFlags(n => col(n))
        val sel = (col("doc_id") +: m.columns.tail.toSeq.map(col(_))) ++
          flags.map { case (n, c) => c.as(n) } :+
          TA.ruleKeep(flags.map(_._2)).as("keep")
        m.select(sel: _*).orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $qrEnrichSql AS text2 FROM documents WHERE doc_id < 120),
              |w2 AS (SELECT doc_id, regexp_split_to_array(text2, '\\s+') AS ws,
              |       string_split(text2, chr(10)) AS ln FROM t),
              |m AS (SELECT doc_id, $qrMetricsSql FROM w2)
              |SELECT doc_id, n_words, mean_word_len, alpha_frac, bullet_frac,
              |ellipsis_frac, stop_count, $qrFlagsSql,
              |(n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 2.5
              | AND mean_word_len <= 8.0 AND alpha_frac >= 0.9 AND bullet_frac <= 0.5
              | AND ellipsis_frac <= 0.3 AND stop_count >= 2) AS keep
              |FROM m ORDER BY doc_id""".stripMargin.replace('\n', ' '))),

    // ---- quality filter applied corpus-wide: per-language keep/drop
    // profile with per-rule failure counts (the report a pipeline
    // publishes before dropping 30% of its crawl)
    "q_quality_rules_agg" -> Q(
      (s, dir) => {
        val enriched = table(s, dir, "documents")
          .select(col("lang"),
            qrEnrichSpark(col("doc_id"), col("text")).as("text2"))
        val m = enriched.select(col("lang") +:
          TA.ruleMetrics(col("text2")).map { case (n, c) => c.as(n) }: _*)
        val flags = TA.ruleFlags(n => col(n))
        val f = m.select(col("lang") +:
          flags.map { case (n, c) => c.as(n) } :+
          TA.ruleKeep(flags.map(_._2)).as("keep"): _*)
        val aggs = count(lit(1)).as("n_docs") +:
          sum(when(col("keep"), 1).otherwise(0)).as("n_keep") +:
          flags.map { case (n, _) =>
            sum(when(!col(n), 1).otherwise(0)).as(s"n_fail_${n.stripPrefix("f_")}")
          }
        f.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*)
          .orderBy(col("lang"))
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, $qrEnrichSql AS text2 FROM documents),
              |w2 AS (SELECT doc_id, lang, regexp_split_to_array(text2, '\\s+') AS ws,
              |       string_split(text2, chr(10)) AS ln FROM t),
              |m AS (SELECT doc_id, lang, $qrMetricsSql FROM w2),
              |f AS (SELECT lang, $qrFlagsSql,
              |  (n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 2.5
              |   AND mean_word_len <= 8.0 AND alpha_frac >= 0.9 AND bullet_frac <= 0.5
              |   AND ellipsis_frac <= 0.3 AND stop_count >= 2) AS keep FROM m)
              |SELECT lang, count(*) AS n_docs,
              |sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
              |sum(CASE WHEN f_words THEN 0 ELSE 1 END)::BIGINT AS n_fail_words,
              |sum(CASE WHEN f_mean_len THEN 0 ELSE 1 END)::BIGINT AS n_fail_mean_len,
              |sum(CASE WHEN f_alpha THEN 0 ELSE 1 END)::BIGINT AS n_fail_alpha,
              |sum(CASE WHEN f_bullet THEN 0 ELSE 1 END)::BIGINT AS n_fail_bullet,
              |sum(CASE WHEN f_ellipsis THEN 0 ELSE 1 END)::BIGINT AS n_fail_ellipsis,
              |sum(CASE WHEN f_stop THEN 0 ELSE 1 END)::BIGINT AS n_fail_stop
              |FROM f GROUP BY lang ORDER BY lang""".stripMargin.replace('\n', ' '))),

    // ---- unicode normalization (NFC compose + accent fold). The ASCII
    // corpus is enriched (PII-fixture pattern) with doc_id-derived
    // decomposed/precomposed sequences so normalization has real work:
    // mod-3 classes append combining-mark text (NFC shortens it) or
    // precomposed accents (strip_accents folds them).
    "q_text_normalize" -> Q(
      (s, dir) => {
        val text2 = concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" cafe\u0301 nai\u0308ve"))
            .when(col("doc_id") % 3 === 1, lit(" d\u00e9j\u00e0 vu"))
            .otherwise(lit("")))
        table(s, dir, "documents").filter(col("doc_id") < 90)
          .select(col("doc_id"),
            length(text2).as("raw_len"),
            graft.functions.gf.normalize_unicode(text2).as("nfc"),
            length(graft.functions.gf.normalize_unicode(text2)).as("nfc_len"),
            graft.functions.gf.strip_accents(
              graft.functions.gf.normalize_unicode(text2)).as("folded"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, text ||
             |  CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
             |  WHEN doc_id % 3 = 1 THEN ' d' || chr(233) || 'j' || chr(224) || ' vu'
             |  ELSE '' END AS text2 FROM documents WHERE doc_id < 90)
             |SELECT doc_id, length(text2) AS raw_len, nfc_normalize(text2) AS nfc,
             |length(nfc_normalize(text2)) AS nfc_len,
             |strip_accents(nfc_normalize(text2)) AS folded
             |FROM t ORDER BY doc_id""".stripMargin.replace('\n', ' '))),

    // ---- HTML main-content extraction (the C4/RefinedWeb ingest step):
    // each doc is wrapped in a deterministic page template (nav + ad +
    // article + footer boilerplate) and the native O(n) walker must
    // return EXACTLY the original text as main content (prose block
    // passes the length/link-density tests; every boilerplate block is
    // short or link-dense and drops), while STRIP_HTML keeps the known
    // boilerplate too — both ends oracle-checkable without an HTML
    // parser on the DuckDB side because the expected output is closed-form
    "q_text_html_extract" -> Q(
      (s, dir) => {
        val html = concat(
          lit("<html><head><title>t</title><script>var x = 1 < 2;</script></head>" +
            "<body><nav><a href=\"/\">Home</a> <a href=\"/x\">More</a></nav>" +
            "<div class=\"ad\">Buy&nbsp;now!</div><article><p>"),
          col("text"),
          lit("</p></article><!-- tracking --><footer><a href=\"/t\">Terms</a>" +
            "</footer></body></html>"))
        table(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.gf.extract_text(html).as("main"),
            graft.functions.gf.strip_html(html).as("visible"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text AS main,
             |'Home More' || chr(10) || 'Buy now!' || chr(10) || text || chr(10) || 'Terms'
             |  AS visible
             |FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "HTML strip + jusText-style main-content extraction over a templated page"),

    // ---- URL canonicalization (the step before crawl URL-dedup):
    // doc_id-derived URL fixtures (the PII/normalize enrichment
    // pattern) cover case folding, default vs explicit ports, tracking
    // params, param sorting, fragments, bare hosts and non-URLs; the
    // oracle states the expected canonical/host/apex in closed form —
    // if any canonicalization rule drifts, the hash goes red
    "q_url_canonicalize" -> Q(
      (s, dir) => {
        val u = when(col("doc_id") % 4 === 0,
            concat(lit("HTTP://WWW.Site"), col("doc_id") % 7,
              lit(".COM:80/p/"), col("doc_id"),
              lit("?utm_source=x&b=2&a=1#frag")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://news.site"), col("doc_id") % 7,
              lit(".co.uk:8443/a/"), col("doc_id")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://site"), col("doc_id") % 7,
              lit(".org?fbclid=xyz"), col("doc_id")))
          .otherwise(concat(lit("not a url "), col("doc_id")))
        table(s, dir, "documents")
          .select(col("doc_id"),
            graft.operators.Urls.canonicalize(u).as("canonical"),
            graft.operators.Urls.host(u).as("host"),
            graft.operators.Urls.apexDomain(u).as("apex"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |CASE doc_id % 4
             |  WHEN 0 THEN 'http://www.site' || (doc_id % 7) || '.com/p/' || doc_id || '?a=1&b=2'
             |  WHEN 1 THEN 'https://news.site' || (doc_id % 7) || '.co.uk:8443/a/' || doc_id
             |  WHEN 2 THEN 'https://site' || (doc_id % 7) || '.org/'
             |  ELSE 'not a url ' || doc_id END AS canonical,
             |CASE doc_id % 4
             |  WHEN 0 THEN 'www.site' || (doc_id % 7) || '.com'
             |  WHEN 1 THEN 'news.site' || (doc_id % 7) || '.co.uk'
             |  WHEN 2 THEN 'site' || (doc_id % 7) || '.org'
             |  ELSE '' END AS host,
             |CASE doc_id % 4
             |  WHEN 0 THEN 'site' || (doc_id % 7) || '.com'
             |  WHEN 1 THEN 'site' || (doc_id % 7) || '.co.uk'
             |  WHEN 2 THEN 'site' || (doc_id % 7) || '.org'
             |  ELSE '' END AS apex
             |FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "URL canonicalization + host/apex extraction over doc_id-derived fixtures"),

    // ---- CCNet-style perplexity quality filter: bits-per-bigram under
    // an add-0.5-smoothed bigram LM trained on the corpus itself (low
    // bits = fluent, high = rare/garbled). LM trained in-engine; scored
    // docs join the (small) count tables, never the corpus.
    "q_perplexity_score" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        TA.bigramLmScore(d, d.filter(col("doc_id") < 100), "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             |uni AS (SELECT w1, count(*) AS u FROM (SELECT unnest(w) AS w1 FROM t) GROUP BY w1),
             |v AS (SELECT count(*) AS nv FROM uni),
             |bg AS (SELECT doc_id, w[i]||' '||w[i+1] AS bgs, w[i] AS w1
             |       FROM t, unnest(range(1, len(w))) AS r(i)),
             |bc AS (SELECT bgs, count(*) AS b FROM bg GROUP BY bgs),
             |sc AS (SELECT doc_id, -log2((b + 0.5) / (u + 0.5 * nv)) AS bits
             |       FROM bg JOIN bc USING (bgs) JOIN uni USING (w1) CROSS JOIN v
             |       WHERE doc_id < 100)
             |SELECT doc_id, count(*) AS n_bigrams,
             |round(avg(bits), 6) AS bits_per_bigram
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' '))),

    // ---- vocabulary building: exact corpus-wide top-k tokens (the
    // tokenizer-training precursor). explode + hash-agg with map-side
    // combine; top-k is TakeOrderedAndProject, never a full sort.
    "q_vocab_topk" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(explode(TA.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(50),
      Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS token FROM documents)
             |SELECT token, count(*) AS n FROM tok GROUP BY token
             |ORDER BY n DESC, token LIMIT 50""".stripMargin.replace('\n', ' '))),

    // ---- tokenizer-apply: encode docs as token-id arrays against the
    // trained top-64 vocabulary (ids by count desc, token asc; OOV=-1).
    // Broadcast token->id join + one order-restoring re-agg.
    "q_vocab_encode" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        TA.encodeWithVocab(d, d.filter(col("doc_id") < 60), "doc_id", "text",
            vocabSize = 64)
          .withColumnRenamed("id", "doc_id")
          // driver comparator sorts rows in pandas: arrays serialize
          .withColumn("token_ids", concat_ws(" ", col("token_ids")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS token FROM documents),
             |v AS (SELECT token, count(*) AS n FROM tok GROUP BY token
             |      ORDER BY n DESC, token LIMIT 64),
             |vid AS (SELECT token, (row_number() OVER (ORDER BY n DESC, token) - 1)::INT AS tok_id FROM v),
             |t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id < 60),
             |p AS (SELECT doc_id, i AS pos, w[i] AS token FROM t, unnest(range(1, len(w)+1)) AS r(i)),
             |j AS (SELECT doc_id, pos, tok_id FROM p LEFT JOIN vid USING (token))
             |SELECT doc_id, count(*) AS n_tokens,
             |sum(CASE WHEN tok_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
             |array_to_string(list(coalesce(tok_id, -1) ORDER BY pos), ' ') AS token_ids
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' '))),

    // ---- model-input materialization: truncate/pad the encoded id
    // sequences to fixed length with an attention mask (map-side only)
    "q_model_inputs" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        val enc = TA.encodeWithVocab(d, d.filter(col("doc_id") < 60),
          "doc_id", "text", vocabSize = 64)
        TA.modelInputs(enc, "token_ids", maxLen = 48, padId = 0)
          .withColumnRenamed("id", "doc_id")
          .select(col("doc_id"), col("n_real"),
            concat_ws(" ", col("input_ids")).as("input_ids"),
            concat_ws(" ", col("attention_mask")).as("attention_mask"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS token FROM documents),
             |v AS (SELECT token, count(*) AS n FROM tok GROUP BY token
             |      ORDER BY n DESC, token LIMIT 64),
             |vid AS (SELECT token, (row_number() OVER (ORDER BY n DESC, token) - 1)::INT AS tok_id FROM v),
             |t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id < 60),
             |p AS (SELECT doc_id, i AS pos, w[i] AS token FROM t, unnest(range(1, len(w)+1)) AS r(i)),
             |j AS (SELECT doc_id, pos, tok_id FROM p LEFT JOIN vid USING (token)),
             |d AS (SELECT doc_id, list(coalesce(tok_id, -1) ORDER BY pos) AS ids FROM j GROUP BY doc_id),
             |m AS (SELECT doc_id, ids[1:48] AS tr, least(len(ids), 48)::INT AS n_real FROM d)
             |SELECT doc_id, n_real,
             |array_to_string(list_concat(tr, list_transform(range(1, 48 - n_real + 1), x -> 0)), ' ') AS input_ids,
             |array_to_string(list_concat(list_transform(range(1, n_real + 1), x -> 1),
             |  list_transform(range(1, 48 - n_real + 1), x -> 0)), ' ') AS attention_mask
             |FROM m ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "fixed-length model inputs: truncate/pad token ids + attention mask"),

    // ---- smoothed TF-IDF (sklearn formula), top-3 terms per doc:
    // corpus shuffles once into the (id, term) tf agg; df + doc count
    // ride as broadcasts; the rank window covers one doc's terms only.
    "q_tfidf_topterms" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        TA.tfIdf(d, "doc_id", "text", perDoc = 3)
          .withColumnRenamed("id", "doc_id")
          .filter(col("doc_id") < 100)
          .orderBy(col("doc_id"), col("rk"))
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |sc AS (SELECT doc_id, term, tf,
             |  round(tf * (ln((1.0+n_docs)/(1.0+df)) + 1), 6) AS tfidf
             |  FROM tf JOIN df USING (term) CROSS JOIN n),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |  ORDER BY tfidf DESC, term) AS rk FROM sc)
             |SELECT doc_id, term, tf, tfidf, rk FROM r
             |WHERE rk <= 3 AND doc_id < 100
             |ORDER BY doc_id, rk""".stripMargin.replace('\n', ' '))),

    // ---- SemDeDup: embedding near-dup groups keep one representative.
    // FULL oracle (r13 verdict #3): exact all-pairs cosine at the
    // query's threshold + recursive-CTE transitive closure + min-id
    // keeper anti-join replay the whole composition (the q_vec_dbscan
    // closure pattern). Threshold aligned with q_dedup_embedding's 0.4:
    // the synthetic corpus has NO pairs above 0.5, so the reference's
    // canonical 0.99 would make the oracle vacuously the label counts —
    // at 0.4 the closure, keeper choice, and anti-join are all load-
    // bearing. DedupSpec keeps the planted-group composition gate.
    "q_semantic_dedup" -> Q(
      (s, dir) => graft.operators.Dedup.semanticDedup(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, nClusters = 16,
          centroids = Some(graft.operators.IndexStore.ann(s, dir).centroids))
        .groupBy(col("label")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("label")),
      Some("""WITH RECURSIVE p AS (SELECT a.vec_id AS a, b.vec_id AS b
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) > 0.4),
             |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
             |walk(a, b) AS (SELECT a, b FROM e UNION SELECT w.a, e2.b FROM walk w JOIN e e2 ON w.b = e2.a),
             |comp AS (SELECT a AS id, least(a, min(b)) AS cid FROM walk GROUP BY a),
             |dropped AS (SELECT id FROM comp WHERE id <> cid)
             |SELECT label, count(*)::BIGINT AS n_kept
             |FROM embeddings WHERE vec_id NOT IN (SELECT id FROM dropped)
             |GROUP BY label ORDER BY label""".stripMargin.replace('\n', ' ')),
      doc = "SemDeDup keeper counts by label (pairs + closure + keeper replay in SQL)"),

    // ---- compression-ratio quality signal (Gopher/Dolma zlib
    // heuristic): native Deflater codegen expression, map-side only.
    // DuckDB has no deflate -> rows-only; the kernel law (repetitive
    // text compresses below natural text, empty = 1.0, null-safe,
    // driver-reference parity) is gated in QualityRulesSpec.
    "q_text_compression" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          round(graft.functions.gf.deflate_ratio(col("text")), 6)
            .as("deflate_ratio"))
        .orderBy(col("doc_id")),
      None,
      doc = "per-doc deflate-compression ratio (low = templated/repetitive junk)"),

    // ---- the exact half of the compressibility signal (the
    // q_sketch_stats_exact split pattern): deflate = LZ77 dictionary
    // matching + Huffman — the Huffman bound is q_text_entropy's
    // oracle-green char entropy, and the DICTIONARY side is the
    // distinct-window fraction below: exact integer window counts,
    // fully SQL-replayable, low = repeated 8-char windows = what LZ77
    // eats. Only the byte-exact Deflater output (above) stays
    // no_oracle, law-gated in QualityRulesSpec.
    "q_text_compression_exact" -> Q(
      (s, dir) => {
        // one HOF chain, referenced ONCE: a second reference to the
        // gram array (e.g. size(grams) for the denominator) would
        // recompute the whole transform per row (the lambda-recompute
        // trap) — the window count is just len-7, no array needed
        val grams = transform(sequence(lit(1), length(col("text")) - 7),
          i => col("text").substr(i, lit(8)))
        // the per-row 8-gram window scan is FLOP-bound over a one-split
        // parquet scan — spread it across cores (measured 5 single-task
        // stages before)
        graft.core.Par.spread(table(s, dir, "documents"))
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_cp"),
            when(length(col("text")) >= 8,
              round(size(array_distinct(grams)).cast("double") /
                (length(col("text")) - 7).cast("double"), 6))
              .as("distinct_8gram_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH i1 AS (SELECT doc_id, text,
             |  unnest(range(1, greatest(length(text) - 6, 1))) AS i
             |  FROM documents WHERE length(text) >= 8),
             |g AS (SELECT doc_id, substr(text, i::INT, 8) AS gr FROM i1),
             |f AS (SELECT doc_id,
             |  count(DISTINCT gr)::DOUBLE / count(*)::DOUBLE AS fr
             |  FROM g GROUP BY doc_id)
             |SELECT d.doc_id, length(d.text)::BIGINT AS n_cp,
             |  round(f.fr, 6) AS distinct_8gram_frac
             |FROM documents d LEFT JOIN f USING (doc_id)
             |ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "distinct 8-char-window fraction: the exact LZ-dictionary half of the deflate compressibility signal"),

    // ---- model-based quality filtering: distill the Gopher rules into
    // a hashed-BoW logistic regression (CCNet/LLaMA-style classifier),
    // train on a labeled slice, score the rest. FULL oracle via the
    // artifact-replay pattern (r15 verdict Next #3): the L-BFGS fit —
    // the non-SQL part — persists ONCE as a (bucket, w) weight table
    // (IndexStore.qm1; featurization is the md5-fold hashing trick, so
    // the SAME buckets compute in both engines), and scoring is a
    // broadcast weight join + sigmoid that DuckDB replays from the SAME
    // parquet. The learning itself (AUC) stays gated in
    // QualityRulesSpec.
    "q_quality_model" -> Q(
      (s, dir) => {
        val w = graft.operators.IndexStore.qmWeights(s, dir)
        val (b0, dim) = graft.operators.IndexStore.qmMeta(s, dir)
        val d = table(s, dir, "documents")
        val m = d.select(col("doc_id") +: col("text") +:
          TA.ruleMetrics(col("text")).map { case (n, c) => c.as(n) }: _*)
        val flags = TA.ruleFlags(n => col(n))
        val labeled = m.withColumn("label",
          TA.ruleKeep(flags.map(_._2)).cast("int"))
        graft.operators.QualityModel.scoreRelational(
            labeled.filter(col("doc_id") % 2 === 1), "doc_id", Seq("label"),
            "text", w, b0, dim)
          .orderBy(col("doc_id")).limit(100)
      },
      Some(s"""WITH W AS (SELECT bucket, w
             |  FROM read_parquet('__QM_ARTIFACT__/weights/*.parquet')),
             |meta AS (SELECT intercept, dim
             |  FROM read_parquet('__QM_ARTIFACT__/meta/*.parquet')),
             |t AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
             |w2 AS (SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS ws,
             |  string_split(text, chr(10)) AS ln FROM t),
             |m AS (SELECT doc_id, text, $qrMetricsSql FROM w2),
             |lab AS (SELECT doc_id, text,
             |  CAST((n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 2.5
             |   AND mean_word_len <= 8.0 AND alpha_frac >= 0.9 AND bullet_frac <= 0.5
             |   AND ellipsis_frac <= 0.3 AND stop_count >= 2) AS INT) AS label FROM m),
             |bk AS (SELECT DISTINCT doc_id,
             |  ${hex60Sql("md5(tok)")} % (SELECT dim FROM meta) AS bucket
             |  FROM lab, unnest(string_split(text, ' ')) AS u(tok)),
             |z AS (SELECT bk.doc_id, coalesce(sum(W.w), 0) AS s
             |  FROM bk LEFT JOIN W USING (bucket) GROUP BY bk.doc_id)
             |SELECT lab.doc_id, lab.label,
             |  round(1.0 / (1.0 + exp(-((SELECT intercept FROM meta) + z.s))), 6)
             |    AS quality_prob
             |FROM lab JOIN z USING (doc_id)
             |ORDER BY doc_id LIMIT 100""".stripMargin.replace('\n', ' ')),
      doc = "rule-distilled quality classifier scores (oracle replays scoring from the persisted weight artifact); AUC gated in QualityRulesSpec"),

    // ---- isotonic (PAV) calibration of the quality score: raw scores
    // rank well but mean nothing as probabilities; the step function
    // makes "keep above 0.8" a statement about observed label rates.
    // PAV runs on the bounded bin frame with EXACT (Σlabel, n) pooling,
    // so the fit replays in SQL through the isotonic minimax identity
    // ŷ_i = max_{j≤i} min_{k≥i} Σy/Σn (Barlow et al. 1972) over the
    // ≤20-row bin table — FULL oracle (the LR-scored composition stays
    // exercised by QualityRulesSpec's PAV laws).
    "q_quality_calibrated" -> Q(
      (s, dir) => {
        val scored = table(s, dir, "documents")
          .select(col("doc_id"), TA.qualityScore(col("text")).as("score"),
            (length(col("text")) >= 500).cast("int").as("label"))
        graft.operators.QualityModel.isotonicCalibrate(
            scored, "score", "label", bins = 20)
          .select(col("doc_id"), col("label"), col("score"), col("calibrated"))
          .orderBy(col("doc_id")).limit(100)
      },
      Some("""WITH t AS (SELECT doc_id, length(text) AS c, string_split(text,' ') AS w,
             |  CASE WHEN length(text) >= 500 THEN 1 ELSE 0 END AS label FROM documents),
             |q AS (SELECT doc_id, label, round(0.3*least(len(w)/50.0, 1.0)
             |  + 0.3*(len(list_distinct(w))::DOUBLE/len(w))
             |  + 0.2*(1.0 - len(list_filter(w, x -> x IN ('the','a','of','and','to')))::DOUBLE/len(w))
             |  + 0.2*least(((c - len(w) + 1.0)/len(w))/6.0, 1.0), 6) AS score FROM t),
             |st AS (SELECT min(score) AS lo,
             |  greatest((max(score) - min(score))/20.0, 1e-12) AS width FROM q),
             |q2 AS (SELECT doc_id, label, score,
             |  CAST(least(greatest(floor((score - st.lo)/st.width), 0), 19) AS INT) AS bin
             |  FROM q, st),
             |b AS (SELECT bin, count(*) AS n, sum(label)::DOUBLE AS ysum FROM q2 GROUP BY bin),
             |seg AS (SELECT j.bin AS bj, k.bin AS bk, sum(t2.ysum)/sum(t2.n) AS ar
             |  FROM b j JOIN b k ON j.bin <= k.bin
             |  JOIN b t2 ON t2.bin BETWEEN j.bin AND k.bin GROUP BY 1, 2),
             |mm AS (SELECT i.bin AS bin, s.bj, min(s.ar) AS mn
             |  FROM b i JOIN seg s ON s.bj <= i.bin AND s.bk >= i.bin GROUP BY 1, 2),
             |iso AS (SELECT bin, max(mn) AS cal FROM mm GROUP BY 1)
             |SELECT q2.doc_id, q2.label, q2.score, round(iso.cal, 6) AS calibrated
             |FROM q2 JOIN iso USING (bin)
             |ORDER BY doc_id LIMIT 100""".stripMargin.replace('\n', ' ')),
      doc = "PAV-calibrated quality score (exact integer pooling; SQL replay via the isotonic minimax identity)"),

    // ---- exact tie-corrected AUC via the Mann-Whitney rank identity:
    // does the deterministic quality score rank long documents above
    // short ones — the filter-evaluation number with a FULL oracle
    // (the MLlib AUC gate has none)
    "q_auc_exact" -> Q(
      (s, dir) => graft.operators.QualityModel.aucExact(
          table(s, dir, "documents")
            .select(TA.qualityScore(col("text")).as("score"),
              (length(col("text")) >= 500).cast("int").as("label")),
          "score", "label"),
      Some("""WITH t AS (SELECT length(text) AS c, string_split(text,' ') AS w,
             |  length(text) >= 500 AS y FROM documents),
             |q AS (SELECT round(0.3*least(len(w)/50.0, 1.0)
             |  + 0.3*(len(list_distinct(w))::DOUBLE/len(w))
             |  + 0.2*(1.0 - len(list_filter(w, x -> x IN ('the','a','of','and','to')))::DOUBLE/len(w))
             |  + 0.2*least(((c - len(w) + 1.0)/len(w))/6.0, 1.0), 6) AS sc,
             |  CASE WHEN y THEN 1 ELSE 0 END AS yy FROM t),
             |pv AS (SELECT sc, sum(yy) AS p, count(*) AS t FROM q GROUP BY sc),
             |mr AS (SELECT *, sum(t) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) - (t - 1.0)/2.0 AS m FROM pv)
             |SELECT sum(p)::BIGINT AS n_pos, (sum(t) - sum(p))::BIGINT AS n_neg,
             |round((sum(m*p) - sum(p)*1.0*(sum(p) + 1.0)/2.0)/(sum(p)*1.0*(sum(t) - sum(p))), 6) AS auc
             |FROM mr""".stripMargin.replace('\n', ' ')),
      doc = "exact tie-corrected AUC of the quality score against a length label"),

    // ---- reliability table + ECE terms (Naeini 2015): per-bin
    // confidence vs observed accuracy — the number that says whether
    // calibration is needed at all
    "q_calibration_bins" -> Q(
      (s, dir) => graft.operators.QualityModel.calibrationReport(
          table(s, dir, "documents")
            .select(TA.qualityScore(col("text")).as("score"),
              (length(col("text")) >= 500).cast("int").as("label")),
          "score", "label", bins = 10)
        .orderBy(col("bin")),
      Some("""WITH t AS (SELECT length(text) AS c, string_split(text,' ') AS w,
             |  CASE WHEN length(text) >= 500 THEN 1.0 ELSE 0.0 END AS y FROM documents),
             |q AS (SELECT round(0.3*least(len(w)/50.0, 1.0)
             |  + 0.3*(len(list_distinct(w))::DOUBLE/len(w))
             |  + 0.2*(1.0 - len(list_filter(w, x -> x IN ('the','a','of','and','to')))::DOUBLE/len(w))
             |  + 0.2*least(((c - len(w) + 1.0)/len(w))/6.0, 1.0), 6) AS sc, y FROM t),
             |g AS (SELECT CAST(least(greatest(floor(sc*10), 0), 9) AS INT) AS bin,
             |  count(*) AS n, avg(sc) AS conf, avg(y) AS acc FROM q GROUP BY 1),
             |tt AS (SELECT sum(n)::DOUBLE AS nt FROM g)
             |SELECT bin, n, round(conf, 6) AS confidence, round(acc, 6) AS accuracy,
             |round(abs(acc - conf), 6) AS gap,
             |round(n/nt*abs(acc - conf), 6) AS ece_term
             |FROM g, tt ORDER BY bin""".stripMargin.replace('\n', ' ')),
      doc = "reliability diagram bins + ECE terms for the quality score"),

    // ---- PMI collocations: +-2 skip-window pair counts, map-side pair
    // generation (no positions self-join), one hash-agg shuffle;
    // unigrams + totals ride as broadcasts.
    "q_pmi_pairs" -> Q(
      (s, dir) => TA.pmiPairs(table(s, dir, "documents"), "text",
          window = 2, minCount = 25)
        .orderBy(col("a"), col("b")),
      Some("""WITH t AS (SELECT string_split(text,' ') AS w FROM documents),
             |pr AS (SELECT least(w[i], w[i+d]) AS a, greatest(w[i], w[i+d]) AS b
             |       FROM t, unnest(range(1, len(w)+1)) AS r(i), unnest([1,2]) AS s(d)
             |       WHERE i + d <= len(w)),
             |co AS (SELECT a, b, count(*) AS c_ab FROM pr GROUP BY a, b),
             |uni AS (SELECT unnest(w) AS tok FROM t),
             |u AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
             |tp AS (SELECT count(*) AS t_pair FROM pr),
             |tt AS (SELECT count(*) AS t_tok FROM uni)
             |SELECT a, b, c_ab, round(log2((1.0*c_ab / t_pair) /
             |  ((1.0*ua.c / t_tok) * (1.0*ub.c / t_tok))), 6) AS pmi
             |FROM co JOIN u ua ON ua.tok = a JOIN u ub ON ub.tok = b
             |CROSS JOIN tp CROSS JOIN tt
             |WHERE c_ab >= 25 ORDER BY a, b""".stripMargin.replace('\n', ' '))),

    // ---- exact heavy hitters via two-pass Misra-Gries sketch-then-
    // verify: fixed-size mergeable summary finds a provably complete
    // candidate set, then only the <= k candidates are exact-counted.
    // Threshold = 1% of corpus tokens (> n/(k+1), so zero false
    // negatives); output is exact, hence the full DuckDB oracle.
    "q_token_heavy_hitters" -> Q(
      (s, dir) => {
        val tok = table(s, dir, "documents")
          .select(explode(TA.tokens(col("text"))).as("token"))
        val th = math.max(1L, tok.count() / 100L)
        graft.operators.Sketches.heavyHitters(tok, "token", th)
          .orderBy(col("token"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS token FROM documents)
             |SELECT token, count(*) AS n FROM tok GROUP BY token
             |HAVING count(*) >= (SELECT greatest(count(*)//100, 1) FROM tok)
             |ORDER BY token""".stripMargin.replace('\n', ' '))),

    // ---- distributed BPE merge training (tokenizer prep). Runs over
    // the distinct-word table; one explode+hash-agg per round, argmax
    // row only to the driver. FULLY engine-replayable: pair scores are
    // exact long sums with a total tie-break, so the fixed 12 rounds
    // UNROLL into chained DuckDB CTEs (pair-count agg + argmax + a
    // list_reduce merge fold per round — the fold equals the leftmost
    // scan because a freshly merged l||r can never re-match l).
    // ---- WordPiece (Schuster & Nakajima 2012 / BERT): likelihood-gain
    // merges count(ab)/(count(a)count(b)) under the ## continuation
    // scheme — completes the trainer triad (BPE counts, Unigram EM,
    // WordPiece likelihood). The score is ONE division of exact longs,
    // correctly rounded identically in both engines, so the trainer
    // replays like BPE's; BOTH also stay spec-gated vs single-node
    // references.
    "q_wordpiece_merges" -> Q(
      (s, dir) => graft.operators.WordPiece
        .trainDF(table(s, dir, "documents"), "text", numMerges = 12)
        .orderBy(col("rank")),
      Some(wpMergesOracle(12)),
      doc = "WordPiece likelihood-scored merge training (BERT tokenizer; unrolled-CTE oracle)"),

    // ---- WordPiece APPLY: greedy longest-match-first against the
    // trained vocab; distinct words segment once, corpus joins the
    // broadcast segmentation table. FULL oracle: the trained vocab
    // replays via the unrolled merge CTEs, and the greedy walk replays
    // as a recursive CTE over a precomputed longest-match table (a
    // stalled walk — dead end — is the word-level [UNK], exactly the
    // operator's semantics).
    "q_wordpiece_encode" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        val train = d.filter(col("doc_id") < 200)
        val merges = graft.operators.WordPiece.train(train, "text", numMerges = 12)
        val vocab = graft.operators.WordPiece.vocabulary(train, "text", merges)
        graft.operators.WordPiece.encodeDocs(
            d.filter(col("doc_id") < 40), "doc_id", "text", vocab)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(wpEncodeOracle(12, "WHERE doc_id < 200", "WHERE doc_id < 40")),
      doc = "doc-level WordPiece greedy encode with [UNK] accounting (recursive-CTE oracle)"),

    "q_bpe_merges" -> Q(
      (s, dir) => graft.operators.Bpe
        .trainDF(s, table(s, dir, "documents"), "text", numMerges = 12)
        .orderBy(col("rank")),
      Some(bpeMergesOracle(12)),
      doc = "BPE merge training (unrolled-CTE oracle; also spec-gated vs a single-node reference)"),

    // ---- tokenizer APPLY: doc-level BPE encode with the trained
    // merges — distinct words segment once, the corpus joins the
    // (broadcast) segmentation table, one re-agg restores order.
    // FULL oracle: the rank-ordered merge application is the same
    // list_reduce fold chain the trainer replay uses.
    "q_bpe_encode" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        val merges = graft.operators.Bpe.train(
          d.filter(col("doc_id") < 200), "text", numMerges = 12)
        graft.operators.Bpe.encodeDocs(
            d.filter(col("doc_id") < 40), "doc_id", "text", merges)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(bpeEncodeOracle(12, "WHERE doc_id < 200", "WHERE doc_id < 40")),
      doc = "doc-level BPE encoding (unrolled-CTE oracle; BpeSpec order/stitching gate)"),

    // ---- END-TO-END corpus pipeline: the composition every pretraining
    // team actually ships — Gopher rule filter (raw text) → exact-dedup
    // keeper pass (anti-join the dropped ids) → domain-mix quota take.
    // Three operators chained as one declarative plan, fully
    // oracle-checked.
    "q_corpus_pipeline" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        val m = d.select(col("doc_id") +: col("lang") +:
          TA.ruleMetrics(col("text")).map { case (n, c) => c.as(n) }: _*)
        val flags = TA.ruleFlags(n => col(n))
        val survivors = m.filter(TA.ruleKeep(flags.map(_._2)))
          .select(col("doc_id"), col("lang"))
        val dropped = Dedup.exactDupMapping(d, "doc_id", "text")
          .select(col("dropped_id").as("doc_id"))
        val deduped = survivors.join(dropped, Seq("doc_id"), "left_anti")
        graft.operators.Sampling.domainMix(deduped, col("lang"), col("doc_id"),
            Map("en" -> 0.4, "fr" -> 0.2, "es" -> 0.2, "zh" -> 0.1, "de" -> 0.1),
            totalN = 100L)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w2 AS (SELECT doc_id, lang, regexp_split_to_array(text, '\\s+') AS ws,
              |       string_split(text, chr(10)) AS ln FROM documents),
              |m AS (SELECT doc_id, lang, $qrMetricsSql FROM w2),
              |keepd AS (SELECT doc_id, lang FROM m
              |  WHERE n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 2.5
              |  AND mean_word_len <= 8.0 AND alpha_frac >= 0.9 AND bullet_frac <= 0.5
              |  AND ellipsis_frac <= 0.3 AND stop_count >= 2),
              |h AS (SELECT doc_id, md5(text) AS hh FROM documents),
              |g AS (SELECT hh, min(doc_id) AS keeper, count(*) AS c FROM h GROUP BY hh),
              |dups AS (SELECT h.doc_id FROM h JOIN g USING (hh)
              |  WHERE g.c > 1 AND h.doc_id <> g.keeper),
              |ded AS (SELECT * FROM keepd WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
              |r AS (SELECT doc_id, lang, row_number() OVER (
              |  PARTITION BY lang ORDER BY md5(doc_id::VARCHAR)) AS rk FROM ded)
              |SELECT doc_id, lang FROM r WHERE rk <= CASE lang
              |  WHEN 'en' THEN 40 WHEN 'fr' THEN 20 WHEN 'es' THEN 20
              |  WHEN 'zh' THEN 10 WHEN 'de' THEN 10 ELSE 0 END
              |ORDER BY doc_id""".stripMargin.replace('\n', ' '))),

    // ---- DSIR importance weighting (Xie et al. 2023, public method):
    // target-vs-raw n-gram log-likelihood ratio per doc — the data-
    // selection scorer that skews a web corpus toward a target domain
    // without a trained classifier. Exact-gram mode here (full oracle);
    // the hashed-feature mode (bounded state, broadcast count tables)
    // is spec-gated against this one in DedupSpec. Measured r15: the
    // maintained-counts serving path (logWeightsFromCounts over
    // Dsir.writeCounts tables) is ~0.7s SLOWER here than inline — the
    // inline path's persisted gram frame already feeds both counts and
    // scoring, and this corpus's target is a subset of raw, so the
    // artifact saves nothing; it wins only when the target corpus is
    // external or counts are maintained across appends (the streaming
    // absorb path). Queries stay inline; the API stays for that case.
    "q_dsir_weights" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        graft.operators.Dsir.logWeights(
            d, d.filter(col("source") === "src0"), "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_grams"),
            round(col("log_weight"), 6).as("log_weight"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
              |gr AS (SELECT doc_id, source, unnest(w) AS g FROM t
              |  UNION ALL
              |  SELECT doc_id, source, w[i]||' '||w[i+1] FROM t, unnest(range(1, len(w))) AS r(i)),
              |rcnt AS (SELECT g, count(*) AS rc FROM gr GROUP BY g),
              |tcnt AS (SELECT g, count(*) AS tc FROM gr WHERE source = 'src0' GROUP BY g),
              |ratio AS (SELECT coalesce(rcnt.g, tcnt.g) AS g, coalesce(rc, 0) AS rc,
              |  coalesce(tc, 0) AS tc FROM rcnt FULL JOIN tcnt ON rcnt.g = tcnt.g),
              |c AS (SELECT sum(rc) AS nr, sum(tc) AS nt, count(*) AS v FROM ratio),
              |sc AS (SELECT doc_id, ln((tc + 0.5)/(nt + 0.5*v)) - ln((rc + 0.5)/(nr + 0.5*v)) AS lr
              |  FROM gr JOIN ratio USING (g) CROSS JOIN c)
              |SELECT doc_id, count(*) AS n_grams, round(sum(lr), 6) AS log_weight
              |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "DSIR importance log-weights: target-domain vs corpus n-gram likelihood ratio"),

    // deterministic top-k by importance weight (the temperature->0
    // selection); TakeOrderedAndProject, never a global sort
    "q_dsir_topk" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        graft.operators.Dsir.logWeights(
            d, d.filter(col("source") === "src0"), "doc_id", "text")
          .select(col("id").as("doc_id"),
            round(col("log_weight"), 6).as("log_weight"))
          .orderBy(col("log_weight").desc, col("doc_id")).limit(100)
      },
      Some(s"""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
              |gr AS (SELECT doc_id, source, unnest(w) AS g FROM t
              |  UNION ALL
              |  SELECT doc_id, source, w[i]||' '||w[i+1] FROM t, unnest(range(1, len(w))) AS r(i)),
              |rcnt AS (SELECT g, count(*) AS rc FROM gr GROUP BY g),
              |tcnt AS (SELECT g, count(*) AS tc FROM gr WHERE source = 'src0' GROUP BY g),
              |ratio AS (SELECT coalesce(rcnt.g, tcnt.g) AS g, coalesce(rc, 0) AS rc,
              |  coalesce(tc, 0) AS tc FROM rcnt FULL JOIN tcnt ON rcnt.g = tcnt.g),
              |c AS (SELECT sum(rc) AS nr, sum(tc) AS nt, count(*) AS v FROM ratio),
              |sc AS (SELECT doc_id, ln((tc + 0.5)/(nt + 0.5*v)) - ln((rc + 0.5)/(nr + 0.5*v)) AS lr
              |  FROM gr JOIN ratio USING (g) CROSS JOIN c),
              |dw AS (SELECT doc_id, round(sum(lr), 6) AS log_weight FROM sc GROUP BY doc_id)
              |SELECT doc_id, log_weight FROM dw
              |ORDER BY log_weight DESC, doc_id LIMIT 100""".stripMargin.replace('\n', ' ')),
      doc = "top-100 docs by DSIR importance weight (deterministic selection)"),

    // seeded Gumbel-top-k importance RESAMPLE (the paper's sampled
    // selection) — randomized by design, so rows-only here; DedupSpec
    // gates determinism, weight-monotone selection odds, and
    // hashed-vs-exact ranking agreement
    "q_dsir_sample" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        graft.operators.Dsir.select(
            d, d.filter(col("source") === "src0"), "doc_id", "text",
            n = 100, temperature = 2.0, seed = 42L, hashKeyed = true)
          .select(col("id").as("doc_id"),
            round(col("log_weight"), 6).as("log_weight"),
            col("gumbel_key"))
          .orderBy(col("doc_id"))
      },
      Some {
        val uu = uuOpenSql("md5('42:' || doc_id::VARCHAR)")
        s"""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
           |gr AS (SELECT doc_id, source, unnest(w) AS g FROM t
           |  UNION ALL
           |  SELECT doc_id, source, w[i]||' '||w[i+1] FROM t, unnest(range(1, len(w))) AS r(i)),
           |rcnt AS (SELECT g, count(*) AS rc FROM gr GROUP BY g),
           |tcnt AS (SELECT g, count(*) AS tc FROM gr WHERE source = 'src0' GROUP BY g),
           |ratio AS (SELECT coalesce(rcnt.g, tcnt.g) AS g, coalesce(rc, 0) AS rc,
           |  coalesce(tc, 0) AS tc FROM rcnt FULL JOIN tcnt ON rcnt.g = tcnt.g),
           |c AS (SELECT sum(rc) AS nr, sum(tc) AS nt, count(*) AS v FROM ratio),
           |sc AS (SELECT doc_id, ln((tc + 0.5)/(nt + 0.5*v)) - ln((rc + 0.5)/(nr + 0.5*v)) AS lr
           |  FROM gr JOIN ratio USING (g) CROSS JOIN c),
           |wq AS (SELECT doc_id, sum(lr) AS lw FROM sc GROUP BY doc_id),
           |k AS (SELECT doc_id, lw,
           |  round(lw / 2.0 - ln(-ln($uu)), 6) AS gumbel_key FROM wq),
           |top AS (SELECT doc_id, lw, gumbel_key FROM k
           |  ORDER BY gumbel_key DESC, doc_id LIMIT 100)
           |SELECT doc_id, round(lw, 6) AS log_weight, gumbel_key
           |FROM top ORDER BY doc_id""".stripMargin.replace('\n', ' ')
      },
      doc = "Gumbel-top-k DSIR resample: P(select) proportional to w^(1/T); md5-keyed, full-oracle"),

    // ---- chunk-level exact dedup with doc reassembly (the paragraph
    // dedup of RefinedWeb/Dolma). The synthetic corpus has no naturally
    // repeated 8-word windows, so both engines prepend identical
    // doc_id-derived boilerplate chunks (the PII-fixture pattern):
    // 1/3 of docs share one leading chunk, 1/4 share another, 1/12 both
    // — exercising multi-chunk drops and rebuild ordering.
    "q_dedup_chunks" -> Q(
      (s, dir) => {
        val p1 = "standard boilerplate disclaimer repeated across many documents verbatim"
        val p2 = "shared header template text appears in every feed"
        val d = table(s, dir, "documents").select(col("doc_id"),
          concat(
            when(col("doc_id") % 4 === 0, lit(p2 + " ")).otherwise(lit("")),
            when(col("doc_id") % 3 === 0, lit(p1 + " ")).otherwise(lit("")),
            col("text")).as("text"))
        graft.operators.Dedup.chunkDedup(d, "doc_id", "text", 8)
          .select(col("id").as("doc_id"), col("n_chunks"), col("n_kept"),
            col("text_clean"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |  (CASE WHEN doc_id % 4 = 0 THEN 'shared header template text appears in every feed ' ELSE '' END) ||
             |  (CASE WHEN doc_id % 3 = 0 THEN 'standard boilerplate disclaimer repeated across many documents verbatim ' ELSE '' END) ||
             |  text AS text FROM documents),
             |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
             |c AS (SELECT doc_id, i AS chunk_idx,
             |  array_to_string(w[(i*8+1):(i*8+8)], ' ') AS chunk_text
             |  FROM t, unnest(range(0, (len(w)+7)//8)) AS r(i)),
             |k AS (SELECT *, row_number() OVER (PARTITION BY chunk_text
             |  ORDER BY doc_id, chunk_idx) AS rn FROM c)
             |SELECT doc_id, count(*) AS n_chunks,
             |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             |  string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY chunk_idx) AS text_clean
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "chunk-level exact dedup: corpus-wide first-occurrence keeper, docs rebuilt from surviving chunks"),

    // ---- RefinedWeb boilerplate removal: chunks in >= minDf distinct
    // docs survive NOWHERE (vs q_dedup_chunks' keep-first): the planted
    // disclaimer/header chunks vanish from EVERY doc, natural text keeps
    "q_dedup_boilerplate" -> Q(
      (s, dir) => {
        val p1 = "standard boilerplate disclaimer repeated across many documents verbatim"
        val p2 = "shared header template text appears in every feed"
        val d = table(s, dir, "documents").select(col("doc_id"),
          concat(
            when(col("doc_id") % 4 === 0, lit(p2 + " ")).otherwise(lit("")),
            when(col("doc_id") % 3 === 0, lit(p1 + " ")).otherwise(lit("")),
            col("text")).as("text"))
        graft.operators.Dedup.boilerplateChunkDedup(d, "doc_id", "text", 8, minDf = 2)
          .select(col("id").as("doc_id"), col("n_chunks"), col("n_kept"),
            col("text_clean"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |  (CASE WHEN doc_id % 4 = 0 THEN 'shared header template text appears in every feed ' ELSE '' END) ||
             |  (CASE WHEN doc_id % 3 = 0 THEN 'standard boilerplate disclaimer repeated across many documents verbatim ' ELSE '' END) ||
             |  text AS text FROM documents),
             |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
             |c AS (SELECT doc_id, i AS chunk_idx,
             |  array_to_string(w[(i*8+1):(i*8+8)], ' ') AS chunk_text
             |  FROM t, unnest(range(0, (len(w)+7)//8)) AS r(i)),
             |f AS (SELECT chunk_text, count(DISTINCT doc_id) AS nd FROM c GROUP BY 1),
             |k AS (SELECT c.doc_id, c.chunk_idx, c.chunk_text, f.nd FROM c JOIN f USING (chunk_text))
             |SELECT doc_id, count(*) AS n_chunks,
             |  sum(CASE WHEN nd < 2 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             |  string_agg(CASE WHEN nd < 2 THEN chunk_text END, ' ' ORDER BY chunk_idx) AS text_clean
             |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "RefinedWeb boilerplate removal: drop ALL copies of chunks in >=2 distinct docs, rebuild the rest"),

    // ---- cross-source overlap audit: exact shingle-set Jaccard for
    // every source pair (the "how redundant are my corpora" check run
    // before fixing mixture weights)
    "q_corpus_overlap" -> Q(
      (s, dir) => graft.operators.Dedup.corpusOverlap(
          table(s, dir, "documents"), "source", "text")
        .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
          col("n_common"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("group_a"), col("group_b")),
      Some("""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
             |s AS (SELECT doc_id, source, CASE WHEN len(w) >= 3
             |  THEN list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))
             |  ELSE []::VARCHAR[] END AS sh FROM t),
             |e AS (SELECT DISTINCT source, g FROM
             |  (SELECT source, unnest(sh) AS g FROM s)),
             |sz AS (SELECT source, count(*) AS n FROM e GROUP BY source),
             |ix AS (SELECT a.source AS group_a, b.source AS group_b, count(*) AS n_common
             |  FROM e a JOIN e b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
             |SELECT group_a, group_b, na.n AS n_a, nb.n AS n_b, n_common,
             |  round(n_common::DOUBLE / (na.n + nb.n - n_common), 6) AS jaccard
             |FROM ix JOIN sz na ON ix.group_a = na.source
             |JOIN sz nb ON ix.group_b = nb.source
             |ORDER BY group_a, group_b""".stripMargin.replace('\n', ' ')),
      doc = "pairwise corpus overlap: exact 3-gram shingle Jaccard between sources"),

    // ---- sketched corpus overlap (the 100 TB posture of the exact
    // matrix above): bottom-k KMV shingle signatures per source — one
    // fixed-state agg, no distinct shuffle — then pairwise estimation
    // on the bounded signature artifact. The keys are 60-bit md5
    // prefixes, so the whole sketch REPLAYS in DuckDB (base-16 fold +
    // window bottom-k): a FULL oracle for an approximation operator —
    // the estimator itself is deterministic given the hash. SketchesSpec
    // additionally gates exactness at covering k and tolerance at small
    // k against the exact operator.
    "q_corpus_overlap_sketch" -> Q(
      (s, dir) => graft.operators.Dedup.corpusOverlapSketch(
          table(s, dir, "documents"), "source", "text", k = 512)
        .orderBy(col("group_a"), col("group_b")),
      Some(s"""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
              |s AS (SELECT doc_id, source, CASE WHEN len(w) >= 3
              |  THEN list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))
              |  ELSE []::VARCHAR[] END AS sh FROM t),
              |hx AS (SELECT DISTINCT source, ${hex60Sql("md5(g)")} AS h
              |  FROM (SELECT source, unnest(sh) AS g FROM s)),
              |sig AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM hx),
              |bk AS MATERIALIZED (SELECT source, h FROM sig WHERE rk <= 512),
              |cnt AS (SELECT source, count(*) AS c, max(h) AS hk FROM bk GROUP BY source),
              |est AS (SELECT source, CASE WHEN c < 512 THEN c
              |  ELSE CAST(floor(511 * 1152921504606846976.0 / hk + 0.5) AS BIGINT) END AS est_n FROM cnt),
              |srcs AS (SELECT DISTINCT source FROM documents),
              |pairs AS (SELECT a.source AS ga, b.source AS gb FROM srcs a JOIN srcs b ON a.source < b.source),
              |uni0 AS (SELECT p.ga, p.gb, k.h FROM pairs p JOIN bk k ON k.source = p.ga
              |  UNION SELECT p.ga, p.gb, k.h FROM pairs p JOIN bk k ON k.source = p.gb),
              |uni AS (SELECT ga, gb, h, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk FROM uni0),
              |uk AS (SELECT ga, gb, h FROM uni WHERE rk <= 512),
              |ib AS (SELECT u.ga, u.gb, count(*) AS usz,
              |    count(*) FILTER (WHERE ha.h IS NOT NULL AND hb.h IS NOT NULL) AS inboth
              |  FROM uk u LEFT JOIN bk ha ON ha.source = u.ga AND ha.h = u.h
              |            LEFT JOIN bk hb ON hb.source = u.gb AND hb.h = u.h
              |  GROUP BY u.ga, u.gb)
              |SELECT p.ga AS group_a, p.gb AS group_b,
              |  coalesce(ea.est_n, 0) AS est_n_a, coalesce(eb.est_n, 0) AS est_n_b,
              |  round(coalesce(ib.inboth * 1.0 / ib.usz, 0.0), 6) AS est_jaccard
              |FROM pairs p
              |LEFT JOIN est ea ON ea.source = p.ga
              |LEFT JOIN est eb ON eb.source = p.gb
              |LEFT JOIN ib ON ib.ga = p.ga AND ib.gb = p.gb
              |ORDER BY group_a, group_b""".stripMargin.replace('\n', ' ')),
      doc = "KMV bottom-k corpus-overlap estimate: fixed sketch state per source, no distinct shuffle; md5-prefix keys -> full oracle"),

    // ---- one-pass corpus data card: the dataset-summary row every
    // curation run logs. One aggregation tree (the multi-distinct
    // expands map-side); at 100 TB the distincts would swap to
    // approx_count_distinct — exact here for the oracle.
    "q_corpus_summary" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(col("text"), col("lang"), col("source"), col("n_chars"),
          size(TA.tokens(col("text"))).as("n_toks"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique_texts"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_toks")).as("total_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          expr("percentile(n_chars, array(0.5, 0.9))").as("__p"))
        .select(col("n_docs"), col("n_unique_texts"), col("n_langs"),
          col("n_sources"), col("total_tokens"), col("avg_chars"),
          element_at(col("__p"), 1).as("p50_chars"),
          element_at(col("__p"), 2).as("p90_chars")),
      Some("""SELECT count(*) AS n_docs,
             |count(DISTINCT md5(text)) AS n_unique_texts,
             |count(DISTINCT lang) AS n_langs,
             |count(DISTINCT source) AS n_sources,
             |sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
             |round(avg(n_chars), 4) AS avg_chars,
             |quantile_cont(n_chars, 0.5) AS p50_chars,
             |quantile_cont(n_chars, 0.9) AS p90_chars
             |FROM documents""".stripMargin.replace('\n', ' ')),
      doc = "one-pass corpus data card: counts, distincts, token totals, length quantiles"),

    // ---- keyword search (TQL CONTAINS; tql.md:179-185)
    "q_text_contains" -> Q(
      (s, dir) => {
        val w = TA.tokens(col("text"))
        table(s, dir, "documents")
          .filter(array_contains(w, "spark") && array_contains(w, "join"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n FROM documents
             |WHERE list_contains(string_split(text,' '), 'spark')
             |AND list_contains(string_split(text,' '), 'join')
             |GROUP BY lang ORDER BY lang""".stripMargin.replace('\n', ' '))),

    // ---- mutual information between categorical columns: the
    // feature-redundancy audit before training a filter model. One
    // data-sized hash agg on the pair; all entropy math on the
    // |X|·|Y| category frame with broadcast marginals
    "q_feature_mi" -> Q(
      (s, dir) => graft.operators.InfoTheory.categoricalMi(
        table(s, dir, "documents"), "lang", "source"),
      Some("""WITH j AS (SELECT coalesce(lang, ' null') AS x,
             |  coalesce(source, ' null') AS y, count(*)::DOUBLE AS nxy
             |  FROM documents GROUP BY 1, 2),
             |t AS (SELECT sum(nxy) AS n FROM j),
             |mx AS (SELECT x, sum(nxy) AS nx FROM j GROUP BY x),
             |my AS (SELECT y, sum(nxy) AS ny FROM j GROUP BY y)
             |SELECT
             |(SELECT round(sum(j.nxy/t.n * log2(j.nxy*t.n/(mx.nx*my.ny))), 6)
             |  FROM j, t, mx, my WHERE j.x = mx.x AND j.y = my.y) AS mi_bits,
             |(SELECT round(-sum(nx/n * log2(nx/n)), 6) FROM mx, t) AS h_x,
             |(SELECT round(-sum(ny/n * log2(ny/n)), 6) FROM my, t) AS h_y,
             |(SELECT round((SELECT -sum(nxy/n * log2(nxy/n)) FROM j, t)
             |  - (SELECT -sum(nx/n * log2(nx/n)) FROM mx, t), 6)) AS h_y_given_x
             |""".stripMargin.replace('\n', ' ')),
      doc = "mutual information + entropies between lang and source"),

    // ---- Zipf slope of the token-frequency distribution: OLS fit of
    // log10(freq) ~ log10(rank) over the top-1000 vocabulary — the
    // "does this corpus look like natural language" fingerprint
    "q_zipf_slope" -> Q(
      (s, dir) => graft.operators.InfoTheory.zipfSlope(
        table(s, dir, "documents"), "text", topK = 1000),
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
             |  FROM documents),
             |cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY token
             |  ORDER BY n DESC, token LIMIT 1000),
             |rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS r
             |  FROM cnt)
             |SELECT count(*) AS n_tokens,
             |round(regr_slope(log10(n::DOUBLE), log10(r::DOUBLE)), 6) AS slope,
             |round(regr_r2(log10(n::DOUBLE), log10(r::DOUBLE)), 6) AS r2
             |FROM rk""".stripMargin.replace('\n', ' ')),
      doc = "Zipf-law OLS fit over the top-1000 token frequencies"),

    // ---- Laplace-noised count release: PRF(key, seed) noise so the
    // release replays in the oracle. The seed is PUBLIC here (test
    // fixture), so this exercises the reproducible-pseudo-noise mode —
    // a real DP release keeps the seed secret (see Pii.dpNoisedCounts)
    "q_dp_release" -> Q(
      (s, dir) => graft.operators.Pii.dpNoisedCounts(
          table(s, dir, "documents"), "source", epsilon = 0.5, seed = 42L)
        .orderBy(col("source")),
      Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
             |u AS (SELECT source, n,
             |  (('0x' || substr(md5(source || '|42'), 1, 8))::BIGINT
             |    / 4294967296.0) - 0.5 AS c
             |  FROM c)
             |SELECT source, n,
             |round(n - 2.0 * sign(c) * ln(greatest(1e-12, 1 - 2*abs(c))), 4) AS n_dp
             |FROM u ORDER BY source""".stripMargin.replace('\n', ' ')),
      doc = "seeded pseudo-Laplace count release per source (eps=0.5; DP only with a secret seed)"),

    // ---- token-budget mixture plan: the "how many epochs of each
    // domain" table a data mix starts from. One domain agg; mixture
    // math on the #domains frame with broadcast weights
    "q_token_budget" -> Q(
      (s, dir) => graft.operators.Sampling.tokenBudget(
          table(s, dir, "documents")
            .withColumn("n_tokens", size(split(col("text"), " "))),
          "source", "n_tokens",
          weights = (0 to 19).map(i => s"src$i" -> 1.0).toMap,
          budget = 20000L)
        .orderBy(col("source")),
      Some("""WITH a AS (SELECT source,
             |  sum(len(string_split(text, ' ')))::BIGINT AS available_tokens
             |  FROM documents GROUP BY source)
             |SELECT source, available_tokens,
             |floor(20000.0 * 1.0 / 20.0)::BIGINT AS target_tokens,
             |round(least(1.0, floor(20000.0 / 20.0) / available_tokens), 6) AS rate,
             |round(floor(20000.0 / 20.0) / available_tokens, 4) AS epochs,
             |least(floor(20000.0 / 20.0)::BIGINT, available_tokens) AS sampled_tokens
             |FROM a ORDER BY source""".stripMargin.replace('\n', ' ')),
      doc = "per-domain token budget: targets, rates, epoch factors under uniform weights"),

    // ---- percentile-normalized quality blend: decile-bin each signal
    // against its exact edges bound as literals, weighted-mean to a
    // [0,1] score — scale-free fusion of incommensurable quality signals
    "q_quality_blend" -> Q(
      (s, dir) => graft.operators.Features.percentileBlend(
          table(s, dir, "documents")
            .select(col("doc_id"), col("n_chars").cast("double").as("chars"),
              size(split(col("text"), " ")).cast("double").as("toks")),
          signalCols = Seq("chars", "toks"), weights = Seq(1.0, 1.0))
        .select(col("doc_id"), col("bin_chars"), col("bin_toks"), col("q_blend"))
        .orderBy(col("doc_id")),
      Some("""WITH sig AS (SELECT doc_id, n_chars::DOUBLE AS c,
             |  len(string_split(text, ' '))::DOUBLE AS t FROM documents),
             |e AS (SELECT quantile_cont(c, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS ec,
             |  quantile_cont(t, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS et FROM sig)
             |SELECT doc_id,
             |len(list_filter(ec, x -> c >= x))::INT AS bin_chars,
             |len(list_filter(et, x -> t >= x))::INT AS bin_toks,
             |round((len(list_filter(ec, x -> c >= x))
             |  + len(list_filter(et, x -> t >= x))) / 18.0, 6) AS q_blend
             |FROM sig, e ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "two-signal decile quality blend (equal weights) per document"),

    // ---- per-source JS divergence vs the corpus token mixture: the
    // "which ingredient doesn't belong" audit before mixing sources
    "q_source_divergence" -> Q(
      (s, dir) => graft.operators.InfoTheory.sourceDivergence(
          table(s, dir, "documents"), "source", "text")
        .orderBy(col("src")),
      Some("""WITH tok AS (SELECT source AS src,
             |  unnest(string_split(text, ' ')) AS term FROM documents),
             |st AS (SELECT src, term, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
             |corpus AS (SELECT term, sum(c) AS ct FROM st GROUP BY 1),
             |stot AS (SELECT src, sum(c) AS n_src FROM st GROUP BY 1),
             |tot AS (SELECT sum(ct) AS n_all FROM corpus)
             |SELECT src,
             |round(sum((c/n_src)/2 * ln((c/n_src) / (((c/n_src)+(ct/n_all))/2))
             |    + (ct/n_all)/2 * ln((ct/n_all) / (((c/n_src)+(ct/n_all))/2)))
             |  + (1 - sum(ct/n_all)) * ln(2) / 2, 6) AS js,
             |count(*)::BIGINT AS n_terms, any_value(n_src)::BIGINT AS n_tokens
             |FROM st JOIN corpus USING (term) JOIN stot USING (src), tot
             |GROUP BY src ORDER BY src""".stripMargin.replace('\n', ' ')),
      doc = "per-source unigram JS divergence vs corpus mixture (absent terms folded algebraically)"),

    // ---- selection-rate fairness audit (four-fifths rule + parity
    // diff): did the length filter select some language at a
    // structurally lower rate than the best-selected one
    "q_selection_rates" -> Q(
      (s, dir) => graft.operators.Profiling.selectionRateAudit(
          table(s, dir, "documents"), "lang", length(col("text")) >= 500)
        .orderBy(col("lang")),
      Some("""WITH g AS (SELECT lang, count(*) AS n,
             |  sum(CASE WHEN length(text) >= 500 THEN 1 ELSE 0 END)::BIGINT AS n_pos
             |  FROM documents GROUP BY 1),
             |r AS (SELECT max(n_pos*1.0/n) AS max_rate FROM g),
             |o AS (SELECT sum(n_pos)*1.0/sum(n) AS overall_rate FROM g)
             |SELECT lang, n, n_pos, round(n_pos*1.0/n, 6) AS rate,
             |round((n_pos*1.0/n)/max_rate, 6) AS impact_ratio,
             |round(n_pos*1.0/n - overall_rate, 6) AS parity_diff,
             |(n_pos*1.0/n)/max_rate < 0.8 AS flagged
             |FROM g, r, o ORDER BY lang""".stripMargin.replace('\n', ' ')),
      doc = "per-language selection-rate audit of a length filter (disparate impact + parity)"),

    // ---- word burstiness (Church & Gale 1995): Fano factor of
    // per-doc counts over containing docs — separates topical content
    // words from Poisson-ish function words; the document-dispersion
    // axis next to Zipf (shape) and Gini (inequality)
    "q_token_burstiness" -> Q(
      (s, dir) => graft.operators.InfoTheory.burstiness(
          table(s, dir, "documents"), "doc_id", "text", minDf = 50)
        .orderBy(col("token")),
      Some("""WITH dt AS (SELECT doc_id AS d, unnest(string_split(text,' ')) AS token FROM documents),
             |c AS (SELECT d, token, count(*)::DOUBLE AS c FROM dt GROUP BY 1, 2),
             |m AS (SELECT token, count(*) AS df, sum(c)::BIGINT AS n_total,
             |  avg(c) AS mean, var_samp(c) AS v FROM c GROUP BY 1)
             |SELECT token, df, n_total, round(mean, 6) AS mean_tf,
             |round(v/mean, 6) AS fano
             |FROM m WHERE df >= 50 ORDER BY token""".stripMargin.replace('\n', ' ')),
      doc = "per-token burstiness (Fano factor of per-doc counts over containing docs)"),

    // ---- per-language token-frequency Gini: the Lorenz concentration
    // audit complementing q_zipf_slope (shape) with inequality. Exact
    // rank form — tie blocks make the tiebreak irrelevant to the sum.
    "q_token_gini" -> Q(
      (s, dir) => graft.operators.InfoTheory.tokenGini(
          table(s, dir, "documents"), "lang", "text")
        .withColumnRenamed("grp", "lang")
        .orderBy(col("lang")),
      Some("""WITH tok AS (SELECT lang, unnest(string_split(text,' ')) AS token FROM documents),
             |c AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY 1, 2),
             |r AS (SELECT lang, c, row_number() OVER (PARTITION BY lang ORDER BY c, token) AS i FROM c)
             |SELECT lang, count(*)::BIGINT AS n_types, sum(c)::BIGINT AS n_tokens,
             |round(2.0*sum(i*c)/(count(*)*sum(c)) - (count(*)+1.0)/count(*), 6) AS gini
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin.replace('\n', ' ')),
      doc = "per-language token-frequency Gini coefficient (Lorenz concentration)"),

    // ---- DoReMi-flavored domain reweighting (Xie 2023): excess bits
    // of the corpus-generalist bigram LM over each domain's specialist
    // LM -> tempered softmax + uniform blend. One exploded pass feeds
    // BOTH LMs (global counts re-agg the per-domain ones).
    "q_doremi_weights" -> Q(
      (s, dir) => graft.operators.InfoTheory.doremiWeights(
          table(s, dir, "documents"), "source", "text",
          tau = 0.5, epsilon = 0.1)
        .orderBy(col("src")),
      Some("""WITH t AS (SELECT source AS src, string_split(text,' ') AS w FROM documents),
             |b AS (SELECT src, w[i] AS w1, w[i]||' '||w[i+1] AS bgs FROM t, unnest(range(1, len(w))) AS r(i)),
             |und AS (SELECT src, w1, count(*) AS ud FROM b GROUP BY 1, 2),
             |bcd AS (SELECT src, bgs, count(*) AS bd FROM b GROUP BY 1, 2),
             |vd AS (SELECT src, count(*) AS nvd FROM und GROUP BY 1),
             |ung AS (SELECT w1, sum(ud) AS ug FROM und GROUP BY 1),
             |bcg AS (SELECT bgs, sum(bd) AS bgc FROM bcd GROUP BY 1),
             |vg AS (SELECT count(*) AS nvg FROM ung),
             |sc AS (SELECT b.src,
             |  -log2((bcg.bgc + 0.5)/(ung.ug + 0.5*vg.nvg)) AS bits_g,
             |  -log2((bcd.bd + 0.5)/(und.ud + 0.5*vd.nvd)) AS bits_d
             |  FROM b JOIN bcd ON bcd.src = b.src AND bcd.bgs = b.bgs
             |  JOIN und ON und.src = b.src AND und.w1 = b.w1
             |  JOIN bcg ON bcg.bgs = b.bgs JOIN ung ON ung.w1 = b.w1
             |  CROSS JOIN vg JOIN vd ON vd.src = b.src),
             |pd AS (SELECT src, count(*) AS n_bigrams, avg(bits_g) AS ga, avg(bits_d) AS da FROM sc GROUP BY 1),
             |k AS (SELECT count(*) AS kk, sum(exp((ga - da)/0.5)) AS z FROM pd)
             |SELECT src, n_bigrams, round(ga, 6) AS generalist_bits,
             |round(da, 6) AS specialist_bits, round(ga - da, 6) AS excess_bits,
             |round(0.9*exp((ga - da)/0.5)/z + 0.1/kk, 6) AS weight
             |FROM pd, k ORDER BY src""".stripMargin.replace('\n', ' ')),
      doc = "DoReMi-style domain weights from generalist-vs-specialist LM excess bits"),

    // ---- Monroe "Fightin' Words" log-odds with informative Dirichlet
    // prior: the distinctive vocabulary of each source vs the rest —
    // tf-idf's rare-word bias and raw log-odds' variance blowup both
    // corrected. One (src, term) agg is the only data-sized stage.
    "q_domain_logodds" -> Q(
      (s, dir) => graft.operators.InfoTheory.logOddsTerms(
          table(s, dir, "documents"), "source", "text", k = 3)
        .orderBy(col("src"), col("rank")),
      Some("""WITH st AS (SELECT source AS src, unnest(string_split(text,' ')) AS term FROM documents),
             |c AS (SELECT src, term, count(*)::DOUBLE AS yi FROM st GROUP BY 1, 2),
             |tt AS (SELECT term, sum(yi) AS yw FROM c GROUP BY 1),
             |s AS (SELECT src, sum(yi) AS ni FROM c GROUP BY 1),
             |g AS (SELECT sum(yw) AS n_all FROM tt),
             |z AS (SELECT c.src, c.term,
             |  round((ln((yi + 1000.0*yw/n_all)/(ni + 1000.0 - yi - 1000.0*yw/n_all))
             |       - ln((yw - yi + 1000.0*yw/n_all)/(n_all - ni + 1000.0 - (yw - yi) - 1000.0*yw/n_all)))
             |   / sqrt(1.0/(yi + 1000.0*yw/n_all) + 1.0/(yw - yi + 1000.0*yw/n_all)), 6) AS z
             |  FROM c JOIN tt USING (term) JOIN s USING (src), g),
             |r AS (SELECT src, term, z, row_number() OVER (PARTITION BY src ORDER BY z DESC, term) AS rank FROM z)
             |SELECT src, rank, term, z FROM r WHERE rank <= 3
             |ORDER BY src, rank""".stripMargin.replace('\n', ' ')),
      doc = "top-3 distinctive terms per source via Monroe log-odds (informative Dirichlet prior)"),

    // ---- Flesch readability: the length/syllable heuristic quality
    // filters bucket by — syllables via one aggregate-over-tokens HOF
    // (map-side, no explode), sentences via punctuation-run counting.
    "q_text_readability" -> Q(
      (s, dir) => graft.operators.TextAnalysis.readability(
          table(s, dir, "documents").filter(col("doc_id") < 200), "text")
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"), col("flesch"), col("fk_grade"))
        .orderBy(col("doc_id")),
      Some("""WITH b AS (SELECT doc_id, text, string_split(lower(text),' ') AS w
             |  FROM documents WHERE doc_id < 200),
             |m AS (SELECT doc_id,
             |  greatest(1, len(w))::DOUBLE AS nw,
             |  greatest(1, len(regexp_extract_all(text, '[.!?]+')))::DOUBLE AS ns,
             |  list_reduce(list_prepend(0, list_transform(w,
             |    t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))),
             |    (a,b) -> a + b)::DOUBLE AS sy
             |  FROM b)
             |SELECT doc_id, nw::BIGINT AS n_words, ns::BIGINT AS n_sentences,
             |  sy::BIGINT AS n_syllables,
             |  round(206.835 - 1.015*nw/ns - 84.6*sy/nw, 4) AS flesch,
             |  round(0.39*nw/ns + 11.8*sy/nw - 15.59, 4) AS fk_grade
             |FROM m ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "Flesch reading ease + FK grade per doc (vowel-group syllable heuristic)"),

    // ---- tokenizer fertility: chars-per-token by language — the
    // "how expensive is each language to tokenize" planning number
    "q_token_fertility" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        d.select(col("lang"), col("n_chars"),
            size(graft.operators.TextAnalysis.tokens(col("text"))).as("toks"),
            graft.operators.TextAnalysis.estTokenCount(col("text")).as("bpe"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("toks")).cast("long").as("n_tokens"),
            round(sum(col("n_chars")).cast("double") / sum(col("toks")), 4)
              .as("chars_per_token"),
            round(sum(col("bpe")).cast("double") / sum(col("toks")), 4)
              .as("bpe_fertility"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
             |round(sum(n_chars)::DOUBLE / sum(len(string_split(text, ' '))), 4)
             |  AS chars_per_token,
             |round(sum((len(string_split(text,' ')) + ceil(length(text)/16.0))::INTEGER)::DOUBLE
             |  / sum(len(string_split(text, ' '))), 4) AS bpe_fertility
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace('\n', ' ')),
      doc = "per-language whitespace-token and BPE-estimate fertility ratios"),

    // ---- content-defined chunking: boundary after char i when
    // md5(trailing 16 chars) starts '0' (P=1/16 -> ~16-char chunks on
    // this fixture) — insertion-robust chunk-dedup prep
    "q_text_cdc_chunks" -> Q(
      (s, dir) => graft.operators.TextAnalysis.cdcChunks(
          table(s, dir, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", window = 16, prefix = "0")
        .select(col("id").as("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_len"), md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
             |  WHERE doc_id < 100),
             |b AS (SELECT doc_id, text, n,
             |  list_filter(range(16, n + 1),
             |    i -> md5(text[i-15:i]) LIKE '0%') AS bps FROM d),
             |s AS (SELECT doc_id, text,
             |  list_prepend(1, list_transform(bps, x -> x + 1)) AS starts,
             |  list_append(bps, n) AS ends FROM b),
             |c AS (SELECT doc_id, unnest(range(1, len(starts) + 1)) AS k,
             |  starts, ends, text FROM s),
             |ch AS (SELECT doc_id, k, text[starts[k]:ends[k]] AS chunk FROM c
             |  WHERE ends[k] >= starts[k])
             |SELECT doc_id,
             |(row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1)::INT
             |  AS chunk_idx,
             |length(chunk)::INT AS chunk_len, md5(chunk) AS chunk_md5
             |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin.replace('\n', ' ')),
      doc = "content-defined chunk boundaries (md5 window rule) per document"),

    // ---- Kneser-Ney bigram scoring: the standard smoothing (backoff
    // mass from continuation counts, not uniform alpha)
    "q_kn_perplexity" -> Q(
      (s, dir) => {
        // serve from the maintained bigram-count artifact (IndexStore
        // lm_counts) — knFromCounts is the arithmetic the inline form
        // delegates to, so the inline-replay oracle holds unchanged
        val d = table(s, dir, "documents")
        graft.operators.TextAnalysis.knFromCounts(
            graft.operators.IndexStore.lmBigrams(s, dir),
            d.filter(col("doc_id") < 100), "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_bigrams"), col("kn_bits"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM tok,
             |  unnest(range(1, len(w))) AS r(i) WHERE len(w) >= 2),
             |cb AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
             |ctx AS (SELECT w1, sum(c) AS cu, count(*) AS n1f FROM cb GROUP BY 1),
             |cont AS (SELECT w2, count(*) AS n1b FROM cb GROUP BY 1),
             |t AS (SELECT count(*) AS nt FROM cb),
             |sc AS (SELECT doc_id, coalesce(cb.c, 0) AS c, ctx.cu, ctx.n1f,
             |  coalesce(cont.n1b, 0) AS n1b, nt
             |  FROM bg LEFT JOIN cb USING (w1, w2) LEFT JOIN ctx USING (w1)
             |  LEFT JOIN cont USING (w2), t
             |  WHERE doc_id < 100),
             |p AS (SELECT doc_id, CASE WHEN cu IS NOT NULL
             |  THEN (greatest(c - 0.75, 0) + 0.75 * n1f * (n1b::DOUBLE / nt)) / cu
             |  ELSE n1b::DOUBLE / nt END AS p FROM sc)
             |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
             |round(avg(-log2(greatest(p, 1e-10))), 6) AS kn_bits
             |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "interpolated Kneser-Ney bigram bits-per-bigram, docs < 100 scored on the full-corpus LM"),

    // ---- Jelinek-Mercer interpolated perplexity: the smoothing triad's
    // third member (add-alpha / KN / JM), served from the SAME
    // maintained lm_counts artifact — context totals re-agg from the
    // bigram table, scoring is key joins only. FULL oracle.
    "q_jm_perplexity" -> Q(
      (s, dir) => {
        val d = table(s, dir, "documents")
        graft.operators.TextAnalysis.jmFromCounts(
            graft.operators.IndexStore.lmBigrams(s, dir),
            graft.operators.IndexStore.lmUnigrams(s, dir),
            d.filter(col("doc_id") < 100), "doc_id", "text", lambda = 0.75)
          .select(col("id").as("doc_id"), col("n_bigrams"), col("jm_bits"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM tok,
             |  unnest(range(1, len(w))) AS r(i) WHERE len(w) >= 2),
             |cb AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
             |ctx AS (SELECT w1, sum(c) AS cw1 FROM cb GROUP BY 1),
             |uni AS (SELECT t AS w, count(*) AS u FROM
             |  (SELECT unnest(w) AS t FROM tok) z GROUP BY 1),
             |tt AS (SELECT sum(u)::DOUBLE AS nt FROM uni),
             |sc AS (SELECT doc_id,
             |  0.75 * coalesce(cb.c::DOUBLE / ctx.cw1, 0) +
             |  0.25 * coalesce(uni.u::DOUBLE, 0) / nt AS p
             |  FROM bg LEFT JOIN cb USING (w1, w2) LEFT JOIN ctx USING (w1)
             |  LEFT JOIN uni ON uni.w = bg.w2, tt WHERE doc_id < 100)
             |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
             |round(avg(-log2(greatest(p, 1e-10))), 6) AS jm_bits
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "Jelinek-Mercer interpolated bigram bits-per-bigram from the maintained count artifact"),

    // ---- CDC chunk dedup: boilerplate planted at VARYING offsets still
    // dedupes because content-defined boundaries re-align (the case
    // fixed-window chunking structurally misses)
    "q_dedup_cdc_chunks" -> Q(
      (s, dir) => {
        val p = "standard boilerplate disclaimer repeated across many " +
          "documents verbatim and long enough to span several chunks"
        val d = table(s, dir, "documents").filter(col("doc_id") < 150)
          .select(col("doc_id"),
            concat(when(col("doc_id") % 3 === 0, lit(p + " ")).otherwise(lit("")),
              col("text")).as("text"))
        val chunks = graft.operators.TextAnalysis.cdcChunks(
            d, "doc_id", "text", window = 16, prefix = "0")
          .select(col("id"), col("chunk_idx"), col("chunk").as("chunk_text"))
        graft.operators.Dedup.chunkDedupFrom(chunks, sep = "")
          .select(col("id").as("doc_id"), col("n_chunks"), col("n_kept"),
            col("text_clean"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |  (CASE WHEN doc_id % 3 = 0 THEN 'standard boilerplate disclaimer repeated across many documents verbatim and long enough to span several chunks ' ELSE '' END)
             |  || text AS text FROM documents WHERE doc_id < 150),
             |dd AS (SELECT doc_id, text, length(text) AS n FROM d),
             |b AS (SELECT doc_id, text, n, list_filter(range(16, n + 1),
             |  i -> md5(text[i-15:i]) LIKE '0%') AS bps FROM dd),
             |s AS (SELECT doc_id, text,
             |  list_prepend(1, list_transform(bps, x -> x + 1)) AS starts,
             |  list_append(bps, n) AS ends FROM b),
             |c0 AS (SELECT doc_id, unnest(range(1, len(starts) + 1)) AS k,
             |  starts, ends, text FROM s),
             |ch AS (SELECT doc_id, k, text[starts[k]:ends[k]] AS chunk_text
             |  FROM c0 WHERE ends[k] >= starts[k]),
             |cx AS (SELECT doc_id,
             |  row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS chunk_idx,
             |  chunk_text FROM ch),
             |kk AS (SELECT *, row_number() OVER (PARTITION BY chunk_text
             |  ORDER BY doc_id, chunk_idx) AS rn FROM cx)
             |SELECT doc_id, count(*) AS n_chunks,
             |sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             |string_agg(CASE WHEN rn = 1 THEN chunk_text END, ''
             |  ORDER BY chunk_idx) AS text_clean
             |FROM kk GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace('\n', ' ')),
      doc = "chunk dedup over content-defined boundaries: planted boilerplate dedupes at any offset"),

    // ---- Gear rolling-hash chunking: the O(n) scale path (native
    // codegen). r13: FULL oracle after all — the gear table is a fixed
    // deterministic constant (embedded below verbatim from
    // TextKernels.gearTable, one source of truth) and the 64-bit
    // wrapping hash replays in DuckDB as a HUGEINT fold mod 2^64
    // ((h & mask) == 0 is h mod 2^bits = 0 on the unsigned value).
    // The per-char list_reduce carries [h, position, ...boundaries] as
    // one HUGEINT-list accumulator. Also spec-gated vs a per-char
    // reference implementation.
    "q_text_gear_chunks" -> Q(
      (s, dir) => graft.operators.TextAnalysis.gearChunks(
          table(s, dir, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", bits = 5)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_len"), md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some {
        val gt = graft.functions.TextKernels.gearTable
          .map(v => java.lang.Long.toUnsignedString(v) + "::HUGEINT")
          .mkString("[", ", ", "]")
        // newH appears twice in the lambda (DuckDB lambdas cannot bind
        // intermediates); mask 2^5 = 32, wrap at 2^64
        val newH = "(acc[1]*2 + g[(e[1] % 256 + 1)::INT]) % " +
          "18446744073709551616::HUGEINT"
        s"""WITH gt AS (SELECT $gt AS g),
           |d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
           |f AS (SELECT doc_id, text, length(text) AS n,
           |  list_reduce(list_prepend([0::HUGEINT, 0::HUGEINT],
           |    list_transform(range(1, length(text) + 1),
           |      i -> [unicode(text[i])::HUGEINT, 0::HUGEINT])),
           |    (acc, e) -> list_concat(
           |      [$newH, acc[2] + 1],
           |      CASE WHEN ($newH) % 32 = 0
           |        THEN list_append(acc[3:], acc[2] + 1)
           |        ELSE acc[3:] END)) AS st
           |  FROM d, gt),
           |b AS (SELECT doc_id, text, n,
           |  list_transform(st[3:], x -> x::BIGINT) AS bps FROM f),
           |s AS (SELECT doc_id, text,
           |  list_prepend(1::BIGINT, list_transform(bps, x -> x + 1)) AS starts,
           |  list_append(bps, n::BIGINT) AS ends FROM b),
           |c0 AS (SELECT doc_id, unnest(range(1, len(starts) + 1)) AS k,
           |  starts, ends, text FROM s),
           |ch AS (SELECT doc_id, k, text[starts[k]:ends[k]] AS chunk
           |  FROM c0 WHERE ends[k] >= starts[k]),
           |cx AS (SELECT doc_id,
           |  (row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1)::INT AS chunk_idx,
           |  chunk FROM ch)
           |SELECT doc_id, chunk_idx, length(chunk)::INT AS chunk_len,
           |md5(chunk) AS chunk_md5
           |FROM cx ORDER BY doc_id, chunk_idx""".stripMargin.replace('\n', ' ')
      },
      doc = "O(n) Gear-hash content-defined chunks (HUGEINT-fold oracle replaying the wrapping rolling hash)")
  )
}
