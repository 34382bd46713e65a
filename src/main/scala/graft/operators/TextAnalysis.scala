package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernel for large-scale training-data pipelines:
  * tokenization, shingling, MinHash signatures, SimHash, language-ID
  * heuristic, quality scoring, fingerprinting.
  *
  * Everything is pure Column composition over codegen'd higher-order
  * functions — no UDFs — so whole-stage codegen applies and the same
  * logic is expressible 1:1 in the DuckDB oracle (md5 is the shared
  * deterministic hash across engines; MinHash uses *lexicographic min of
  * md5 hex strings* as its random-permutation proxy, which both engines
  * order identically).
  */
object TextAnalysis {

  /** whitespace tokenization (corpus is pre-normalized lowercase) */
  def tokens(text: Column): Column = split(text, " ")

  /** n-word shingles (distinct), empty when the doc is shorter than n —
    * native codegen expression (see graft.functions.WordShingles) */
  def shingles(w: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.Bridge.expression(w), n))

  /** MinHash signature: for seed i, min_{s in shingles} md5("i:" || s).
    * One column per hash; lexicographic min over hex strings. */
  def minhashSig(sh: Column, numHashes: Int): Seq[Column] =
    (0 until numHashes).map(i => array_min(transform(sh, s => md5(concat(lit(s"$i:"), s)))))

  /** LSH band keys over a signature: bands of `rowsPerBand` consecutive
    * hashes, each band hashed to one key. */
  def bandKeys(sig: Seq[Column], rowsPerBand: Int): Seq[Column] =
    sig.grouped(rowsPerBand).map(g => md5(concat(g: _*))).toSeq

  /** 64-bit SimHash as a '0'/'1' string: bit 4d+j (0-indexed) is the
    * majority vote of bit (3-j) of hex digit d+1 of md5(token) over all
    * tokens — every bit of the first 16 md5 nibbles, so the signature
    * space is 2^64. (An earlier 16-bit variant used only each nibble's
    * high bit; its 2^16 keyspace made banded hamming blocking quadratic
    * at corpus scale — band buckets held n/256 docs — and stopped
    * discriminating at ~10^5 docs. 64 bits gives 2^32-key bands at
    * maxDist=1: sparse buckets, linear candidates, same posture as the
    * aHash64 image fingerprint.)
    * Native codegen expression (graft.functions.SimHash64): one tight
    * loop hashes each token ONCE and accumulates all 64 bit counts —
    * the composed-HOF equivalent (md5 transform + 64-wide
    * aggregate/zip_with) evaluates interpreted and allocates a
    * 64-element array per token (measured ~6x slower); DedupSpec gates
    * value-equality between the two forms. */
  def simhash64(w: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.SimHash64(
        org.apache.spark.sql.graft.Bridge.expression(w)))

  /** token-set Jaccard similarity between two distinct-element arrays */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  // ---- language-ID heuristic (marker-word scoring) ----
  // The heuristic is the operator; its accuracy on synthetic text is not
  // the point — determinism and scale are. Marker sets are arbitrary but
  // fixed, tiebreak order is en > fr > es > zh > de.
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "data"),
    "fr" -> Seq("query", "table"),
    "es" -> Seq("row", "line"),
    "zh" -> Seq("hash", "key"),
    "de" -> Seq("group", "sort"))

  def markerScore(w: Column, markers: Seq[String]): Column =
    size(filter(w, t => markers.map(m => t === m).reduce(_ || _)))

  /** per-language marker scores, one pass over the token array each */
  def langScores(w: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, ms) => lang -> markerScore(w, ms) }

  /** argmax + tiebreak over ALREADY-MATERIALIZED score columns. Callers
    * should stage [[langScores]] in their own projection first: `filter`
    * HOFs evaluate interpreted (outside codegen) with no CSE, and this
    * expression references each score ~7 times — inlined, that's ~35
    * interpreted token-scans per row instead of 5. */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("unknown")) { case ((lang, sc), els) =>
      when(sc === best && best > 0, lang).otherwise(els)
    }
  }

  // ---- quality scoring ----
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** deterministic [0,1] quality score from length, lexical diversity,
    * stopword density and mean word length */
  def qualityScore(text: Column): Column = {
    val w = tokens(text)
    val nTok = size(w).cast("double")
    val uniqRatio = size(array_distinct(w)) / nTok
    val stopRatio = markerScore(w, stopwords) / nTok
    val avgWordLen = (length(text) - nTok + 1) / nTok
    round(
      least(nTok / 50.0, lit(1.0)) * 0.3 +
      uniqRatio * 0.3 +
      (lit(1.0) - stopRatio) * 0.2 +
      least(avgWordLen / 6.0, lit(1.0)) * 0.2, 6)
  }

  // ---- Gopher/C4-style rule-based quality filtering ----
  // Public heuristics from the Gopher (Rae et al. 2021, §A1.1) and C4
  // (Raffel et al. 2020) corpus-cleaning recipes, adapted to fixed
  // thresholds. Pure Column math over whitespace tokens and physical
  // lines — map-side only, no shuffle, scales linearly with bytes.

  /** whitespace tokenization for possibly multi-line text */
  def wsTokens(text: Column): Column = split(text, "\\s+")

  /** physical lines of a document */
  def docLines(text: Column): Column = split(text, "\n")

  /** Per-doc rule metrics. Callers should stage these in their own
    * projection before computing [[ruleFlags]] — `filter`/`aggregate`
    * HOFs evaluate interpreted with no CSE (same caveat as
    * [[langIdFromScores]]). */
  def ruleMetrics(text: Column): Seq[(String, Column)] = {
    val ws = wsTokens(text)
    val ln = docLines(text)
    val nW = size(ws).cast("double")
    val nL = size(ln).cast("double")
    Seq(
      "n_words" -> size(ws),
      "mean_word_len" -> round(
        aggregate(transform(ws, x => length(x)), lit(0), (a, x) => a + x)
          .cast("double") / nW, 6),
      "alpha_frac" -> round(size(filter(ws, x => x.rlike("[a-z]"))) / nW, 6),
      "bullet_frac" -> round(size(filter(ln, x => x.startsWith("- "))) / nL, 6),
      "ellipsis_frac" -> round(size(filter(ln, x => x.endsWith("..."))) / nL, 6),
      "stop_count" -> markerScore(ws, stopwords))
  }

  /** Unicode SCRIPT profile — the data-card / spam-signal audit every
    * multilingual corpus runs: per-doc letter counts by script (Latin,
    * Cyrillic, Han, Arabic — the buckets that separate the major
    * crawl languages) plus total letters and the dominant-script
    * fraction (mixed-script docs are a classic spam/obfuscation
    * signal). Pure map-side regexp counts — codegen'd, no shuffle; the
    * "other" bucket is total-minus-named, since RE2 (the oracle
    * dialect) has no character-class intersection. Java `\p{IsXxx}`
    * and RE2 `\p{Xxx}` resolve the same script property. */
  def scriptProfile(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    def cnt(re: String) = regexp_count(t, lit(re))
    val named = Seq(
      "n_latin" -> cnt("\\p{IsLatin}"), "n_cyrillic" -> cnt("\\p{IsCyrillic}"),
      "n_han" -> cnt("\\p{IsHan}"), "n_arabic" -> cnt("\\p{IsArabic}"))
    df.select(col(idCol) +: (("n_letters" -> cnt("\\p{L}")) +: named)
        .map { case (n, c) => c.as(n) }: _*)
      .withColumn("n_other",
        col("n_letters") - col("n_latin") - col("n_cyrillic") -
          col("n_han") - col("n_arabic"))
      .withColumn("dominant_frac", when(col("n_letters") > 0, round(
        greatest(col("n_latin"), col("n_cyrillic"), col("n_han"),
          col("n_arabic"), col("n_other")).cast("double") / col("n_letters"), 6)))
  }

  /** Pass/fail flag per rule, given a resolver from metric name to the
    * ALREADY-MATERIALIZED metric column. Thresholds follow Gopher:
    * word count bounds, mean-word-length band, ≥90% alphabetic words,
    * ≤50% bullet lines, ≤30% ellipsis lines, ≥2 stopwords. */
  def ruleFlags(m: String => Column): Seq[(String, Column)] = Seq(
    "f_words" -> (m("n_words") >= 20 && m("n_words") <= 100000),
    "f_mean_len" -> (m("mean_word_len") >= 2.5 && m("mean_word_len") <= 8.0),
    "f_alpha" -> (m("alpha_frac") >= 0.9),
    "f_bullet" -> (m("bullet_frac") <= 0.5),
    "f_ellipsis" -> (m("ellipsis_frac") <= 0.3),
    "f_stop" -> (m("stop_count") >= 2))

  /** conjunction of all rule flags */
  def ruleKeep(flags: Seq[Column]): Column = flags.reduce(_ && _)

  /** bag fingerprint: md5 over the sorted distinct token set — catches
    * reordered / repeated-token duplicates (rolling-hash analog) */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** crude BPE-ish token-count estimate: word tokens + ceil(chars/4) blend */
  def estTokenCount(text: Column): Column =
    size(tokens(text)) + ceil(length(text) / lit(16.0)).cast("int")

  /** non-distinct word bigrams — repetition detection must keep
    * duplicates (unlike [[shingles]], which dedups for set Jaccard) */
  def bigrams(w: Column): Column =
    when(size(w) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))

  /** Bigram language-model scoring — the CCNet-style (Wenzek et al.
    * 2020, public) perplexity quality filter, with the n-gram LM trained
    * in-engine instead of imported: add-α smoothed bigram model
    * P(w2|w1) = (B(w1w2)+α) / (U(w1)+α·V) over the `train` corpus, and
    * each `score` doc rated by bits-per-bigram −avg log2 P (perplexity
    * = 2^bits). Low bits = fluent/common text; high bits = rare or
    * garbled — the standard pretraining quality signal.
    *
    * Plan shape: two explode+hash-agg passes build the count tables
    * (both orders-of-magnitude smaller than the corpus), the vocab size
    * rides in as a broadcast single-row frame (no driver action), and
    * scoring is explode + two equi-joins against the count tables +
    * per-doc re-agg. OOV-safe via left joins (α smoothing keeps P > 0).
    */
  def bigramLmScore(train: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    // One-shot convenience form: derive the two count tables inline and
    // score through [[bigramLmFromCounts]] — identical arithmetic to the
    // maintained-state path BY CONSTRUCTION (the serving shape; repeated
    // or corpus-scale scoring should read persisted counts instead,
    // [[writeLmCounts]] / [[readLmBigrams]] / [[readLmUnigrams]]).
    val trainToks = train.select(tokens(col(textCol)).as("w"))
    val uni = trainToks.select(explode(col("w")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("u"))
    val big = trainToks.select(explode(knPairs(col("w"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    bigramLmFromCounts(big, uni, score, idCol, textCol, alpha)
  }

  /** [[bigramLmScore]] against MAINTAINED count state — `bigrams` =
    * (w1, w2, c) from [[readLmBigrams]], `unigrams` = (w1, u) from
    * [[readLmUnigrams]]: the add-α model's whole training state is two
    * algebraic count tables, so scoring a corpus pays explode + two key
    * joins + a per-doc re-agg and NEVER re-explodes the train corpus —
    * the same serving posture as [[knFromCounts]], and the fix for
    * q_ccnet_buckets retraining its LM inline on every run (6.7s of
    * which two corpus explodes were the bulk). */
  def bigramLmFromCounts(bigrams: org.apache.spark.sql.DataFrame,
      unigrams: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val vocab = unigrams.agg(count(lit(1)).as("nv"))
    // FLOP-bound scoring (explode + broadcast LM joins) over a narrow
    // doc scan: spread the input or the whole chain runs single-task
    val docBg = graft.core.Par.spread(score)
      .select(col(idCol).as("id"), explode(knPairs(tokens(col(textCol)))).as("p"))
      .select(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    docBg.join(bigrams, Seq("w1", "w2"), "left")
      .join(unigrams, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("id"),
        (-log2((coalesce(col("c"), lit(0L)) + lit(alpha)) /
          (coalesce(col("u"), lit(0L)) + lit(alpha) * col("nv")))).as("bits"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("bits")), 6).as("bits_per_bigram"))
  }

  /** Interpolated Kneser-Ney bigram scoring — the STANDARD n-gram
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1999) upgrading the
    * add-α filter in [[bigramLmScore]]: instead of spreading α mass
    * uniformly over the vocabulary, the backoff weight of a word is its
    * CONTINUATION probability (how many distinct contexts it follows —
    * "Francisco" is frequent but follows almost nothing, so it backs
    * off near zero where add-α overrates it). With discount D:
    *   P(w2|w1) = (max(c(w1w2) − D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1·)
    *   Pcont(w2) = N1+(·w2) / N1+(··)
    * Unseen contexts fall back to Pcont; the per-context distribution
    * sums to exactly 1 (spec-gated). Per doc: −avg log2 P.
    *
    * Plan shape: one bigram-type aggregate over the train corpus feeds
    * four consumers (counts + context/continuation/type re-aggs);
    * scoring is explode + three key joins + per-doc re-agg. No driver
    * action. Score-once convenience form — repeated or corpus-scale
    * scoring should maintain count state instead ([[writeKnCounts]] /
    * [[absorbKnCounts]] / [[knFromCounts]]), which explodes the corpus
    * once per absorb and reads only bounded tables per score. */
  def knBigramLmScore(train: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, eps: Double = 1e-10): org.apache.spark.sql.DataFrame = {
    // One-shot inline form: the bigram-type table materializes through
    // an EAGER localCheckpoint, so the corpus pays its scan+explode
    // ONCE and the scorer's four consumers read the (much smaller)
    // checkpointed table. localCheckpoint — not persist — because a
    // persist here would pin cache with no release handle (the ksGaps
    // leak this repo already fixed once); checkpoint blocks are
    // reclaimed by the ContextCleaner when the frame becomes
    // unreachable. Anything scoring repeatedly should still use the
    // MAINTAINED state ([[writeKnCounts]] / [[absorbKnCounts]] /
    // [[knFromCounts]]): one explode per absorb, zero per score.
    // Spec-gated equal to 1e-9 between the two forms.
    val cb = train.select(explode(knPairs(tokens(col(textCol)))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    knFromCounts(cb, score, idCol, textCol, discount, eps)
  }

  /** Jelinek-Mercer interpolated bigram scoring (Jelinek & Mercer 1980)
    * — the third smoothing next to add-α ([[bigramLmFromCounts]]) and
    * Kneser-Ney ([[knFromCounts]]), all serving from the SAME
    * maintained count artifact:
    *   P(w2|w1) = λ·c(w1w2)/c(w1·) + (1−λ)·U(w2)/N
    * the fixed-weight linear interpolation between the ML bigram and
    * the unigram — simpler than KN's discounting, stronger than add-α's
    * uniform mass. A context unseen in training backs off entirely to
    * the unigram term; OOV words hit the same eps floor as
    * [[knFromCounts]]. Prefer λ with an exact binary 1−λ (0.75, 0.5)
    * so both engines' complements agree bit-for-bit.
    *
    * Serving shape: context totals c(w1·) are ONE bigram-table re-agg
    * (never a corpus scan); scoring = explode + three key joins +
    * per-doc re-agg — zero train-corpus re-explodes, the maintained-
    * state posture. Returns (id, n_bigrams, jm_bits), 6dp. */
  def jmFromCounts(bigrams: org.apache.spark.sql.DataFrame,
      unigrams: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75, eps: Double = 1e-10): org.apache.spark.sql.DataFrame = {
    require(lambda > 0 && lambda < 1, "lambda must be in (0,1)")
    val ctx = bigrams.groupBy(col("w1")).agg(sum(col("c")).as("cw1"))
    val tot = unigrams.agg(sum(col("u")).cast("double").as("nt"))
    val docBg = score
      .select(col(idCol).as("id"), explode(knPairs(tokens(col(textCol)))).as("p"))
      .select(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val p = lit(lambda) * coalesce(col("c").cast("double") / col("cw1"), lit(0.0)) +
      lit(1 - lambda) * coalesce(col("u2").cast("double"), lit(0.0)) / col("nt")
    docBg.join(bigrams, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(unigrams.select(col("w1").as("w2"), col("u").as("u2")), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("id"), (-log2(greatest(p, lit(eps)))).as("bits"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("bits")), 6).as("jm_bits"))
  }

  private def knPairs(w: Column): Column =
    when(size(w) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(1), size(w) - 1),
        i => struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2"))))

  // ---- maintained KN count state (the [[Dsir.writeCounts]] LSM
  // posture): bigram counts are algebraic sums, so an append absorbs as
  // ONE O(delta) segment write — history text is never re-exploded.
  // The distinct-count derivatives KN needs (context fan-out N1+(w1·),
  // continuation fan-in N1+(·w2), type total N1+(··)) are NOT sums
  // across segments, but they re-derive from the MERGED bigram table —
  // bigram-type-table-sized re-aggs, never corpus scans.

  /** materialize a train corpus's bigram counts: the `batch=base`
    * segment (streaming absorbs use lineage-keyed segment names) */
  def writeKnCounts(train: org.apache.spark.sql.DataFrame, textCol: String,
      dir: String): Unit = {
    graft.streaming.Lsm.resetDir(dir)
    graft.streaming.Lsm.absorbSegment(knSegment(train, textCol), dir, "base")
  }

  /** Absorb appended docs: count ONLY the delta, write its segment.
    * `segment` keys the write ([[graft.streaming.Lsm.absorbSegment]]):
    * re-absorbing the same delta under the same key is a no-op rewrite,
    * which is what makes the streaming maintainer's at-least-once
    * foreachBatch replay safe — counts are algebraic, so a blind
    * append would double-count forever. */
  def absorbKnCounts(delta: org.apache.spark.sql.DataFrame, textCol: String,
      dir: String, segment: String): Unit =
    graft.streaming.Lsm.absorbSegment(knSegment(delta, textCol), dir, segment)

  /** merge-on-read current bigram counts (w1, w2, c) — one groupBy IS
    * the algebraic merge of however many segments accumulated */
  def readKnCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.streaming.Lsm.readSegments(spark, dir)
      .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c"))

  private def knSegment(docs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(explode(knPairs(tokens(col(textCol)))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))

  // ---- maintained add-α LM state: the add-α model's whole training
  // state is bigram counts + UNIGRAM counts (U(w1) counts every token
  // occurrence — doc-final tokens included — so it does NOT derive from
  // the bigram table) + vocab size (a row count of the unigram table).
  // Both tables are algebraic sums, so the same LSM segment posture as
  // the KN counts applies: one O(delta) segment write per append,
  // lineage-keyed so at-least-once replay can't double-count.

  private def uniSegment(docs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(explode(tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c"))

  /** materialize a train corpus's add-α LM counts (bigram + unigram
    * LSM sub-dirs) as the `batch=base` segments */
  def writeLmCounts(train: org.apache.spark.sql.DataFrame, textCol: String,
      dir: String): Unit = {
    writeKnCounts(train, textCol, s"$dir/bigrams")
    graft.streaming.Lsm.resetDir(s"$dir/unigrams")
    graft.streaming.Lsm.absorbSegment(
      uniSegment(train, textCol), s"$dir/unigrams", "base")
  }

  /** absorb appended docs into BOTH count tables (one O(delta) segment
    * each); `segment` keys the writes so replay is a no-op rewrite */
  def absorbLmCounts(delta: org.apache.spark.sql.DataFrame, textCol: String,
      dir: String, segment: String): Unit = {
    absorbKnCounts(delta, textCol, s"$dir/bigrams", segment)
    graft.streaming.Lsm.absorbSegment(
      uniSegment(delta, textCol), s"$dir/unigrams", segment)
  }

  /** merge-on-read current bigram counts (w1, w2, c) — also exactly the
    * table [[knFromCounts]] serves from, so one maintained artifact
    * backs BOTH the add-α and the Kneser-Ney scorer */
  def readLmBigrams(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    readKnCounts(spark, s"$dir/bigrams")

  /** merge-on-read current unigram counts (w1, u) */
  def readLmUnigrams(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.streaming.Lsm.readSegments(spark, s"$dir/unigrams")
      .groupBy(col("w1")).agg(sum(col("c")).as("u"))

  /** [[knBigramLmScore]] against a maintained bigram-count table
    * (`counts` = (w1, w2, c), from [[readKnCounts]]) — the serving
    * shape: context/continuation/type tables derive from `counts`
    * (bounded re-aggs), scoring is explode + three key joins + per-doc
    * re-agg. Identical arithmetic to the inline form by construction
    * (the inline form calls this). */
  def knFromCounts(counts: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, eps: Double = 1e-10): org.apache.spark.sql.DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0,1)")
    val cb = counts
    val ctx = cb.groupBy(col("w1"))
      .agg(sum(col("c")).as("cu"), count(lit(1)).as("n1f"))
    val cont = cb.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val types = cb.agg(count(lit(1)).as("nt"))
    val docBg = score
      .select(col(idCol).as("id"), explode(knPairs(tokens(col(textCol)))).as("p"))
      .select(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val pcont = coalesce(col("n1b"), lit(0L)).cast("double") / col("nt")
    val p = when(col("cu").isNotNull,
      (greatest(coalesce(col("c"), lit(0L)) - discount, lit(0.0)) +
        lit(discount) * col("n1f") * pcont) / col("cu"))
      .otherwise(pcont)
    docBg.join(cb, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(types))
      .select(col("id"), (-log2(greatest(p, lit(eps)))).as("bits"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("bits")), 6).as("kn_bits"))
  }

  /** Good-Turing frequency-of-frequencies smoothing (Good 1953; the
    * SGT preprocessing of Gale & Sampson 1995) — the smoothing family's
    * third member next to add-α and Kneser-Ney, and the standard answer
    * to "how much probability mass belongs to tokens we have NEVER
    * seen": for each observed frequency class r, the Turing-adjusted
    * count r* = (r+1)·N_{r+1}/N_r, and the unseen (r = 0) class gets
    * total mass N_1/N. Serves from the SAME maintained unigram count
    * artifact the other scorers use — no corpus re-explode.
    *
    * Output, one row per class r = 0..maxR: (r, n_r, r_star,
    * raw_mass, smoothed_mass), 6dp. The r = 0 row reports the unseen
    * mass (n_r = 0 — the unseen TYPE count is unknowable; r_star NULL).
    * Classes whose successor class is empty (N_{r+1} = 0, common in the
    * sparse high-r tail) keep r* = r — the standard truncation before
    * fitting a smoothed law to the tail.
    *
    * Scale shape: the input count table is vocab-sized; ONE hash agg to
    * the frequency-of-frequencies table (classes-sized, tiny), a
    * self-join on r+1, and a broadcast 1-row total.
    *
    * `counts`: any (item, count) table — maintained unigram counts, a
    * bigram table, shingle counts; `countCol` names the count. */
  def goodTuring(counts0: org.apache.spark.sql.DataFrame,
      countCol: String = "u", maxR: Int = 10): org.apache.spark.sql.DataFrame = {
    require(maxR >= 1, "need at least class r = 1")
    // an OBSERVED count table may still carry zero-count rows (a
    // maintained/decayed artifact that absorbed deletes): those items
    // are unseen by definition, and keeping them would emit a second
    // r = 0 class row inconsistent with the N_1/N unseen-mass formula
    val counts = counts0.filter(col(countCol) >= 1)
    val u = col(countCol).cast("long")
    val nr = counts.groupBy(u.as("r")).agg(count(lit(1)).as("n_r"))
    val tot = counts.agg(
      sum(u).cast("double").as("__n"),
      coalesce(sum(when(u === 1, lit(1L))), lit(0L)).as("__n1"))
    val nxt = nr.select((col("r") - 1).as("r"), col("n_r").as("__nr1"))
    val observed = nr.join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .filter(col("r") <= maxR)
      .select(col("r").cast("long").as("r"), col("n_r"),
        round(when(col("__nr1").isNotNull,
            (col("r") + 1) * col("__nr1").cast("double") / col("n_r"))
          .otherwise(col("r").cast("double")), 6).as("r_star"),
        round(col("r") * col("n_r") / col("__n"), 6).as("raw_mass"),
        round(when(col("__nr1").isNotNull,
            (col("r") + 1) * col("__nr1").cast("double") / col("__n"))
          .otherwise(col("r") * col("n_r") / col("__n")), 6).as("smoothed_mass"))
    val unseen = tot.select(lit(0L).as("r"), lit(0L).as("n_r"),
      lit(null).cast("double").as("r_star"),
      lit(0.0).as("raw_mass"),
      round(col("__n1").cast("double") / col("__n"), 6).as("smoothed_mass"))
    unseen.unionByName(observed)
  }

  /** Overlapping token-window chunking (pretraining/RAG prep): one row
    * per (doc, chunk); chunk i covers tokens [1 + i*stride,
    * 1 + i*stride + chunkSize - 1], stride = chunkSize - overlap; the
    * final chunk may be shorter. Map-side only (sequence + posexplode) —
    * no shuffle, scales linearly with corpus bytes. */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    docs.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol), col("__w"),
        posexplode(sequence(lit(1), size(col("__w")), lit(stride)))
          .as(Seq("chunk_idx", "__start")))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__w"), col("__start"), lit(chunkSize)).as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).as("n_chunk_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  /** Content-defined chunking (the FastCDC/rolling-hash idea behind
    * insertion-robust dedup): a chunk boundary falls AFTER character i
    * whenever the md5 of the trailing `window`-char substring starts
    * with `prefix` — a content-local rule, so inserting text early in a
    * document shifts only the chunks it touches and every later chunk
    * re-aligns (fixed-size chunking shifts ALL of them, defeating
    * chunk-level dedup across edits). Expected chunk length is
    * 16^len(prefix) characters. Boundary hash = md5 so a SQL oracle
    * replays it verbatim; at 100 TB the same rule compiles to one
    * rolling-hash pass (the HOF here recomputes the window per
    * position, O(n·window) map-side — still shuffle-free).
    *
    * Output: (id, chunk_idx, chunk) with chunks concatenating back to
    * the original text; docs shorter than `window` are one chunk. */
  def cdcChunks(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int = 16,
      prefix: String = "00"): org.apache.spark.sql.DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(prefix.nonEmpty && prefix.matches("[0-9a-f]+"), "prefix is lowercase hex")
    val t = col(textCol)
    val n = length(t)
    // boundary positions (1-based char index the chunk ENDS at); Spark's
    // sequence(a, b) DESCENDS when a > b, so guard the short-doc case
    val bps = when(n >= window,
      filter(sequence(lit(window), n),
        i => md5(t.substr(i - lit(window - 1), lit(window)))
          .startsWith(prefix)))
      .otherwise(array().cast("array<int>"))
    chunksFromBoundaries(docs, idCol, t, bps)
  }

  /** Gear-hash content-defined chunking — the TRUE O(n) rolling form of
    * [[cdcChunks]] (one table lookup + shift + add per char, native
    * codegen [[graft.functions.GearBoundaries]]) for when the corpus is
    * too big to pay a hash per position. Different boundary rule than
    * the md5-window (so no SQL oracle — spec-gated against a
    * per-char Scala reference instead); same insertion-robustness and
    * reassembly laws. Expected chunk length 2^bits chars. */
  def gearChunks(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, bits: Int = 8): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val bps = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.GearBoundaries(
        org.apache.spark.sql.graft.Bridge.expression(t), bits))
    chunksFromBoundaries(docs, idCol, t, bps)
  }

  /** slice `t` at 1-based boundary END positions `bps` into dense
    * (id, chunk_idx, chunk) rows — shared by both chunkers */
  private def chunksFromBoundaries(docs: org.apache.spark.sql.DataFrame,
      idCol: String, t: Column, bps: Column): org.apache.spark.sql.DataFrame = {
    val n = length(t)
    val starts = concat(array(lit(1)), transform(bps, b => b + 1))
    val ends = concat(bps, array(n))
    docs.select(col(idCol).as("id"),
        filter(zip_with(starts, ends, (s, e) =>
          when(e >= s, t.substr(s, e - s + 1))), c => c.isNotNull).as("__cs"))
      // a boundary on the final character leaves an empty tail slot —
      // dropped BEFORE numbering so chunk_idx is dense. An EMPTY text
      // filters to zero slots; restore one "" chunk so the doc never
      // silently vanishes from chunked output (or from a chunk-dedup
      // rebuild downstream)
      .select(col("id"),
        posexplode(when(size(col("__cs")) === 0, array(lit("")))
          .otherwise(col("__cs")))
          .as(Seq("chunk_idx", "chunk")))
  }

  /** Sequence packing (pretraining batch prep): assign every doc to a
    * packed bin of at most `maxTokens` tokens, minimizing padding waste.
    * First-fit-decreasing inside each of `numShards` md5-keyed shards
    * (genuine per-group imperative logic — the rare flatMapGroups
    * case), so packing is embarrassingly parallel: one shuffle on the
    * shard key, and bin ids are globally unique as
    * (shard << 32 | local bin). The shard key is the ENGINE-INDEPENDENT
    * md5 fold (the [[graft.sources.Batches.concatChunkPack]] posture,
    * r14 — a Spark-hash partition id made the assignment depend on
    * cluster parallelism, which barred a SQL oracle), so the whole
    * packing REPLAYS: DuckDB walks each shard's (n desc, id) order
    * through the identical first-fit fold as a recursive CTE. FFD
    * within a shard wastes at most ~2/9 over that shard's optimum;
    * cross-shard packing would serialize the corpus for a few percent
    * of padding. Docs longer than `maxTokens` get a dedicated bin
    * (callers chunk them first — [[chunkTokens]]).
    *
    * Sizing: one task holds ONE shard's (id, n) rows in memory (the
    * same per-task footprint the previous per-partition form had at
    * partitions == shards) — size `numShards` to the cluster, roughly
    * corpusRows × 16 bytes / numShards per task; the default 32
    * matches the local parallelism.
    * Output: (id, bin_id, n_tokens). */
  def packSequences(docs: org.apache.spark.sql.DataFrame, idCol: String,
      nTokensCol: String, maxTokens: Int,
      numShards: Int = 32): org.apache.spark.sql.DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(numShards > 0, "numShards must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val shard = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long"),
      lit(numShards.toLong)).cast("int")
    docs.select(col(idCol).cast("long").as("id"),
        col(nTokensCol).cast("int").as("n"), shard.as("s"))
      .as[(Long, Int, Int)]
      .groupByKey(_._3)
      .flatMapGroups { (sh, it) =>
        // FFD: longest-first (id tiebreak keeps packing deterministic)
        val rows = it.toArray.sortBy { case (id, n, _) => (-n, id) }
        val space = scala.collection.mutable.ArrayBuffer.empty[Int]
        rows.iterator.map { case (id, n, _) =>
          val b =
            if (n >= maxTokens) { space += 0; space.length - 1 }
            else space.indexWhere(_ >= n) match {
              case -1 => space += (maxTokens - n); space.length - 1
              case i => space(i) -= n; i
            }
          (id, (sh.toLong << 32) | b.toLong, n)
        }
      }
      .toDF("id", "bin_id", "n_tokens")
  }

  /** Exact top-`vocabSize` corpus vocabulary with dense ids 0..V-1
    * (count desc, token asc — fully deterministic). The top-k is
    * TakeOrderedAndProject over a map-side-combined hash-agg; the id
    * assignment windows over the ALREADY-LIMITED vocab frame (≤ V rows,
    * [[BoundedWindow]]-enforced), never the corpus.
    * Output: (token, n, tok_id). */
  def vocabulary(train: org.apache.spark.sql.DataFrame, textCol: String,
      vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val top = train.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(vocabSize)
    BoundedWindow.rank(top, "tok_id", vocabSize, zeroBased = true,
      col("n").desc, col("token"))
      .withColumn("tok_id", col("tok_id").cast("int"))
  }

  /** Tokenizer-apply: encode each doc's token sequence as an int-id
    * array against a trained [[vocabulary]] (the text→ids step every
    * training pipeline runs after tokenizer training; OOV → `oovId`).
    * The vocab is vocab-sized, not corpus-sized, so the token→id join
    * broadcasts; token order is restored by ONE groupBy(id) re-agg that
    * sorts (pos, id) structs map-side — no window over the corpus.
    * Output: (id, n_tokens, n_oov, token_ids). */
  def encodeWithVocab(train: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      vocabSize: Int, oovId: Int = -1): org.apache.spark.sql.DataFrame = {
    val vocab = vocabulary(train, textCol, vocabSize).select("token", "tok_id")
    docs.select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .withColumn("tid", coalesce(col("tok_id"), lit(oovId)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("tok_id").isNull, 1)).as("n_oov"),
        transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
          s => s.getField("tid")).as("token_ids"))
  }

  /** Model-input materialization — the last hop before tensors:
    * fixed-length (input_ids, attention_mask) from the variable-length
    * id sequences of [[encodeWithVocab]]. Truncates to `maxLen`,
    * right-pads with `padId`; the mask marks real tokens 1, padding 0;
    * `n_real` is the unpadded length. Map-side array math only — no
    * shuffle at any corpus size. Compose with [[packSequences]] /
    * sharded export downstream. The sequence() calls are guarded
    * (Spark's sequence(1, 0) COUNTS DOWN; it is not empty). */
  def modelInputs(encoded: org.apache.spark.sql.DataFrame, idsCol: String,
      maxLen: Int, padId: Int = 0): org.apache.spark.sql.DataFrame = {
    require(maxLen >= 1, "maxLen must be positive")
    def rep(v: Int, cnt: Column): Column =
      when(cnt > 0, transform(sequence(lit(1), cnt), _ => lit(v)))
        .otherwise(array().cast("array<int>"))
    val idsT = slice(col(idsCol).cast("array<int>"), 1, maxLen)
    val n = size(idsT)
    encoded
      .withColumn("n_real", n)
      .withColumn("input_ids", concat(idsT, rep(padId, lit(maxLen) - n)))
      .withColumn("attention_mask", concat(rep(1, n), rep(0, lit(maxLen) - n)))
  }

  /** Smoothed TF-IDF term weighting (the scikit-learn formula, public:
    * idf = ln((1+N)/(1+df)) + 1), top `perDoc` terms per doc. Plan
    * shape: one (id, term) hash-agg for tf; df derives from tf's
    * (already distinct) pairs by a second, much smaller agg; the
    * corpus-wide doc count rides as a broadcast one-row frame — the
    * corpus shuffles exactly once. The per-doc rank windows over one
    * doc's distinct terms (bounded by doc length), never the corpus.
    * `broadcastDf` (default) broadcasts the vocabulary-sized df table
    * into the scoring join; set it false when the corpus vocabulary
    * exceeds broadcast size (a 100M-term web crawl) — the scoring join
    * then shuffles on `term`, which tf is already partitioned by.
    * Output: (id, term, tf, tfidf, rk). */
  def tfIdf(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, perDoc: Int,
      broadcastDf: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(if (broadcastDf) broadcast(df) else df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") *
        (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + 1), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rk") <= perDoc)
      .select(col("id"), col("term"), col("tf"), col("tfidf"), col("rk"))
  }

  /** PMI co-occurrence statistics (the association measure behind
    * word-embedding / collocation pipelines, Church & Hanks 1990):
    * unordered token pairs within a +-`window` skip-window, scored
    * pmi = log2(P(a,b) / (P(a)P(b))). Pair generation is MAP-SIDE
    * (nested array transform + one explode — never a positions
    * self-join, which would be quadratic per doc), so the corpus
    * shuffles exactly once into the (a,b) hash-agg; unigram counts are
    * vocabulary-sized broadcasts and both totals ride as broadcast
    * one-row frames. Output: (a, b, c_ab, pmi) for pairs with
    * c_ab >= minCount. */
  def pmiPairs(docs: org.apache.spark.sql.DataFrame, textCol: String,
      window: Int = 2, minCount: Long = 2): org.apache.spark.sql.DataFrame = {
    require(window >= 1, "window must be >= 1")
    val base = docs.select(tokens(col(textCol)).as("w"))
    val prs = base.select(explode(flatten(
        transform(sequence(lit(1), size(col("w"))), i =>
          transform(
            filter(sequence(lit(1), lit(window)), d => d + i <= size(col("w"))),
            d => struct(
              least(element_at(col("w"), i), element_at(col("w"), i + d)).as("a"),
              greatest(element_at(col("w"), i), element_at(col("w"), i + d)).as("b"))))))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // checkpoint the two BOUNDED count tables (pair types / vocab):
    // cooc feeds the total-pair agg AND the main select, uni feeds two
    // broadcast joins AND the token total — unmaterialized, the corpus
    // pair-explode would run twice and the tokenize+explode three times
    // (measured 11.3s at sf0.1; the corpus passes were the bulk)
    val cooc = prs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val uni = base.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tPair = cooc.agg(sum(col("c_ab")).as("t_pair"))
    val tTok = uni.agg(sum(col("c")).as("t_tok"))
    cooc.filter(col("c_ab") >= minCount)
      .join(broadcast(uni.select(col("tok").as("a"), col("c").as("c_a"))), Seq("a"))
      .join(broadcast(uni.select(col("tok").as("b"), col("c").as("c_b"))), Seq("b"))
      .crossJoin(broadcast(tPair)).crossJoin(broadcast(tTok))
      .select(col("a"), col("b"), col("c_ab"),
        round(log2((col("c_ab") / col("t_pair")) /
          ((col("c_a") / col("t_tok")) * (col("c_b") / col("t_tok")))), 6).as("pmi"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS copy-detection algorithm): hash every
    * k-token gram, then from each sliding window of `window` gram
    * hashes select the MINIMUM (rightmost on ties); the distinct
    * selected hashes are the document's fingerprint set. The paper's
    * guarantee: any shared token run of length >= window + k − 1
    * yields at least one SHARED fingerprint (no false negatives above
    * the threshold), at an expected density of 2/(window+1) — the
    * position-robust sparse signature line/chunk dedup lacks.
    *
    * Hashes are the repo's md5-60bit fold ([[Dedup.md5Hash60]]), so
    * the whole selection replays 1:1 in SQL. Map-side only (HOF over
    * the token array, O(grams · window) per doc — a deque kernel
    * would be O(grams), worth it only if profiling ever says so);
    * no shuffle, pure scan at any scale. Docs shorter than k tokens
    * fingerprint empty; docs with fewer grams than `window` winnow
    * one whole-doc window. Returns (id, n_grams, fingerprints) with
    * fingerprints sorted ascending. */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3,
      window: Int = 4): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(window >= 1, "window must be >= 1")
    // per-doc gram-hash + window-min towers are FLOP-bound over a
    // narrow scan — spread across cores (core.Par; measured 5
    // single-task stages at bench scale before)
    val staged = graft.core.Par.spread(docs)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__w"))
      .withColumn("__m", greatest(size(col("__w")) - (k - 1), lit(0)))
      // guard __m = 0 explicitly: Spark's sequence(1, 0) DESCENDS
      .withColumn("__g", when(col("__m") >= 1,
        transform(sequence(lit(1), col("__m")),
          i => Dedup.md5Hash60(concat_ws(" ", slice(col("__w"), i, lit(k))))))
        .otherwise(array().cast("array<long>")))
    // per window j: argmin (value, rightmost tie — `<=` keeps the later
    // position on equal hashes, the paper's robust-winnowing rule)
    val nw = greatest(col("__m") - (window - 1), lit(1))
    val sel = transform(sequence(lit(1), nw), j =>
      aggregate(
        sequence(j, least(j + (window - 1), col("__m"))),
        struct(lit(Long.MaxValue).as("v"), lit(0L).as("p")),
        (acc, p) => when(element_at(col("__g"), p.cast("int")) <= acc("v"),
          struct(element_at(col("__g"), p.cast("int")).as("v"),
            p.cast("long").as("p")))
          .otherwise(acc)))
    staged
      .withColumn("fingerprints", when(col("__m") >= 1,
        array_sort(array_distinct(transform(sel, s => s("v")))))
        .otherwise(array().cast("array<long>")))
      .select(col("id"), col("__m").cast("long").as("n_grams"),
        col("fingerprints"))
  }

  /** Phrase-dictionary tagging — the MULTI-WORD generalization of
    * [[blocklistScore]] (real blocklists are thousands of entries, many
    * of them phrases): every boundary-valid occurrence of any dictionary
    * phrase via ONE Aho-Corasick automaton pass per row
    * ([[graft.functions.AhoCorasick]]) — O(n) per row regardless of
    * dictionary size, where a per-phrase regex or per-token IN filter
    * scales with the dictionary. Map-side, shuffle-free; the automaton
    * builds once on the driver and rides to codegen as a reference
    * object. Per doc: total occurrence count, distinct phrases hit, and
    * the flag at `minHits`. */
  def keywordTag(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, phrases: Seq[String],
      minHits: Long = 1L): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.gf.match_keywords(col(textCol), phrases).as("__m"))
      .select(col("id"),
        size(col("__m")).cast("long").as("n_hits"),
        size(array_distinct(col("__m"))).cast("long").as("n_phrases"))
      .withColumn("flagged", col("n_hits") >= minHits)

  /** Blocklist scoring — the wordlist-ratio safety/NSFW filter every
    * web-corpus pipeline runs before model-based scoring (C4 dropped
    * pages on a public "bad words" list; RefinedWeb/FineWeb keep a URL +
    * wordlist stage ahead of the classifiers). Per doc: token count,
    * blocklisted-token count, blocked fraction, and the `flagged`
    * decision at `threshold`. The list rides inside the plan as an array
    * literal — map-side, shuffle-free, codegen'd higher-order filter; at
    * 100 TB this is a pure scan. */
  def blocklistScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, blocklist: Seq[String],
      threshold: Double = 0.1): org.apache.spark.sql.DataFrame = {
    require(blocklist.nonEmpty, "blocklist must be non-empty")
    val listed = array(blocklist.map(lit): _*)
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
      .select(col("id"), size(col("w")).as("n_tokens"),
        size(filter(col("w"), t => array_contains(listed, t))).as("n_blocked"))
      .withColumn("blocked_frac",
        round(col("n_blocked") / greatest(col("n_tokens"), lit(1)), 6))
      .withColumn("flagged", col("blocked_frac") >= threshold)
  }

  /** Sentence-level statistics: split on a boundary regex, trim, drop
    * empties, then per doc report sentence count, mean words per
    * sentence, and the fraction of this doc's sentences that occur in
    * ≥2 documents corpus-wide — the sentence-granularity cousin of
    * RefinedWeb's line dedup signal (boilerplate sentences repeat across
    * pages; original prose does not). One explode + one sentence-key
    * aggregate + one equi-join back — the corpus-frequency table is the
    * only shuffle, keyed by sentence hash, and skew-safe because a
    * sentence repeated across the whole corpus still groups to a single
    * counter row. Docs with zero non-empty sentences produce no row
    * (there is nothing to average). */
  def sentenceStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      boundary: String = "[.!?]+"): org.apache.spark.sql.DataFrame = {
    val sents = df.select(col(idCol).as("id"),
      filter(transform(split(col(textCol), boundary), s => trim(s)),
        s => s =!= "").as("ss"))
    // shuffle fixed-width md5 keys, never the sentence text: the word
    // count is computed map-side before the join, so the corpus-freq
    // join moves (id, counts, 16-byte key) rows only — at 100 TB the
    // sentence strings stay in the scan stage
    val ex = sents.filter(size(col("ss")) > 0)
      .select(col("id"), size(col("ss")).as("n_sent"), explode(col("ss")).as("sent"))
      .select(col("id"), col("n_sent"),
        size(split(col("sent"), " ")).as("wc"), md5(col("sent")).as("h"))
    val freq = ex.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("n_docs"))
    ex.join(freq, "h")
      .groupBy(col("id"), col("n_sent"))
      .agg(
        round(avg(col("wc")), 6).as("avg_sent_words"),
        round(avg(when(col("n_docs") >= 2, 1.0).otherwise(0.0)), 6)
          .as("dup_sent_frac"))
      .select(col("id"), col("n_sent"), col("avg_sent_words"), col("dup_sent_frac"))
  }

  /** Flesch readability scoring (Flesch 1948 / Kincaid 1975 — the
    * length-and-syllable heuristic quality filters bucket text by):
    * per-row word, sentence and syllable counts plus Flesch reading
    * ease and Flesch-Kincaid grade level.
    *
    * Syllables use the standard vowel-group heuristic — per word,
    * max(1, count of maximal [aeiouy]+ runs) — computed inside ONE
    * codegen'd aggregate-over-tokens HOF (map-side, no explode);
    * sentences = max(1, count of [.!?]+ runs). Both regexes behave
    * identically in java.util.regex and RE2 — FULL oracle via the same
    * DuckDB list/regexp pipeline.
    *
    * Returns the input plus n_words / n_sentences / n_syllables /
    * flesch / fk_grade (4dp). */
  def readability(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val w = tokens(lower(col(textCol)))
    val nWords = greatest(lit(1), size(w)).cast("double")
    val nSents = greatest(lit(1),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))).cast("double")
    val nSyll = aggregate(w, lit(0), (acc, t) => acc +
      greatest(lit(1), size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))))
      .cast("double")
    df.withColumn("n_words", nWords.cast("long"))
      .withColumn("n_sentences", nSents.cast("long"))
      .withColumn("n_syllables", nSyll.cast("long"))
      .withColumn("flesch", round(lit(206.835) -
        lit(1.015) * nWords / nSents - lit(84.6) * nSyll / nWords, 4))
      .withColumn("fk_grade", round(lit(0.39) * nWords / nSents +
        lit(11.8) * nSyll / nWords - lit(15.59), 4))
  }

  /** ROUGE-N overlap scoring (Lin 2004 — the eval-contamination and
    * summary-quality overlap metric): clipped n-gram precision/recall/F1
    * between a candidate and a reference text carried on the SAME row.
    *
    * overlap = Σ_g min(count_cand(g), count_ref(g)) over the candidate's
    * DISTINCT n-grams — computed entirely with array HOFs
    * (transform/filter/aggregate), so the whole metric is MAP-SIDE: no
    * explode, no shuffle, no join. The gram arrays are MATERIALIZED as
    * temp columns before the aggregate: HOF lambdas evaluate their
    * argument subtree per element (no CSE inside lambda bodies), so
    * referencing the gram EXPRESSION from the min-count lambda would
    * rebuild tokenize+slice O(distinct grams) times per row — measured
    * 7.3s → 0.4s on a 100-pair bench slice. CollapseProject keeps the
    * temp alias because it is non-cheap and multiply referenced. Per-row
    * cost is O(|distinct grams| × (|cand|+|ref|)) string equalities with
    * document length bounded by contract — a pure scan at any corpus
    * size. The same HOF pipeline replays 1:1 in DuckDB list functions
    * (FULL oracle).
    *
    * Returns the input plus `rougeN_overlap / rougeN_prec / rougeN_rec /
    * rougeN_f1` (6dp; all 0 when either side has no n-grams). */
  def rougeN(pairs: org.apache.spark.sql.DataFrame, candCol: String,
      refCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n must be >= 1")
    def grams(c: Column): Column = {
      val w = tokens(c)
      when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          i => array_join(slice(w, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    }
    val (tmpC, tmpR) = (s"__rouge${n}_cg", s"__rouge${n}_rg")
    val (cg, rg) = (col(tmpC), col(tmpR))
    val overlap = aggregate(
      array_distinct(cg), lit(0),
      (acc, g) => acc + least(
        size(filter(cg, t => t === g)),
        size(filter(rg, t => t === g))))
    val p = s"rouge${n}_prec"
    val r = s"rouge${n}_rec"
    pairs
      .withColumn(tmpC, grams(col(candCol)))
      .withColumn(tmpR, grams(col(refCol)))
      .withColumn(s"rouge${n}_overlap", overlap.cast("long"))
      .withColumn(p, when(size(cg) > 0,
        round(col(s"rouge${n}_overlap") / size(cg), 6)).otherwise(0.0))
      .withColumn(r, when(size(rg) > 0,
        round(col(s"rouge${n}_overlap") / size(rg), 6)).otherwise(0.0))
      .withColumn(s"rouge${n}_f1",
        when(col(p) + col(r) > 0,
          round(lit(2.0) * col(p) * col(r) / (col(p) + col(r)), 6))
          .otherwise(0.0))
      .drop(tmpC, tmpR)
  }

  /** Skip-gram training pairs (Mikolov et al. 2013): every (center,
    * context) token pair within ±`window` positions — the input table
    * of word2vec/fastText-style embedding training. Entirely MAP-SIDE:
    * per position, the context tokens come from element_at over the
    * materialized token array at offsets −w..w (never a positions
    * self-join), then one explode emits the pairs. Returns
    * (id, pos, center, context) with pos 1-based. FULL oracle. */
  def skipGramPairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int = 2): org.apache.spark.sql.DataFrame = {
    require(window >= 1, "window must be >= 1")
    val offsets = ((-window to window).filter(_ != 0)).map(o => lit(o))
    docs
      .withColumn("__w", tokens(col(textCol)))
      .select(col(idCol), posexplode(col("__w")).as(Seq("pos0", "center")),
        col("__w"))
      .withColumn("pos", (col("pos0") + 1).cast("long"))
      .withColumn("context", explode(filter(
        transform(array(offsets: _*), o => element_at(col("__w"),
          when(col("pos") + o >= 1 && col("pos") + o <= size(col("__w")),
            (col("pos") + o).cast("int")).otherwise(lit(null)))),
        c => c.isNotNull)))
      .select(col(idCol), col("pos"), col("center"), col("context"))
  }

  /** BERT-style MLM masking plan (Devlin et al. 2019 §3.1): select
    * ~`maskProb` of token positions, then apply the 80/10/10 rule —
    * 80% replaced by `[MASK]`, 10% by a RANDOM token, 10% kept — and
    * return one row per SELECTED position: `(id, pos, token, action,
    * out)`. This is the batch-prep operator that turns a raw corpus
    * into masked-LM training targets; emitting only selected positions
    * keeps the output ~15% of the token count.
    *
    * All three draws (selection, action, random index) are
    * [[Sampling.hashUniform]] PRFs of `(id, pos, role, seed)` — fully
    * deterministic, reproducible across engines and re-runs, and
    * oracle-replayable in SQL, unlike rand(seed) whose value depends
    * on partition layout. The random replacement token is drawn from
    * the SAME document (position ceil(u·n)), keeping the operator
    * self-contained — no vocabulary broadcast, no second pass.
    *
    * Scale shape: ONE posexplode over the scan, three map-side hash
    * kernels, a selection filter — no shuffle, no join, no state. */
  def mlmMask(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maskProb: Double = 0.15,
      seed: String = "mlm"): org.apache.spark.sql.DataFrame = {
    require(maskProb > 0 && maskProb < 1, "maskProb must be in (0,1)")
    val w = tokens(col(textCol))
    import graft.operators.Sampling.hashUniform
    def key(role: String) =
      concat(col(idCol).cast("string"), lit(":"), col("pos"),
        lit(s":$role:$seed"))
    docs
      .select(col(idCol), posexplode(w).as(Seq("pos0", "token")),
        size(w).as("__n"), w.as("__w"))
      .withColumn("pos", (col("pos0") + 1).cast("long"))
      .filter(hashUniform(key("sel")) < maskProb)
      .withColumn("__ua", hashUniform(key("act")))
      .withColumn("action",
        when(col("__ua") <= 0.8, "mask")
          .when(col("__ua") <= 0.9, "random")
          .otherwise("keep"))
      .withColumn("out",
        when(col("action") === "mask", lit("[MASK]"))
          .when(col("action") === "random",
            element_at(col("__w"),
              ceil(hashUniform(key("pos")) * col("__n")).cast("int")))
          .otherwise(col("token")))
      .select(col(idCol), col("pos"), col("token"), col("action"), col("out"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022 — the FIM
    * augmentation code models train with): for ~`fimRate` of docs,
    * cut the text at two hash-chosen character offsets and emit the
    * PSM reordering `<|fim_pre|>prefix<|fim_suf|>suffix<|fim_mid|>middle`;
    * the rest pass through unchanged. Returns `(id, fim_applied, lo,
    * hi, out)`.
    *
    * The apply coin and both cut points are [[Sampling.hashUniform]]
    * PRFs of `(id, role, seed)` — deterministic, partition-independent,
    * SQL-replayable (the paper's uniform two-point split, quantized to
    * the md5-fold lattice). Cut offsets are CHARACTER positions
    * (substr semantics agree between Spark and DuckDB on the ASCII
    * corpus; both count code points, so the contract holds for any
    * non-combining text). Pure map over the scan — no shuffle, no
    * state, applies identically at any corpus size. */
  def fimTransform(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, fimRate: Double = 0.5,
      seed: String = "fim"): org.apache.spark.sql.DataFrame = {
    require(fimRate >= 0 && fimRate <= 1, "fimRate must be in [0,1]")
    import graft.operators.Sampling.hashUniformOpen
    def key(role: String) =
      concat(col(idCol).cast("string"), lit(s":$role:$seed"))
    val L = length(col(textCol))
    val c1 = floor(hashUniformOpen(key("cut1")) * L).cast("int")
    val c2 = floor(hashUniformOpen(key("cut2")) * L).cast("int")
    docs
      .withColumn("fim_applied",
        hashUniformOpen(key("apply")) < fimRate && L > lit(1))
      .withColumn("lo", when(col("fim_applied"), least(c1, c2)))
      .withColumn("hi", when(col("fim_applied"), greatest(c1, c2)))
      .withColumn("out",
        when(col("fim_applied"), concat(
          lit("<|fim_pre|>"), col(textCol).substr(lit(1), col("lo")),
          lit("<|fim_suf|>"), col(textCol).substr(col("hi") + 1, L - col("hi")),
          lit("<|fim_mid|>"), col(textCol).substr(col("lo") + 1, col("hi") - col("lo"))))
          .otherwise(col(textCol)))
      .select(col(idCol), col("fim_applied"), col("lo"), col("hi"), col("out"))
  }

  /** Sentence-BLEU (Papineni et al. 2002) between a candidate and a
    * reference carried on the same row: clipped modified n-gram
    * precision for n = 1..`maxN`, brevity penalty min(1, e^(1−r/c)),
    * and the unsmoothed geometric mean — BLEU is 0 whenever any p_n
    * is (the standard method0 convention; smoothing variants change
    * the number, not the plan). The self-BLEU diversity audit and the
    * eval-overlap screen are this operator pointed at sampled pairs.
    *
    * Same map-side posture as [[rougeN]]: every gram array is
    * MATERIALIZED once per row before the clipped-count aggregate
    * (HOF lambdas re-evaluate their argument subtree per element —
    * the recompute trap measured at 10× on rougeN), so the per-row
    * cost is O(maxN × |grams|²) string equalities on bounded-length
    * docs and the plan is a pure scan — no explode, no shuffle, no
    * join at any corpus size. FULL oracle: the identical list
    * pipeline replays in DuckDB.
    *
    * Returns the input plus `bleu_prec1..N`, `bleu_bp`, `bleu` (6dp). */
  def bleu(pairs: org.apache.spark.sql.DataFrame, candCol: String,
      refCol: String, maxN: Int = 4): org.apache.spark.sql.DataFrame = {
    require(maxN >= 1, "maxN must be >= 1")
    def grams(c: Column, n: Int): Column = {
      val w = tokens(c)
      when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          i => array_join(slice(w, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    }
    val withG = (1 to maxN).foldLeft(pairs) { (df, n) =>
      df.withColumn(s"__bleu_cg$n", grams(col(candCol), n))
        .withColumn(s"__bleu_rg$n", grams(col(refCol), n))
    }
    val withP = (1 to maxN).foldLeft(withG) { (df, n) =>
      val (cg, rg) = (col(s"__bleu_cg$n"), col(s"__bleu_rg$n"))
      val overlap = aggregate(
        array_distinct(cg), lit(0),
        (acc, g) => acc + least(
          size(filter(cg, t => t === g)),
          size(filter(rg, t => t === g))))
      df.withColumn(s"bleu_prec$n",
        when(size(cg) > 0, round(overlap / size(cg), 6)).otherwise(0.0))
    }
    val c = size(col("__bleu_cg1")).cast("double")
    val r = size(col("__bleu_rg1")).cast("double")
    val bp = when(c >= r, 1.0)
      .when(c > 0, exp(lit(1.0) - r / c))
      .otherwise(0.0)
    val allPos = (1 to maxN).map(n => col(s"bleu_prec$n") > 0).reduce(_ && _)
    val logMean = (1 to maxN).map(n => log(col(s"bleu_prec$n"))).reduce(_ + _) / maxN
    withP
      .withColumn("bleu_bp", round(bp, 6))
      .withColumn("bleu",
        when(allPos, round(col("bleu_bp") * exp(logMean), 6)).otherwise(0.0))
      .drop((1 to maxN).flatMap(n => Seq(s"__bleu_cg$n", s"__bleu_rg$n")): _*)
  }
}
