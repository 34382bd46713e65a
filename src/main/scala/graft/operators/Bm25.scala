package graft.operators

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import graft.core.Op
import scala.collection.mutable

/** BM25 text relevance (SURVEY.md §2.9; reference BM25 index
  * `docs/docs/advanced/tql.md:170-176`, search routing
  * `cpp/deeplake_pg/index_search.cpp:135-169`).
  *
  * The reference maintains a BM25 index (df, avgdl) incrementally and
  * keeps its statistics in memory; we keep the corpus stats as
  * DataFrames — the "index tables" (doc_stats, term_df) next to the
  * postings — and hold (n_docs, avgdl) on the driver once per index
  * ([[Index.corpus]]). The TQL top-k route ([[topScores]]) reads only
  * its query terms' df rows and binds df, n_docs and avgdl as literals;
  * the frame form ([[scoreWithIndex]]) broadcast-joins them. Scoring
  * never shuffles the corpus: postings are built with one explode +
  * hash-agg, query terms filter the postings scan, and the final sum
  * groups by doc id.
  *
  * Formula (Okapi BM25, k1=1.2, b=0.75, Lucene-style idf):
  *   idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
  *   score   = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  /** Session-level BM25 index routing for the dialect's
    * `ORDER BY BM25_SIMILARITY(col, 'query') DESC LIMIT k` path — the
    * BM25 arm of the reference's
    * check_for_top_k_binary_function_search (`cpp/tql/tql.hpp:171`,
    * BM25 search routing `cpp/deeplake_pg/index_search.cpp:135-169`).
    * Keyed by (table, text column); `idCol` names the table's id column
    * candidates join back on. */
  object Catalog extends RouteCatalog {
    final case class Entry(index: Index, idCol: String)

    def register(table: String, textCol: String, idCol: String, index: Index): Unit =
      put(table, textCol, Entry(index, idCol))
  }

  /** postings: one row per (doc, term) with tf and dl.
    * Repartition by doc id first — a single-partition scan would
    * serialize tokenize+explode (see Dedup.shingled note). */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .select(col("doc_id"), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** corpus stats: (N, avgdl) single row + (term, df) table */
  def corpusStats(post: DataFrame): (DataFrame, DataFrame) = {
    val docStats = post.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val termDf = post.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    (docStats, termDf)
  }

  /** Maintained BM25 index: the postings plus both stats tables — what
    * the reference keeps incrementally (`index_search.cpp:135-169`).
    * Built once ([[buildIndex]]/[[save]]), scored many ([[scoreWithIndex]]). */
  final case class Index(postings: DataFrame, docStats: DataFrame, termDf: DataFrame) {
    /** (n_docs, avgdl) held on the driver, collected once per index */
    lazy val corpus: Row = docStats.select(col("n_docs"), col("avgdl")).head()
  }

  def buildIndex(docs: DataFrame, idCol: String, textCol: String): Index = {
    val post = postings(docs, idCol, textCol)
    val (docStats, termDf) = corpusStats(post)
    Index(post, docStats, termDf)
  }

  /** Persist as three parquet tables. The postings are written FIRST and
    * the stats derived from the written parquet, so the corpus is
    * tokenized exactly once across all three artifacts. Each table is a
    * `batch=base` base segment so [[graft.streaming.StreamingText]] can
    * absorb batch-id-keyed delta segments into the same directory
    * (parquet discovery rejects mixed flat + partitioned layouts). */
  def save(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("postings", "doc_stats", "term_df").foreach { n =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$n")
      if (fs.exists(p)) fs.delete(p, true)
    }
    postings(docs, idCol, textCol).write.mode("overwrite")
      .parquet(s"$dir/postings/batch=base")
    val post = spark.read.parquet(s"$dir/postings").drop("batch")
    val (docStats, termDf) = corpusStats(post)
    docStats.write.mode("overwrite").parquet(s"$dir/doc_stats/batch=base")
    termDf.write.mode("overwrite").parquet(s"$dir/term_df/batch=base")
  }

  /** O(delta) index maintenance on append: tokenize ONLY the new docs,
    * then merge stats algebraically — doc counts and per-term document
    * frequencies are additive across disjoint doc sets, and avgdl merges
    * as a count-weighted mean. The existing corpus is never re-read;
    * this is the reference's incremental BM25 maintenance
    * (`cpp/deeplake_pg/sync_worker.cpp`) in DataFrame form. */
  def appendToIndex(index: Index, newDocs: DataFrame, idCol: String,
      textCol: String): Index = {
    val post2 = postings(newDocs, idCol, textCol)
    val (ds2, tdf2) = corpusStats(post2)
    val docStats = index.docStats.select(col("n_docs"), col("avgdl"))
      .unionByName(ds2)
      .agg((sum(col("n_docs") * col("avgdl")) / sum(col("n_docs"))).as("avgdl"),
        sum(col("n_docs")).as("n_docs"))
      .select(col("n_docs"), col("avgdl"))
    val termDf = index.termDf.unionByName(tdf2)
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    Index(index.postings.unionByName(post2), docStats, termDf)
  }

  /** O(delta) maintenance on DELETE (the right-to-be-forgotten path):
    * no re-tokenization — the deleted docs' own postings already carry
    * exactly the counts to subtract. Stats reverse algebraically:
    * n_docs and per-term df subtract, avgdl un-mixes as a
    * count-weighted mean; terms whose df reaches 0 drop from the
    * dictionary. The surviving corpus is never re-read. The id set is
    * a bounded request batch (AQE broadcasts it); a full-corpus purge
    * should rebuild instead. */
  def deleteFromIndex(index: Index, deletedIds: DataFrame,
      idKey: String): Index = {
    val ids = deletedIds.select(col(idKey).as("doc_id")).distinct()
    val deadPost = index.postings.join(ids, Seq("doc_id"), "left_semi")
    val (dsDead, tdfDead) = corpusStats(deadPost)
    val docStats = index.docStats.select(col("n_docs"), col("avgdl"))
      .crossJoin(broadcast(dsDead.select(col("n_docs").as("__dn"),
        coalesce(col("avgdl"), lit(0.0)).as("__davg"))))
      .select((col("n_docs") - col("__dn")).as("n_docs"),
        when(col("n_docs") - col("__dn") > 0,
          (col("n_docs") * col("avgdl") - col("__dn") * col("__davg")) /
            (col("n_docs") - col("__dn")))
          .otherwise(lit(0.0)).as("avgdl"))
    val termDf = index.termDf
      .join(tdfDead.select(col("term"), col("df").as("__ddf")), Seq("term"), "left")
      .select(col("term"), (col("df") - coalesce(col("__ddf"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    Index(index.postings.join(ids, Seq("doc_id"), "left_anti"), docStats, termDf)
  }

  /** Load with MERGE-ON-READ over batch segments: postings union
    * naturally (per-doc rows); doc_stats rows (one per absorbed batch)
    * merge as a count-weighted mean; term_df rows sum per term. A
    * single batch=base layout reduces to the identity, so flat saves
    * load unchanged — and an append absorb can land as ONE new batch
    * segment per table (no delete-rewrite window for readers). */
  def load(spark: SparkSession, dir: String): Index = {
    val ds = spark.read.parquet(s"$dir/doc_stats").drop("batch")
      .agg((sum(col("n_docs") * col("avgdl")) / sum(col("n_docs"))).as("avgdl"),
        sum(col("n_docs")).as("n_docs"))
      .select(col("n_docs"), col("avgdl"))
    // one segment is already one row per term: reading it as is lets a
    // df lookup run as a plain filtered scan, with no shuffle
    val tdfDir = new org.apache.hadoop.fs.Path(s"$dir/term_df")
    val segments = tdfDir.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(tdfDir).count(_.getPath.getName.startsWith("batch="))
    val tdf0 = spark.read.parquet(s"$dir/term_df").drop("batch")
    val tdf = if (segments <= 1) tdf0
      else tdf0.groupBy(col("term")).agg(sum(col("df")).as("df"))
    Index(spark.read.parquet(s"$dir/postings").drop("batch"), ds, tdf)
  }

  /** one posting's BM25 contribution from its tf and dl, given its
    * term's df and the corpus's n_docs and avgdl */
  private def termScore(nDocs: Column, df: Column, avgdl: Column): Column =
    log(lit(1.0) + (nDocs - df + 0.5) / (df + 0.5)) *
      (col("tf") * (K1 + 1)) /
      (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / avgdl))

  /** WHERE pre-filter composition (index_holder.hpp:33): only postings
    * of ids in `idFilter`'s first column are scored; corpus stats (idf,
    * avgdl) stay global, exactly as an index search over a filter
    * bitmap. A semi-join keeps each posting once, so duplicate ids need
    * no distinct and its shuffle. */
  private def filteredPostings(index: Index, idFilter: Option[DataFrame]): DataFrame =
    idFilter match {
      case Some(ids) =>
        index.postings.join(ids.select(col(ids.columns.head).as("doc_id")),
          Seq("doc_id"), "left_semi")
      case None => index.postings
    }

  /** BM25 scores for a bag of query terms against a maintained index:
    * (doc_id, score) for every doc containing at least one query term.
    * The term filter pushes into the postings scan; df and corpus stats
    * broadcast — the corpus itself is never re-tokenized. */
  def scoreWithIndex(index: Index, queryTerms: Seq[String],
      idFilter: Option[DataFrame] = None): DataFrame = {
    val lowered = queryTerms.distinct
    filteredPostings(index, idFilter).filter(col("term").isin(lowered: _*))
      .join(broadcast(index.termDf.filter(col("term").isin(lowered: _*))), "term")
      .crossJoin(broadcast(index.docStats))
      .select(col("doc_id"),
        termScore(col("n_docs"), col("df"), col("avgdl")).as("term_score"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
  }

  /** Most (id, score) pairs a routed top-k collects and binds into its
    * answer plan as literals. A statement whose k best plus the k-th's
    * ties exceed it (a large LIMIT, or a coarse ROUND that ties most
    * matching docs) answers through [[scoreWithIndex]]'s join instead. */
  val MaxCandidates = 1024

  /** The best BM25 scores for ONE query, planned on the driver: (doc_id,
    * score) pairs, best first, for the k best docs plus every doc whose
    * score rounds to the k-th's at `scale` decimals (Spark's ROUND; None
    * compares raw scores). Those are exactly the docs an `ORDER BY
    * ROUND(score, scale) DESC, … LIMIT k` can return, whatever its later
    * keys, and the scores equal [[scoreWithIndex]]'s. The reference
    * likewise scores from in-memory statistics and fetches only the
    * candidate rows (`cpp/deeplake_pg/index_search.cpp:135-169`). None,
    * before any job when k alone is too many, when the pairs would
    * exceed [[MaxCandidates]].
    *
    * One job (`bm25:df`, a filtered scan of a loaded index's term_df)
    * reads the query terms' df; n_docs and avgdl come from
    * [[Index.corpus]]. One job (`bm25:candidates`) scores only those
    * terms' postings with df, n_docs and avgdl bound as literals in
    * [[scoreWithIndex]]'s expression, sums per doc through an RDD
    * shuffle (one job, where the SQL aggregate runs its map stage as a
    * job of its own), and streams each reduce partition through a
    * [[BestWithTies]]. The sum adds a doc's terms in scan order, as the
    * SQL aggregate's partial sum does. The global k-th rounded score is
    * at least each partition's, so every doc tied with it comes back:
    * the tie window is complete by construction, with no rerun. Docs
    * with a null id drop first, as the join drops them. */
  def topScores(index: Index, queryTerms: Seq[String], k: Int, scale: Option[Int],
      idFilter: Option[DataFrame] = None): Option[Seq[(Any, Double)]] = {
    if (k > MaxCandidates) return None
    val sc = index.postings.sparkSession.sparkContext
    val (dfs, corpus) = Op.scope(sc, "bm25:df") {
      (index.termDf.filter(col("term").isin(queryTerms.distinct: _*))
        .select(col("term"), col("df")).collect().map(r => r.getString(0) -> r.get(1)).toSeq,
        index.corpus)
    }
    if (k <= 0 || dfs.isEmpty || corpus.isNullAt(0)) return Some(Nil)
    // a map literal is one generated-code constant, so requests with
    // different terms reuse the compiled scan
    val df = map(dfs.flatMap { case (t, d) => Seq(lit(t), lit(d)) }: _*)(col("term"))
    val scored = filteredPostings(index, idFilter)
      .filter(col("term").isin(dfs.map(_._1): _*))
      .select(col("doc_id"), termScore(lit(corpus.get(0)), df, lit(corpus.get(1))))
    val idType = scored.schema.head.dataType
    val parts = Op.scope(sc, "bm25:candidates") {
      scored.queryExecution.toRdd.filter(!_.isNullAt(0))
        .map(r => (r.copy().get(0, idType), r.getDouble(1)))
        .reduceByKey(_ + _)
        .mapPartitions { docs =>
          val best = new BestWithTies(k, scale)
          docs.foreach(best.add)
          Iterator.single(best.result)
        }
        .collect()
    }
    val best = new BestWithTies(k, scale)
    parts.foreach(_.foreach(best.add))
    val top = best.result
    val toId = CatalystTypeConverters.createToScalaConverter(idType)
    if (top.length > MaxCandidates) None
    else Some(top.map { case (id, s) => (toId(id), s) })
  }

  /** The k best (id, score) pairs of a stream, plus every pair whose
    * score rounds to the k-th's at `scale` decimals, in bounded memory:
    * at most [[MaxCandidates]] + 1 pairs. A min-heap holds the k best so
    * far and `ties` the pairs past them that round to the heap's worst.
    * The k-th score only rises and ROUND is monotone, so once its
    * rounded value moves the old ties all drop. Ties past the bound
    * drop at once; keeping one pair more than [[MaxCandidates]] still
    * tells a window that is too large. A reduce partition that drops
    * ties at its own k-th rounded score sends that many pairs at or
    * above it, so if the global k-th rounds the same the merged window
    * is too large too, and if it rounds higher the dropped ties are
    * out of the window. */
  private final class BestWithTies(k: Int, scale: Option[Int]) {
    private val round: Double => Double = scale match {
      case Some(d) =>
        val r = Round(BoundReference(0, DoubleType, nullable = false), Literal(d))
        x => r.eval(InternalRow(x)).asInstanceOf[Double]
      case None => identity
    }
    private val byScore = Ordering.Double.TotalOrdering
    // the queue's head is its worst pair
    private val heap = mutable.PriorityQueue.empty[(Any, Double)](
      Ordering.by[(Any, Double), Double](_._2)(byScore.reverse))
    private val ties = mutable.ArrayBuffer.empty[(Any, Double)]
    private def edge: Double = round(heap.head._2)

    def add(d: (Any, Double)): Unit =
      if (heap.size < k) heap += d
      else if (byScore.gt(d._2, heap.head._2)) {
        val out = heap.dequeue()
        heap += d
        if (round(out._2) == edge) tie(out) else ties.clear()
      } else if (round(d._2) == edge) tie(d)

    private def tie(d: (Any, Double)): Unit =
      if (heap.size + ties.size <= MaxCandidates) ties += d

    /** the pairs kept, best first */
    def result: Seq[(Any, Double)] = (heap.toSeq ++ ties).sortBy(_._2)(byScore.reverse)
  }

  /** Matching DuckDB oracle SQL for [[scoreWithIndex]] over the `documents` table. */
  def oracleSql(queryTerms: Seq[String], roundTo: Int, k: Int): String = {
    val terms = queryTerms.distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH post AS (
       |  SELECT doc_id, len(string_split(text,' ')) AS dl, t.term, count(*) AS tf
       |  FROM documents, unnest(string_split(text,' ')) AS t(term)
       |  GROUP BY doc_id, dl, t.term),
       |stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
       |          (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM post)) AS avgdl FROM post),
       |tdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY term)
       |SELECT doc_id, round(sum(
       |  ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)) * (tf * ${K1 + 1}) /
       |  (tf + $K1 * (1 - $B + $B * dl / avgdl))), $roundTo) AS bm25
       |FROM post JOIN tdf USING(term) CROSS JOIN stats
       |WHERE term IN ($terms)
       |GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin.replace('\n', ' ')
  }
}
