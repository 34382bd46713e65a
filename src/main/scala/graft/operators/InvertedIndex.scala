package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Inverted + numeric secondary indexes with index_holder-style routing
  * (SURVEY.md §2.9; reference `cpp/query_core/index_holder.hpp:18-44`
  * can_run_query/run_query, `text_search_info.hpp:28-52` contains/equals,
  * `inverted_index_search_info.hpp:14-40` equals/between/less, DuckDB-side
  * short-circuit `cpp/deeplake_pg/duckdb_deeplake_scan.cpp:209-301`).
  *
  * Spark-native shape: a posting table (term, doc_id) — the roaring-bitmap
  * analog is the *relational* posting set, which joins and intersects via
  * hash semi-joins instead of bitmap ANDs. At 100 TB the posting table is
  * partitioned by term (the groupBy that builds it already hash-partitions
  * that way), so a keyword lookup touches one partition and the doc
  * semi-join is a broadcast of the matched ids when selective.
  *
  * The reference composes a pre-filter bitmap into index search
  * (`index_holder::run_query(..., filter)` :33); `searchDocs` mirrors that
  * by taking an optional pre-filtered doc set.
  */
object InvertedIndex {

  /** Tokenizer shared by index build and query side. */
  def terms(text: Column): Column = split(lower(text), "[^a-z0-9]+")

  /** Build a text inverted index: one row per distinct (term, doc_id). */
  def build(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(terms(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .distinct()

  /** O(delta) incremental maintenance on append: postings are purely
    * per-doc, so newly landed docs contribute exactly their own rows —
    * no re-tokenization of the existing corpus. Identical to a full
    * rebuild whenever the appended ids are fresh (the snapshot append
    * path guarantees that). The reference maintains its text indexes the
    * same way on WAL sync (`cpp/deeplake_pg/sync_worker.cpp`). */
  def append(index: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    index.unionByName(build(newDocs, idCol, textCol))

  /** O(delta) maintenance on DELETE (right-to-be-forgotten): postings
    * are per-doc, so removal is one anti-join on the id — no
    * re-tokenization of the surviving corpus. Works on every per-doc
    * index frame in this file (text/exact/numeric/json/positional all
    * carry `doc_id`). The id set is a bounded request batch (AQE
    * broadcasts it). */
  def delete(index: DataFrame, deletedIds: DataFrame, idKey: String): DataFrame =
    index.join(deletedIds.select(col(idKey).as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** Build a numeric index: (value, doc_id), sorted-by-value analog of the
    * reference's NumericIndex (`types.pyi:180`). */
  def buildNumeric(df: DataFrame, idCol: String, valueCol: String): DataFrame =
    df.select(col(valueCol).as("value"), col(idCol).as("doc_id"))

  /** Build an exact full-text index: (md5(text), doc_id) — the analog of
    * the reference's EQUALS-answerable TextIndex
    * (`cpp/query_core/text_search_info.hpp:28-52`). Hashing keeps the
    * index rows fixed-width regardless of document length; an EQUALS
    * predicate probes `th = md5(literal)` and semi-joins the ids back. */
  def buildExact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(md5(col(textCol)).as("th"), col(idCol).as("doc_id"))

  /** Build a JSON path index over a JSON-string column: posting rows
    * (path, vh, doc_id) with vh = md5 of the value at `path` in
    * get_json_object's textual form (reference JsonIndex
    * `python/deeplake/types.pyi:220`; indexed JSONB lookups
    * `postgres/tests/sql/bluesky_queries.sql:12-40`). Hashing keeps rows
    * fixed-width regardless of value size; docs lacking a path
    * contribute no row for it. */
  def buildJson(df: DataFrame, idCol: String, jsonCol: String,
      paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "JSON index needs at least one path")
    df.select(col(idCol).as("doc_id"),
        explode(array(paths.map(p => struct(lit(p).as("path"),
          get_json_object(col(jsonCol), p).as("v"))): _*)).as("pv"))
      .filter(col("pv.v").isNotNull)
      .select(col("pv.path").as("path"), md5(col("pv.v")).as("vh"), col("doc_id"))
  }

  /** get_json_object(col, path) = 'value': doc ids via the JSON index.
    * `value` compares in the same textual form the index hashed. */
  def jsonEquals(jsonIndex: DataFrame, path: String, value: String): DataFrame =
    jsonIndex.filter(col("path") === path && col("vh") === md5(lit(value)))
      .select(col("doc_id")).distinct()

  /** CONTAINS(col, 'kw'): doc ids whose text contains every given term. */
  def containsAll(index: DataFrame, ts: Seq[String]): DataFrame = {
    require(ts.nonEmpty, "CONTAINS needs at least one term")
    val lowered = ts.map(_.toLowerCase).distinct
    index.filter(col("term").isin(lowered: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("__hits"))
      .filter(col("__hits") === lowered.size)
      .select(col("doc_id"))
  }

  /** Build a POSITIONAL inverted index: one row per (term, doc_id, pos)
    * occurrence — the phrase-query upgrade of [[build]]. Same per-doc
    * O(delta) maintenance argument: positions are doc-local, so appends
    * contribute exactly their own rows. */
  def buildPositional(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(terms(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")

  /** PHRASE(w1 w2 ... wk): doc ids containing the words CONSECUTIVELY.
    * Offset-normalize then count: an occurrence of term i at position p
    * votes for base position p - i; a base with k distinct correct
    * votes is a phrase hit. ONE postings filter (k terms) + one
    * hash-agg on (doc, base) + the per-doc distinct — no k-way
    * self-join, no per-doc arrays. Repeated words in the phrase are
    * handled by counting distinct OFFSETS, not distinct terms. */
  def phraseMatch(positional: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one word")
    val words = phrase.map(_.toLowerCase)
    if (words.length == 1)
      return positional.filter(col("term") === words.head)
        .select(col("doc_id")).distinct()
    // term -> the offsets it must appear at (a word can repeat)
    val offsets = words.zipWithIndex.groupBy(_._1)
      .map { case (w, ps) => w -> ps.map(_._2) }
    val offMap = map(offsets.toSeq.flatMap { case (w, os) =>
      Seq(lit(w), array(os.map(o => lit(o)): _*))
    }: _*)
    positional.filter(col("term").isin(words.distinct: _*))
      .select(col("doc_id"), col("pos"),
        explode(element_at(offMap, col("term"))).as("off"))
      .select(col("doc_id"), (col("pos") - col("off")).as("base"), col("off"))
      .filter(col("base") >= 0)
      .groupBy(col("doc_id"), col("base"))
      .agg(countDistinct(col("off")).as("__hits"))
      .filter(col("__hits") === words.length)
      .select(col("doc_id")).distinct()
  }

  /** Any-of-terms match (OR of postings = union of posting sets). */
  def containsAny(index: DataFrame, ts: Seq[String]): DataFrame =
    index.filter(col("term").isin(ts.map(_.toLowerCase).distinct: _*))
      .select(col("doc_id")).distinct()

  /** Typo-tolerant CONTAINS: docs containing any indexed term within
    * `maxDist` edits of the query term. The query expands against the
    * index's DISTINCT TERM table (vocabulary-sized, not corpus-sized)
    * through [[Dedup.fuzzyJoin]]'s PassJoin segment blocking — the
    * expansion never scans postings, and matched terms drive the plain
    * postings union. Returns (doc_id, term, dist) so callers can rank
    * exact hits first. */
  def fuzzyContains(index: DataFrame, term: String,
      maxDist: Int = 1): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val vocab = index.select(col("term")).distinct()
      .withColumn("__tid", col("term"))
    val q = Seq((0L, term.toLowerCase)).toDF("qid", "qterm")
    val matched = Dedup.fuzzyJoin(q, "qid", "qterm",
        vocab, "__tid", "term", maxDist)
      .select(col("id_r").as("term"), col("dist"))
    index.join(matched, Seq("term"))
      .select(col("doc_id"), col("term"), col("dist")).distinct()
  }

  /** Numeric index search: equals / between / less-than etc. */
  def numericWhere(index: DataFrame, cond: Column): DataFrame =
    index.filter(cond).select(col("doc_id")).distinct()

  /** Compose an index answer with the source table: semi-join the matched
    * ids back to docs (the filtered_dataset composition,
    * `cpp/heimdall_common/filtered_dataset.hpp:14`). */
  def searchDocs(docs: DataFrame, idCol: String, matched: DataFrame): DataFrame =
    docs.join(broadcast(matched.withColumnRenamed("doc_id", idCol)), Seq(idCol), "left_semi")

  // ------------------------------------------------------- index routing

  /** Registered index kinds for one column — the index_holder analog. */
  sealed trait Holder
  final case class TextIndex(index: DataFrame) extends Holder
  final case class NumericIndex(index: DataFrame) extends Holder
  final case class EmbeddingIndex(index: AnnIndex.Index) extends Holder

  final case class Key(table: String, column: String)

  /** Session-level index registry: can_run_query/run_query routing.
    * Falls back to a linear scan predicate when no index exists, exactly
    * like the reference's linear path (`cpp/tql/tql.hpp` step 6). */
  final class Registry {
    private var holders: Map[Key, Holder] = Map.empty

    def registerText(table: String, column: String, index: DataFrame): Unit =
      holders += Key(table, column) -> TextIndex(index)

    def registerNumeric(table: String, column: String, index: DataFrame): Unit =
      holders += Key(table, column) -> NumericIndex(index)

    def registerEmbedding(table: String, column: String, index: AnnIndex.Index): Unit =
      holders += Key(table, column) -> EmbeddingIndex(index)

    def canRun(table: String, column: String): Boolean =
      holders.contains(Key(table, column))

    /** CONTAINS via index when registered, else tokenizing scan. */
    def contains(docs: DataFrame, table: String, idCol: String, textCol: String,
        ts: Seq[String]): DataFrame =
      holders.get(Key(table, textCol)) match {
        case Some(TextIndex(idx)) => searchDocs(docs, idCol, containsAll(idx, ts))
        case _ =>
          ts.map(_.toLowerCase).distinct
            .map(t => array_contains(terms(docs(textCol)), t))
            .reduce(_ && _) match { case cond => docs.filter(cond) }
      }

    /** Numeric equals/between via index when registered, else scan. */
    def numericRange(docs: DataFrame, table: String, idCol: String,
        valueCol: String, lo: Double, hi: Double): DataFrame =
      holders.get(Key(table, valueCol)) match {
        case Some(NumericIndex(idx)) =>
          searchDocs(docs, idCol,
            numericWhere(idx, col("value").between(lo, hi)))
        case _ => docs.filter(docs(valueCol).between(lo, hi))
      }

    /** Vector top-k: ANN cluster-pruned search when an embedding index is
      * registered (the `ORDER BY score DESC LIMIT k` fast path,
      * `cpp/query_core/top_k_search_info.hpp:17-44`), else exact brute
      * force — the linear path. Output schema matches in both routes. */
    def vectorTopK(docs: DataFrame, table: String, idCol: String,
        vecCol: String, queries: DataFrame, qIdCol: String, qVecCol: String,
        k: Int, config: AnnIndex.SearchConfig = AnnIndex.SearchConfig()): DataFrame =
      holders.get(Key(table, vecCol)) match {
        case Some(EmbeddingIndex(idx)) =>
          AnnIndex.search(idx, queries, qIdCol, qVecCol, k, config)
        case _ =>
          SimilaritySearch.bruteForceTopK(docs, idCol, vecCol,
            queries, qIdCol, qVecCol, k)
      }
  }
}
