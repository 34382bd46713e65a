package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import graft.core.Op
import graft.functions.{CosineSimilarity, DotProduct, VectorDistance, gf}

/** Clustered ANN index (SURVEY.md §2.9) — the Spark analog of the
  * reference's `Clustered` / `ClusteredQuantized` embedding indexes
  * (k-means centroids; search scans the closest clusters only, then
  * exact-reranks): `cpp/query_core/search_config.hpp:18-161`,
  * `cpp/deeplake_pg/index_search.cpp:114-133`.
  *
  * Build is an MLlib KMeans batch job; the "index" is two DataFrames
  * persisted as parquet via [[save]]: (cluster_id, centroid) — tiny,
  * broadcastable — and (id, cluster_id[, vec_q]) assignments
  * co-partitioned with the corpus. Search prunes to the top-`nProbe`
  * clusters per query (a broadcast centroid scan, no shuffle), then
  * reranks candidates.
  *
  * Knobs mirror the reference (`search_config.hpp:104-161`):
  * `cluster_search_accuracy_factor` scales how many clusters are probed;
  * `accuracy_factor` applies to the QUANTIZED index — candidates are
  * scored on the int8 form first and only the top `k * accuracy_factor`
  * pay the exact rerank, so a larger factor monotonically improves
  * recall. On the plain (non-quantized) index every candidate is scored
  * exactly, which is already the recall ceiling for the probed clusters.
  */
object AnnIndex {

  /** reference search_config.hpp:30-100 analog */
  final case class SearchConfig(
      accuracyFactor: Int = 10,
      clusterSearchFactor: Double = 1.0)

  /** Session-level embedding-index routing for the dialect's
    * `ORDER BY COSINE_SIMILARITY(col, const) DESC LIMIT k` fast path
    * (reference `cpp/tql/tql.hpp:171`
    * check_for_top_k_binary_function_search → `top_k_search_info.hpp`).
    * Keyed by (table, vector column); `idCol` names the table's id
    * column the candidate restriction keys on. */
  object Catalog {
    final case class Entry(index: Index, idCol: String, config: SearchConfig)
    final case class PqEntry(index: PqIndex, idCol: String, config: SearchConfig)
    @volatile private var entries: Map[(String, String), Entry] = Map.empty
    @volatile private var pqEntries: Map[(String, String), PqEntry] = Map.empty
    @volatile private var providers: Map[(String, String), () => Option[Entry]] =
      Map.empty

    def register(table: String, vecCol: String, idCol: String, index: Index,
        config: SearchConfig = SearchConfig()): Unit =
      entries += (table, vecCol) -> Entry(index, idCol, config)

    /** IVF-PQ route registration (a plain entry for the same (table,
      * column) wins — it is the more exact index) */
    def registerPq(table: String, vecCol: String, idCol: String, index: PqIndex,
        config: SearchConfig = SearchConfig()): Unit =
      pqEntries += (table, vecCol) -> PqEntry(index, idCol, config)

    /** Version-gated registration: the provider re-validates at LOOKUP
      * time (table-owned indexes re-check their manifest + artifact
      * stamp — see `Snapshots.annProvider`), so a drop/quarantine or
      * absorb in another process is observed instead of serving a
      * stale loaded frame; `None` means no route (linear fallback). An
      * eager [[register]] for the same key wins (session indexes have
      * no manifest to gate on). */
    def registerProvider(table: String, vecCol: String,
        p: () => Option[Entry]): Unit =
      providers += (table, vecCol) -> p

    def lookup(table: String, vecCol: String): Option[Entry] =
      entries.get((table, vecCol))
        .orElse(providers.get((table, vecCol)).flatMap(_.apply()))

    def lookupPq(table: String, vecCol: String): Option[PqEntry] =
      pqEntries.get((table, vecCol))

    def unregister(table: String, vecCol: String): Unit = {
      entries -= ((table, vecCol)); pqEntries -= ((table, vecCol))
      providers -= ((table, vecCol))
    }

    def clear(): Unit = {
      entries = Map.empty; pqEntries = Map.empty; providers = Map.empty
    }
  }

  /** `centers` is the centroid table held on the driver, (cluster_id,
    * centroid) sorted by cluster_id: [[topIds]] ranks it without a job. */
  final case class Index(centroids: DataFrame, assignments: DataFrame,
      quantized: Boolean, centers: Seq[(Int, Array[Float])]) {
    def nClusters: Int = centers.length
    /** max(1, assignment rows): the denominator of a filtered search's
      * selectivity, counted once per index */
    lazy val assignmentRows: Long = math.max(1L, assignments.count())
  }

  /** An index over saved or hand-made frames: collects the (tiny)
    * centroid table to the driver. */
  def of(centroids: DataFrame, assignments: DataFrame): Index =
    Index(centroids, assignments, assignments.columns.contains("vec_q"),
      centroids.select(col("cluster_id"), col("centroid")).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq)

  /** Symmetric per-vector int8 quantization: q_i = round(127 * v_i /
    * max|v|). Cosine is scale-invariant, so the per-vector scale cancels
    * and cosine over vec_q approximates cosine over vec — the cheap
    * candidate score of the reference's ClusteredQuantized
    * (`search_config.hpp:104-136`). */
  private[operators] def quantizeVec(vec: Column): Column = {
    val maxAbs = aggregate(vec, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    transform(vec,
      x => round(x.cast("double") * lit(127.0) / greatest(maxAbs, lit(1e-30)))
        .cast("byte"))
  }

  /** Build a clustered index. `buildMultiplier` scales k-means iterations
    * (reference index_build_config.build_multiplier, default 4);
    * `quantized` additionally stores the int8 form of every vector
    * (ClusteredQuantized analog). */
  def build(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, buildMultiplier: Int = 4, seed: Long = 42L,
      quantized: Boolean = false): Index = {
    val feat = emb.select(col(idCol).as("id"),
      col(vecCol).as("vec"),
      array_to_vector(transform(col(vecCol), _.cast("double"))).as("features"))
    val model = new KMeans()
      .setK(nClusters).setSeed(seed).setMaxIter(5 * buildMultiplier)
      .fit(feat)
    val base = model.transform(feat)
      .select(col("id"), col("vec"), col("prediction").as("cluster_id"))
    val assignments =
      if (quantized) base.withColumn("vec_q", quantizeVec(col("vec")))
      else base
    val spark = emb.sparkSession
    import spark.implicits._
    val centers = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }.toSeq
    Index(centers.toDF("cluster_id", "centroid"), assignments, quantized, centers)
  }

  /** Persist the index as two parquet tables under `dir` — build once,
    * search many (the reference maintains index artifacts the same way;
    * queries must never pay the KMeans build). */
  def save(index: Index, dir: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    // assignments live under a batch=base segment so a streaming
    // maintainer ([[graft.streaming.StreamingAnn]]) can absorb
    // batch-id-keyed delta segments into the SAME directory (parquet
    // discovery rejects mixed flat + partitioned layouts); the reset
    // clears any stale delta segments from a previous index lifetime
    val p = new org.apache.hadoop.fs.Path(s"$dir/assignments")
    val fs = p.getFileSystem(
      index.assignments.sparkSession.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    index.assignments.write.mode("overwrite").parquet(s"$dir/assignments/batch=base")
  }

  def load(spark: SparkSession, dir: String): Index =
    // drop is a no-op on a pre-segment flat layout (old saved indexes)
    of(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assignments").drop("batch"))

  /** Absorb appended vectors WITHOUT a KMeans refit: each new vector is
    * assigned to its nearest existing centroid via a map-side projection
    * over the (tiny, literal-bound) centroid array — no shuffle, and the
    * existing corpus is untouched. This is the IVF insert pattern:
    * centroids drift only under distribution shift, so periodic rebuilds
    * (a batch job) bracket many cheap absorbs. Recall for absorbed rows
    * equals the index's normal probed-cluster recall. */
  /** The assignment DELTA for `newEmb` (same schema as
    * `index.assignments`): nearest-centroid id via a map-side projection
    * over the literal-bound centroid array — no shuffle, no refit.
    * [[appendAssign]] unions it in-session; the streaming maintainer
    * appends it to the persisted assignments instead. */
  def assignDelta(index: Index, newEmb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val cents = index.centers
    require(cents.map(_._1) == cents.indices, "cluster ids must be 0..k-1")
    val centVecs = array(cents.map { case (_, cv) =>
      array(cv.map(x => lit(x)): _*)
    }: _*)
    val idxs = sequence(lit(0), lit(cents.length - 1))
    val assigned0 = newEmb
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("__cs", transform(centVecs,
        c => gf.cosine_similarity(col("vec"), c)))
      .withColumn("cluster_id", element_at(
        filter(idxs, i => element_at(col("__cs"), i + 1) === array_max(col("__cs"))), 1))
      .select(col("id"), col("vec"), col("cluster_id"))
    if (index.quantized) assigned0.withColumn("vec_q", quantizeVec(col("vec")))
    else assigned0
  }

  def appendAssign(index: Index, newEmb: DataFrame, idCol: String,
      vecCol: String): Index =
    index.copy(assignments = index.assignments.unionByName(
      assignDelta(index, newEmb, idCol, vecCol)))

  /** O(delta) maintenance on DELETE (right-to-be-forgotten): one
    * anti-join removes the vectors' cluster assignments; centroids are
    * deliberately left as-built — they are a routing artifact, not a
    * result surface, and the reference likewise re-clusters only on
    * OPTIMIZE, not per-delete. The id set is a bounded request batch
    * (AQE broadcasts it). */
  def deleteAssign(index: Index, deletedIds: DataFrame, idKey: String): Index =
    index.copy(assignments = index.assignments.join(
      deletedIds.select(col(idKey).as("id")).distinct(), Seq("id"), "left_anti"))

  /** Two-phase per-query top-n (same pattern as
    * SimilaritySearch.bruteForceTopK): local top-n inside each input
    * partition, then global top-n over the n×numPartitions survivors —
    * no single reducer ever ranks one query's whole candidate set.
    * Output carries a 1-based `rank` column. */
  private def topNPerQuery(scored: DataFrame, ord: Seq[Column], n: Int): DataFrame = {
    val local = scored
      .withColumn("__p", spark_partition_id())
      .withColumn("__lr", row_number().over(
        Window.partitionBy(col("qid"), col("__p")).orderBy(ord: _*)))
      .filter(col("__lr") <= n)
      .drop("__p", "__lr")
    local
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(ord: _*)))
      .filter(col("rank") <= n)
  }

  /** Top-k approximate neighbors per query via cluster pruning + rerank.
    * Queries broadcast; corpus touched only in probed clusters. On a
    * quantized index the int8 score gates the pool to `k *
    * accuracyFactor` candidates per query before the exact rerank.
    *
    * `idFilter` composes a WHERE pre-filter into the index search (the
    * reference runs index queries against a filter bitmap —
    * `cpp/query_core/index_holder.hpp:33` run_query(..., roaring filter);
    * `cpp/query_core/top_k_search_info.hpp:17-44` carries filter_expr):
    * only ids present in the frame's first column are candidates. A
    * selective filter starves probed clusters, so the initial probe
    * count is scaled by 1/selectivity (same expected candidate count as
    * the unfiltered search) and then adaptively doubled until every
    * query has min(k, survivors) results or all clusters are probed.
    * The adaptive loop runs driver-side actions, so a filtered search
    * is eager where an unfiltered one is lazy.
    *
    * `metric` is "cosine" (descending similarity — the default), "l2"
    * (ascending Euclidean distance, the reference's
    * `ORDER BY L2_NORM(emb - ARRAY[...]) ASC` shape with
    * order_type::ascending — `cpp/query_core/top_k_search_info.hpp:35`),
    * or "dot" (descending inner product — MIPS). The same index serves
    * all three: KMeans centroids ARE Euclidean cells, so L2 probes the
    * closest-centroid clusters directly, and for MIPS the probe ranks
    * clusters by `q·centroid` — the centroid is the cell's mean, so
    * q·centroid is exactly the cell's MEAN inner product with q, which
    * is the faiss IVF/METRIC_INNER_PRODUCT coarse-probe posture
    * (high-|x| directions q favors rank first). The int8 candidate
    * gate is cosine-only (per-vector quantization scale cancels under
    * cosine but not under L2/dot), so l2/dot searches score the probed
    * candidates exactly. A single query vector is cheaper through
    * [[topIds]], which returns the same ids without the query frame. */
  def search(index: Index, queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, config: SearchConfig = SearchConfig(),
      idFilter: Option[DataFrame] = None, metric: String = "cosine"): DataFrame = {
    val score = scoreFn(metric)
    val ord = ordFn(metric)
    val q = queries.select(col(qIdCol).as("qid"), col(qVecCol).as("q_vec"))
    val assignBase = filteredView(index.assignments, idFilter)

    def once(nProbe: Int): DataFrame = {
      // rank clusters per query over the broadcast centroid table
      val probed = q.crossJoin(broadcast(index.centroids))
        .withColumn("c_rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(ord(score(col("q_vec"), col("centroid"))),
              col("cluster_id"))))
        .filter(col("c_rank") <= nProbe)
        .select(col("qid"), col("q_vec"), col("cluster_id"))
      if (!index.quantized || metric != "cosine") {
        // plain Clustered (or L2 on any index): every candidate in a
        // probed cluster is scored exactly — accuracyFactor has nothing
        // left to widen here
        val scored = probed.join(assignBase.drop("vec_q"), "cluster_id")
          .select(col("qid"), col("id"),
            score(col("vec"), col("q_vec")).as("score"))
        topNPerQuery(scored, Seq(ord(col("score")), col("id")), k)
      } else {
        // ClusteredQuantized: stage 1 scores the int8 form (1/4 the bytes,
        // same codegen kernel) and keeps top rerankPool per query; stage 2
        // exact-reranks only those survivors. The stage-1 gate is itself
        // two-phase, so no reducer sees all probed candidates of a query.
        val rerankPool = k * math.max(1, config.accuracyFactor)
        val gated = topNPerQuery(
          probed.withColumn("q_vec_q", quantizeVec(col("q_vec")))
            .join(assignBase, "cluster_id")
            .select(col("qid"), col("id"), col("vec"), col("q_vec"),
              gf.cosine_similarity(col("vec_q"), col("q_vec_q")).as("score_q")),
          Seq(col("score_q").desc, col("id")), rerankPool)
          .drop("rank")
        // survivors are <= rerankPool per query, so this global window
        // ranks a small bounded set, not the probed clusters
        gated.select(col("qid"), col("id"),
            gf.cosine_similarity(col("vec"), col("q_vec")).as("score"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))))
          .filter(col("rank") <= k)
      }
    }

    adaptiveSearch(assignBase, index.assignmentRows, index.nClusters,
      firstProbe(index.nClusters, config), k, q.count(), idFilter.isDefined, once)
  }

  /** Top-k ids for ONE query vector, best first, planned on the driver:
    * the same ids in the same order as [[search]] over a one-row query
    * frame, from one candidate job instead of a windowed query. The
    * reference likewise probes an in-memory index for candidate ids and
    * fetches only those rows (`cpp/deeplake_pg/index_search.cpp:114-133`).
    * The driver-held centroids are scored with the codegen kernels'
    * own expressions evaluated over literals, so the cluster order is
    * bit-identical to [[search]]'s (ties on cluster_id); one
    * `orderBy(score, id).limit(k)` collect then ranks the probed
    * clusters' candidates. With `idFilter` the driver replays
    * [[search]]'s widening, reading each attempt's shortfall from the
    * collected row count, so nothing is persisted. The quantized index
    * gates cosine candidates on int8 scores: that search stays on
    * [[search]]. */
  def topIds(index: Index, q: Seq[Double], k: Int, config: SearchConfig = SearchConfig(),
      idFilter: Option[DataFrame] = None, metric: String = "cosine"): Seq[Any] = {
    require(!index.quantized || metric != "cosine",
      "a quantized cosine search gates on int8 scores: use search")
    val score = scoreFn(metric)
    val qExpr = Literal.create(q, ArrayType(DoubleType, containsNull = false))
    val sign = if (metric == "l2") 1 else -1
    val clusters = index.centers
      .map { case (cid, c) =>
        val cExpr = Literal.create(c.toSeq, ArrayType(FloatType, containsNull = false))
        (kernel(metric)(qExpr, cExpr).eval().asInstanceOf[Double], cid)
      }
      .sortWith { case ((a, ca), (b, cb)) =>
        val c = sign * SQLOrderingUtil.compareDoubles(a, b)
        c < 0 || (c == 0 && ca < cb)
      }
      .map(_._2)
    val assignBase = filteredView(index.assignments, idFilter)
    val sc = index.assignments.sparkSession.sparkContext
    def attempt(nProbe: Int): Seq[Any] = Op.scope(sc, "ann:candidates") {
      assignBase.filter(col("cluster_id").isin(clusters.take(nProbe): _*))
        .select(col("id"), score(col("vec"), Bridge.column(qExpr)).as("score"))
        .orderBy(ordFn(metric)(col("score")), col("id")).limit(k)
        .collect().map(_.get(0)).toSeq
    }
    val nProbe0 = firstProbe(index.nClusters, config)
    if (idFilter.isEmpty) attempt(nProbe0)
    else widening(index.nClusters, nProbe0, k, index.assignmentRows,
      Op.scope(sc, "ann:survivors")(assignBase.count()))(attempt)(_.length < _)
  }

  /** the metric's codegen kernel, shared by frame scoring and the
    * driver's centroid ranking */
  private def kernel(metric: String): (Expression, Expression) => Expression = metric match {
    case "cosine" => CosineSimilarity
    case "dot" => DotProduct
    case "l2" => VectorDistance(_, _, 2)
    case _ => throw new IllegalArgumentException(s"unknown metric $metric")
  }

  private def scoreFn(metric: String): (Column, Column) => Column = {
    val f = kernel(metric)
    (a, b) => Bridge.column(f(Bridge.expression(a), Bridge.expression(b)))
  }

  private def ordFn(metric: String): Column => Column =
    if (metric == "l2") _.asc else _.desc

  /** the assignments whose id appears in `idFilter`'s first column (a
    * semi-join keeps each assignment once, so duplicate ids need no
    * distinct and its shuffle) */
  private def filteredView(assignments: DataFrame, idFilter: Option[DataFrame]): DataFrame =
    idFilter match {
      case Some(ids) =>
        assignments.join(ids.select(col(ids.columns.head).as("id")), Seq("id"), "left_semi")
      case None => assignments
    }

  /** clusters an unfiltered search probes: ceil(sqrt(n) * factor) in [1, n] */
  private def firstProbe(nClusters: Int, config: SearchConfig): Int =
    math.max(1, math.min(nClusters,
      math.ceil(math.sqrt(nClusters.toDouble) * config.clusterSearchFactor).toInt))

  /** The filtered probe schedule of every search: scale the first probe
    * by 1/selectivity (same expected candidate count as an unfiltered
    * search), then double `nProbe` while clusters remain and
    * `short(result, want)` says some query has fewer than
    * want = min(k, survivors) hits. Returns the last attempt. */
  private def widening[R](nClusters: Int, nProbe0: Int, k: Int, total: Long,
      survivors: Long)(attempt: Int => R)(short: (R, Long) => Boolean): R = {
    val selectivity = math.max(survivors.toDouble / total, 1.0 / nClusters)
    var nProbe = math.min(nClusters, math.ceil(nProbe0 / selectivity).toInt)
    val want = math.min(k.toLong, survivors)
    var res = attempt(nProbe)
    while (want > 0 && nProbe < nClusters && short(res, want)) {
      nProbe = math.min(nClusters, nProbe * 2)
      res = attempt(nProbe)
    }
    res
  }

  /** [[widening]] over frames, shared by [[search]] and [[searchPq]].
    * Unfiltered, the frame search is `once(nProbe0)` and stays lazy
    * (`nQueries` is never forced); filtered, it runs the count jobs and
    * one shortfall job per attempt, and returns a persisted result
    * that the caller owns. The TQL route's single-query search
    * ([[topIds]]) runs neither: it collects its candidates eagerly and
    * persists nothing. */
  private def adaptiveSearch(assignBase: DataFrame, total: => Long,
      nClusters: Int, nProbe0: Int, k: Int, nQueries: => Long,
      filtered: Boolean, once: Int => DataFrame): DataFrame =
    if (!filtered) once(nProbe0)
    else {
      // the filtered assignment view is read by the selectivity count and
      // EVERY probe attempt (each a separate job — exchange reuse never
      // spans them); persist it for the loop so a deficiency retry
      // re-probes the cached semi-join instead of re-scanning the
      // assignment table, and release it when the loop ends
      assignBase.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nQ = nQueries
        // each attempt's RESULT is persisted before the deficiency count:
        // it is at most nQueries*k rows, and without the cache the count
        // action and the caller's real action would each run the whole
        // probe/score plan end to end — twice the candidate scan per query
        widening(nClusters, nProbe0, k, total, assignBase.count())(
          once(_).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) {
          (res, want) =>
            val counts = res.groupBy("qid").count().collect()
            val short = counts.length < nQ || counts.exists(_.getLong(1) < want)
            if (short) res.unpersist()
            short
        }
      } finally assignBase.unpersist()
    }

  /** exact-vs-ann recall@k (quality gate analog of the reference's
    * test_embedding_quality.py) */
  def recallAtK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, config: SearchConfig = SearchConfig(),
      nClusters: Int = 16, quantized: Boolean = false): Double = {
    val exact = SimilaritySearch.bruteForceTopK(
        corpus, idCol, vecCol, queries, idCol, vecCol, k)
      .select(col("qid"), col("id"))
    val idx = build(corpus, idCol, vecCol, nClusters, quantized = quantized)
    val approx = search(idx, queries, idCol, vecCol, k, config)
      .select(col("qid"), col("id"))
    val hits = exact.intersect(approx).count().toDouble
    hits / exact.count().toDouble
  }

  // ------------------------------------------------------------- IVF-PQ

  /** Product-quantization codebooks: `books(j)(c)` is the
    * dsub-dimensional sub-centroid for code `c` of subspace `j`. Tiny
    * (m * ksub * dsub floats, ~64 KiB at defaults) — driver-held and
    * bound as in-plan literals, never shuffled. */
  final case class PqCodebooks(books: Array[Array[Array[Float]]]) {
    def m: Int = books.length
    def ksub: Int = books.head.length
    def dsub: Int = books.head.head.length
  }

  /** IVF-PQ index: the coarse clustered layout of [[Index]] plus an
    * m-byte PQ code per vector. The candidate stage scores codes via
    * per-query lookup tables (asymmetric distance computation), touching
    * m table lookups per candidate instead of d multiplies — the
    * memory-bound analog of the reference's quantized candidate scan
    * (`cpp/query_core/search_config.hpp:104-136`), at 4 B/dim → 1 B/8
    * dims. Exactness is restored by the same top-(k*accuracyFactor)
    * rerank as [[search]] on the quantized index. */
  final case class PqIndex(centroids: DataFrame, assignments: DataFrame,
      codebooks: PqCodebooks, nClusters: Int)

  /** v / max(|v|_2, eps), floats (cosine over normalized vectors is a
    * plain inner product — what the PQ lookup tables approximate) */
  private def l2normalize(vec: Column): Column = {
    val n = greatest(gf.l2_norm(vec), lit(1e-30))
    transform(vec, x => (x.cast("double") / n).cast("float"))
  }

  private def bookLit(cb: PqCodebooks, j: Int): Column =
    array(cb.books(j).map(c => array(c.map(x => lit(x)): _*)): _*)

  /** nearest sub-centroid per subspace of the residual: codes(j) in
    * [0, ksub) */
  private def pqCodes(residual: Column, cb: PqCodebooks): Column =
    array((0 until cb.m).map { j =>
      val sub = slice(residual, j * cb.dsub + 1, cb.dsub)
      val dists = transform(bookLit(cb, j), c => gf.l2_norm(sub, c))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)

  /** normalized centroids as an in-plan literal array indexed by
    * cluster_id (cosine lives on the unit sphere — residuals must be
    * taken there too) */
  private def normalizedCentroidLit(centroids: DataFrame): Column = {
    val cents = centroids.select(col("cluster_id"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    require(cents.map(_._1).toSeq == cents.indices, "cluster ids must be 0..k-1")
    array(cents.map { case (_, cv) =>
      val n = math.max(1e-30, math.sqrt(cv.map(x => x.toDouble * x).sum))
      array(cv.map(x => lit((x / n).toFloat)): _*)
    }: _*)
  }

  /** Build an IVF-PQ index: the coarse KMeans of [[build]], then one
    * KMeans per subspace over the RESIDUALS `vnorm - centroid_norm` —
    * the canonical IVF-PQ arrangement: the coarse index explains the
    * cluster-level direction, so the codebooks spend their entire
    * codebook budget on the (much smaller) within-cluster displacement.
    * Vector dim must divide `m`. Encoding minimizes per-subspace L2
    * reconstruction error, the standard surrogate for inner-product
    * fidelity. */
  def buildPq(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, m: Int = 8, ksub: Int = 64,
      buildMultiplier: Int = 4, seed: Long = 42L): PqIndex = {
    val coarse = build(emb, idCol, vecCol, nClusters, buildMultiplier, seed)
    val dim = emb.select(size(col(vecCol))).first().getInt(0)
    require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val centLit = normalizedCentroidLit(coarse.centroids)
    val base = coarse.assignments
      .withColumn("__res", zip_with(
        l2normalize(col("vec")), element_at(centLit, col("cluster_id") + 1),
        (v, c) => (v - c).cast("float")))
      .persist()
    val books = Array.tabulate(m) { j =>
      val feats = base.select(array_to_vector(
        transform(slice(col("__res"), j * dsub + 1, dsub), _.cast("double")))
        .as("features"))
      new KMeans().setK(ksub).setSeed(seed + j + 1)
        .setMaxIter(5 * buildMultiplier).fit(feats)
        .clusterCenters.map(_.toArray.map(_.toFloat))
    }
    val cb = PqCodebooks(books)
    // materialize codes off the cached base, then release it
    val assignments = base.withColumn("codes", pqCodes(col("__res"), cb))
      .drop("__res").localCheckpoint()
    base.unpersist()
    PqIndex(coarse.centroids, assignments, cb, coarse.nClusters)
  }

  def savePq(index: PqIndex, dir: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    index.assignments.write.mode("overwrite").parquet(s"$dir/assignments")
    val spark = index.centroids.sparkSession
    import spark.implicits._
    val flat = for {
      (book, j) <- index.codebooks.books.zipWithIndex.toSeq
      (c, code) <- book.zipWithIndex.toSeq
    } yield (j, code, c.toSeq)
    flat.toDF("subspace", "code", "centroid")
      .write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  def loadPq(spark: SparkSession, dir: String): PqIndex = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val assignments = spark.read.parquet(s"$dir/assignments")
    val rows = spark.read.parquet(s"$dir/codebooks").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val books = Array.tabulate(m) { j =>
      rows.filter(_.getInt(0) == j).sortBy(_.getInt(1))
        .map(_.getSeq[Float](2).toArray)
    }
    PqIndex(centroids, assignments, PqCodebooks(books), centroids.count().toInt)
  }

  /** Top-k per query on the PQ index. Same probe as [[search]]; the
    * candidate stage replaces the int8 kernel with ADC — per query, an
    * m x ksub table of (query subvector) . (sub-centroid) inner products
    * is computed ONCE against the literal-bound codebooks (map-side, no
    * shuffle), and each candidate's approximate score is m table
    * lookups over its codes. Survivor pool (k * accuracyFactor per
    * query, two-phase) pays the exact cosine rerank. */
  def searchPq(index: PqIndex, queries: DataFrame, qIdCol: String,
      qVecCol: String, k: Int, config: SearchConfig = SearchConfig(),
      idFilter: Option[DataFrame] = None): DataFrame = {
    val cb = index.codebooks
    val centLit = normalizedCentroidLit(index.centroids)
    val q = queries.select(col(qIdCol).as("qid"), col(qVecCol).as("q_vec"))
      .withColumn("__qn", l2normalize(col("q_vec")))
      .withColumn("__lut", array((0 until cb.m).map { j =>
        transform(bookLit(cb, j),
          c => gf.dot(slice(col("__qn"), j * cb.dsub + 1, cb.dsub), c))
      }: _*))
    val assignBase = filteredView(index.assignments, idFilter)

    def once(nProbe: Int): DataFrame = {
      val probed = q.crossJoin(broadcast(index.centroids))
        .withColumn("c_rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(gf.cosine_similarity(col("q_vec"), col("centroid")).desc,
              col("cluster_id"))))
        .filter(col("c_rank") <= nProbe)
        .select(col("qid"), col("q_vec"), col("__lut"), col("cluster_id"),
          // cluster-level term of the residual decomposition:
          // dot(qn, vn^) = dot(qn, cent_n) + dot(qn, residual^)
          gf.dot(col("__qn"), element_at(centLit, col("cluster_id") + 1))
            .as("__qc"))
      val rerankPool = k * math.max(1, config.accuracyFactor)
      val adc = aggregate(
        zip_with(col("codes"), col("__lut"), (cd, t) => element_at(t, cd + 1)),
        lit(0.0), (acc, x) => acc + x)
      val gated = topNPerQuery(
        probed.join(assignBase, "cluster_id")
          .select(col("qid"), col("id"), col("vec"), col("q_vec"),
            (col("__qc") + adc).as("score_q")),
        Seq(col("score_q").desc, col("id")), rerankPool)
        .drop("rank")
      gated.select(col("qid"), col("id"),
          gf.cosine_similarity(col("vec"), col("q_vec")).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))))
        .filter(col("rank") <= k)
    }

    adaptiveSearch(assignBase, math.max(1L, index.assignments.count()),
      index.nClusters, firstProbe(index.nClusters, config), k, q.count(),
      idFilter.isDefined, once)
  }

  /** exact-vs-PQ recall@k */
  def recallAtKPq(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, config: SearchConfig = SearchConfig(),
      nClusters: Int = 16, m: Int = 8, ksub: Int = 64): Double = {
    val exact = SimilaritySearch.bruteForceTopK(
        corpus, idCol, vecCol, queries, idCol, vecCol, k)
      .select(col("qid"), col("id"))
    val idx = buildPq(corpus, idCol, vecCol, nClusters, m, ksub)
    val approx = searchPq(idx, queries, idCol, vecCol, k, config)
      .select(col("qid"), col("id"))
    val hits = exact.intersect(approx).count().toDouble
    hits / exact.count().toDouble
  }
}
