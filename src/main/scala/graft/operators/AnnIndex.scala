package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending,
  Expression, InterpretedOrdering, Literal, SortOrder}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructType}
import graft.core.Op
import graft.functions.{CosineSimilarity, DotProduct, VectorDistance, gf}
import scala.collection.mutable

/** Clustered ANN index (SURVEY.md §2.9) — the Spark analog of the
  * reference's clustered embedding indexes (k-means centroids; search
  * scans the closest clusters only, then exact-reranks):
  * `cpp/query_core/search_config.hpp:18-161`,
  * `cpp/deeplake_pg/index_search.cpp:114-133`.
  *
  * Build is an MLlib KMeans batch job; the "index" is two DataFrames
  * persisted as parquet via [[save]]: (cluster_id, centroid) — tiny, and
  * also held on the driver — and (id, cluster_id, vec[, gate column])
  * assignments. Search ranks the centroids per query, probes the top
  * `nProbe` clusters only, then reranks their candidates.
  *
  * Knobs mirror the reference (`search_config.hpp:104-161`):
  * `cluster_search_accuracy_factor` scales how many clusters are probed;
  * `accuracy_factor` applies to an index with a candidate [[Gate]] (the
  * int8 form or IVF-PQ codes) — under cosine, candidates are ranked by
  * the gate's cheap score first and only the top `k * accuracy_factor`
  * pay the exact rerank, so a larger factor monotonically improves
  * recall. Without a gate every candidate is scored exactly, which is
  * already the recall ceiling for the probed clusters.
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
    * column the candidate restriction keys on. The last registration
    * for a key wins, whatever its gate. */
  object Catalog extends RouteCatalog {
    final case class Entry(index: Index, idCol: String, config: SearchConfig)

    def register(table: String, vecCol: String, idCol: String, index: Index,
        config: SearchConfig = SearchConfig()): Unit =
      put(table, vecCol, Entry(index, idCol, config))
  }

  /** A candidate gate: a cheap score that ranks a cosine search's probed
    * candidates down to `k * accuracyFactor` before the exact rerank —
    * the reference's quantized candidate scan
    * (`search_config.hpp:104-136`). The gate's per-vector form is a
    * column of the assignments: [[Int8]] scores the int8 form `vec_q`,
    * [[Pq]] the m-byte IVF-PQ `codes`. A gate serves cosine only; l2 and
    * dot score every probed candidate exactly on any index. */
  sealed trait Gate
  case object Int8 extends Gate
  final case class Pq(codebooks: PqCodebooks) extends Gate

  /** `centers` is the centroid table held on the driver, (cluster_id,
    * centroid) sorted by cluster_id: [[topIds]] ranks it without a job. */
  final case class Index(centroids: DataFrame, assignments: DataFrame,
      gate: Option[Gate], centers: Seq[(Int, Array[Float])]) {
    def nClusters: Int = centers.length
    /** max(1, assignment rows): the denominator of a filtered search's
      * selectivity, counted once per index */
    lazy val assignmentRows: Long = math.max(1L, assignments.count())
  }

  /** An index over saved or hand-made frames: collects the (tiny)
    * centroid table to the driver. Assignments with a `vec_q` column
    * gate on it. */
  def of(centroids: DataFrame, assignments: DataFrame): Index =
    Index(centroids, assignments,
      if (assignments.columns.contains("vec_q")) Some(Int8) else None,
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
    * `quantized` additionally stores the int8 form of every vector, the
    * [[Int8]] gate (ClusteredQuantized analog). */
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
    val spark = emb.sparkSession
    import spark.implicits._
    val centers = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }.toSeq
    val gate = if (quantized) Some(Int8) else None
    Index(centers.toDF("cluster_id", "centroid"), encoded(base, gate, centers), gate, centers)
  }

  /** (id, vec, cluster_id) rows plus the gate's per-vector column */
  private def encoded(rows: DataFrame, gate: Option[Gate],
      centers: Seq[(Int, Array[Float])]): DataFrame = gate match {
    case Some(Int8) => rows.withColumn("vec_q", quantizeVec(col("vec")))
    case Some(Pq(cb)) => rows.withColumn("codes", pqCodes(residual(centers), cb))
    case None => rows
  }

  /** Persist the index as parquet tables under `dir` — build once,
    * search many (the reference maintains index artifacts the same way;
    * queries must never pay the KMeans build). A [[Pq]] gate adds its
    * codebooks as (subspace, code, centroid) rows. */
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
    index.gate match {
      case Some(Pq(cb)) =>
        val spark = index.centroids.sparkSession
        import spark.implicits._
        val flat = for {
          (book, j) <- cb.books.zipWithIndex.toSeq
          (c, code) <- book.zipWithIndex.toSeq
        } yield (j, code, c.toSeq)
        flat.toDF("subspace", "code", "centroid")
          .write.mode("overwrite").parquet(s"$dir/codebooks")
      case _ => ()
    }
  }

  /** The index [[save]] wrote. A flat (pre-segment) assignments layout
    * loads too: `drop` is a no-op there. */
  def load(spark: SparkSession, dir: String): Index = {
    val idx = of(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assignments").drop("batch"))
    val books = new org.apache.hadoop.fs.Path(s"$dir/codebooks")
    if (!books.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(books)) idx
    else {
      val rows = spark.read.parquet(books.toString).collect()
      val m = rows.map(_.getInt(0)).max + 1
      idx.copy(gate = Some(Pq(PqCodebooks(Array.tabulate(m) { j =>
        rows.filter(_.getInt(0) == j).sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)
      }))))
    }
  }

  /** The assignment DELTA for `newEmb` (same schema as
    * `index.assignments`): nearest-centroid id via a map-side projection
    * over the literal-bound centroid array — no shuffle, no refit, and
    * the existing corpus is untouched. This is the IVF insert pattern:
    * centroids drift only under distribution shift, so periodic rebuilds
    * (a batch job) bracket many cheap absorbs; recall for absorbed rows
    * equals the index's normal probed-cluster recall. [[appendAssign]]
    * unions it in-session; the streaming maintainer appends it to the
    * persisted assignments instead. */
  def assignDelta(index: Index, newEmb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val cents = index.centers
    require(cents.map(_._1) == cents.indices, "cluster ids must be 0..k-1")
    val centVecs = array(cents.map { case (_, cv) =>
      array(cv.map(x => lit(x)): _*)
    }: _*)
    val idxs = sequence(lit(0), lit(cents.length - 1))
    val assigned = newEmb
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("__cs", transform(centVecs,
        c => gf.cosine_similarity(col("vec"), c)))
      .withColumn("cluster_id", element_at(
        filter(idxs, i => element_at(col("__cs"), i + 1) === array_max(col("__cs"))), 1))
      .select(col("id"), col("vec"), col("cluster_id"))
    encoded(assigned, index.gate, cents)
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

  /** the index's gate, if `metric` uses one: a gate serves cosine only
    * (the int8 scale and the normalized PQ residuals cancel under cosine,
    * not under l2 or dot) */
  private def gateOf(index: Index, metric: String): Option[Gate] =
    index.gate.filter(_ => metric == "cosine")

  /** Top-k approximate neighbors per query via cluster pruning + rerank,
    * the multi-query search (a single query vector is cheaper through
    * [[topIds]], which returns the same ids without the query frame).
    * Queries broadcast; corpus touched only in probed clusters. With a
    * [[Gate]] under cosine, the gate's query-side values
    * ([[gateQuery]]) are computed once per query, and the gate score
    * ranks each query's probed candidates down to `k * accuracyFactor`
    * before the exact rerank.
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
    * (high-|x| directions q favors rank first). l2 and dot score the
    * probed candidates exactly on any index. */
  def search(index: Index, queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, config: SearchConfig = SearchConfig(),
      idFilter: Option[DataFrame] = None, metric: String = "cosine"): DataFrame = {
    val score = scoreFn(metric)
    val ord = ordFn(metric)
    val gate = gateOf(index, metric)
    // the gate's query-side columns, computed once per query row
    val q = gate.toSeq.flatMap(gateQuery(_, index.centers)).foldLeft(
      queries.select(col(qIdCol).as("qid"), col(qVecCol).as("q_vec"))) {
      case (df, (name, c)) => df.withColumn(name, c)
    }
    val assignBase = filteredView(index.assignments, idFilter)

    def once(nProbe: Int): DataFrame = {
      // rank clusters per query over the broadcast centroid table
      val probed = q.crossJoin(broadcast(index.centroids))
        .withColumn("c_rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(ord(score(col("q_vec"), col("centroid"))), col("cluster_id"))))
        .filter(col("c_rank") <= nProbe)
        .drop("centroid", "c_rank")
      gate match {
        case None =>
          // every candidate in a probed cluster is scored exactly —
          // accuracyFactor has nothing left to widen here
          val scored = probed.join(assignBase.drop("vec_q"), "cluster_id")
            .select(col("qid"), col("id"),
              score(col("vec"), col("q_vec")).as("score"))
          topNPerQuery(scored, Seq(ord(col("score")), col("id")), k)
        case Some(g) =>
          // stage 1 ranks by the gate score and keeps top rerankPool per
          // query; stage 2 exact-reranks only those survivors. The stage-1
          // gate is itself two-phase, so no reducer sees all probed
          // candidates of a query.
          val rerankPool = k * math.max(1, config.accuracyFactor)
          val gated = topNPerQuery(
            probed.join(assignBase, "cluster_id")
              .select(col("qid"), col("id"), col("vec"), col("q_vec"),
                gateScore(g, col).as("score_q")),
            Seq(col("score_q").desc, col("id")), rerankPool)
            .drop("rank")
          // survivors are <= rerankPool per query, so this global window
          // ranks a small bounded set, not the probed clusters
          gated.select(col("qid"), col("id"),
              score(col("vec"), col("q_vec")).as("score"))
            .withColumn("rank", row_number().over(
              Window.partitionBy(col("qid")).orderBy(ord(col("score")), col("id"))))
            .filter(col("rank") <= k)
      }
    }

    adaptiveSearch(assignBase, index.assignmentRows, index.nClusters,
      firstProbe(index.nClusters, config), k, q.count(), idFilter.isDefined, once)
  }

  /** Top-k ids for ONE query vector, best first, planned on the driver:
    * the same ids in the same order as [[search]] over a one-row query
    * frame, without a windowed query, for every index and metric. The
    * reference likewise probes an in-memory index for candidate ids and
    * fetches only those rows (`cpp/deeplake_pg/index_search.cpp:114-133`).
    * The driver-held centroids are scored with the codegen kernels' own
    * expressions evaluated over literals, so the cluster order is
    * bit-identical to [[search]]'s (ties on cluster_id); a gate's query
    * values are [[search]]'s own expressions, evaluated on the driver.
    *
    * One pass (see [[clusterTops]]) returns each cluster's candidate
    * count and its own best pool under the gate order (the exact order
    * without a gate), with the exact score attached: k, or
    * `k * accuracyFactor` for a gate. An attempt merges the first nProbe
    * clusters' lists, keeps the pool, and reranks it by the exact score
    * to k. Unfiltered, the pass (`ann:candidates`) reads only the probed
    * clusters; with `idFilter` it (`ann:clusters`) reads every survivor
    * and the driver replays [[search]]'s [[widening]] from the counts.
    * Nothing is persisted. */
  def topIds(index: Index, q: Seq[Double], k: Int, config: SearchConfig = SearchConfig(),
      idFilter: Option[DataFrame] = None, metric: String = "cosine"): Seq[Any] = {
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
    val view = filteredView(index.assignments, idFilter)
    val exact = scoreFn(metric)(col("vec"), Bridge.column(qExpr)).as("score")
    val sc = index.assignments.sparkSession.sparkContext
    val nProbe0 = firstProbe(index.nClusters, config)
    // an array literal is a reference in generated code, where an `In`
    // of the ids would inline them: one compile per probed set
    val probe = array_contains(typedLit(clusters.take(nProbe0)), col("cluster_id"))
    val idType = view.schema("id").dataType
    // orderBy(score, id) over (cluster_id, id, score[, exact score])
    // rows, the score at `i`
    def order(i: Int, asc: Boolean): Ordering[InternalRow] = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(i, DoubleType, nullable = true),
        if (asc) Ascending else Descending),
      SortOrder(BoundReference(1, idType, nullable = true), Ascending)))
    val first = order(2, metric == "l2")
    val (scores, pool, rerank) = gateOf(index, metric) match {
      case None => (Seq(exact), k, (rows: Seq[InternalRow]) => rows)
      case Some(g) =>
        (Seq(gateScore(g, gateLiterals(index, g, qExpr)).as("score_q"), exact),
          k * math.max(1, config.accuracyFactor),
          (rows: Seq[InternalRow]) => rows.sorted(order(3, asc = false)))
    }
    val scored = view.select(col("cluster_id") +: col("id") +: scores: _*)
    val tops =
      if (idFilter.isEmpty)
        Op.scope(sc, "ann:candidates")(clusterTops(scored.filter(probe), first, pool))
      else Op.scope(sc, "ann:clusters")(clusterTops(scored, first, pool))
    def attempt(nProbe: Int): Seq[InternalRow] = rerank(
      clusters.take(nProbe).flatMap(c => tops.get(c).fold(Seq.empty[InternalRow])(_._2))
        .sorted(first).take(pool)).take(k)
    val top =
      if (idFilter.isEmpty) attempt(nProbe0)
      else widening(index.nClusters, nProbe0, k, index.assignmentRows,
        tops.values.map(_._1).sum)(attempt)(_.length < _)
    val toId = CatalystTypeConverters.createToScalaConverter(idType)
    top.map(r => toId(r.get(1, idType)))
  }

  /** One pass over `scored` (cluster_id, id, score...) rows: per cluster,
    * its row count and its n first rows under `order`. Each partition
    * keeps a bounded heap per cluster and the driver merges the
    * partitions' lists, so no shuffle runs and the pass is one job. The
    * assignments are not clustered on disk, so scoring every survivor
    * reads no more than a probe of a few clusters would. */
  private def clusterTops(scored: DataFrame, order: Ordering[InternalRow],
      n: Int): Map[Int, (Long, Seq[InternalRow])] =
    scored.queryExecution.toRdd.mapPartitions { rows =>
      val counts = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
      // each queue's head is its worst row
      val tops = mutable.HashMap.empty[Int, mutable.PriorityQueue[InternalRow]]
      rows.foreach { r =>
        val c = r.getInt(0)
        counts(c) += 1
        val top = tops.getOrElseUpdate(c, mutable.PriorityQueue.empty(order))
        if (top.size < n) top += r.copy()
        else if (top.nonEmpty && order.lt(r, top.head)) { top.dequeue(); top += r.copy() }
      }
      counts.iterator.map { case (c, cnt) => (c, cnt, tops(c).toSeq) }
    }.collect().groupBy(_._1).map { case (c, parts) =>
      c -> (parts.map(_._2).sum, parts.toSeq.flatMap(_._3).sorted(order).take(n))
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

  /** The gate's query-side columns, added in order to a frame of query
    * vectors `q_vec` (each may read the ones before it), so each is
    * computed once per query row: the int8 form; or, for PQ, the normalized
    * query, the cluster-level term q^·c^ for every normalized centroid,
    * and the m x ksub lookup tables of (query subvector)·(sub-centroid)
    * against the literal-bound codebooks (asymmetric distance
    * computation). */
  private def gateQuery(gate: Gate, centers: Seq[(Int, Array[Float])]): Seq[(String, Column)] =
    gate match {
      case Int8 => Seq("__qq" -> quantizeVec(col("q_vec")))
      case Pq(cb) => Seq(
        "__qn" -> l2normalize(col("q_vec")),
        "__qcs" -> transform(normalizedCentroidLit(centers), c => gf.dot(col("__qn"), c)),
        "__lut" -> array((0 until cb.m).map { j =>
          transform(bookLit(cb, j), c => gf.dot(slice(col("__qn"), j * cb.dsub + 1, cb.dsub), c))
        }: _*))
    }

  /** A candidate row's gate score against [[gateQuery]]'s columns, by
    * name through `qs`: int8 cosine; or, for PQ,
    * dot(q^, v^) = dot(q^, c^) + dot(q^, r^) with the residual term as
    * m table lookups over the row's codes. */
  private def gateScore(gate: Gate, qs: String => Column): Column = gate match {
    case Int8 => gf.cosine_similarity(col("vec_q"), qs("__qq"))
    case Pq(_) =>
      element_at(qs("__qcs"), col("cluster_id") + 1) + aggregate(
        zip_with(col("codes"), qs("__lut"), (cd, t) => element_at(t, cd + 1)),
        lit(0.0), (acc, x) => acc + x)
  }

  /** [[gateQuery]]'s columns for one query vector as literals: the frame
    * search's own expressions, evaluated on the driver over a one-row
    * local relation (the optimizer folds it; no job runs) */
  private def gateLiterals(index: Index, gate: Gate, qExpr: Literal): Map[String, Column] = {
    val spark = index.assignments.sparkSession
    val values = gateQuery(gate, index.centers).foldLeft(
        spark.createDataFrame(java.util.List.of(Row.empty), new StructType())
          .select(Bridge.column(qExpr).as("q_vec"))) {
      case (df, (name, c)) => df.withColumn(name, c)
    }
    val row = values.collect().head
    values.schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> Bridge.column(Literal.create(row.get(i), f.dataType))
    }.toMap
  }

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
    * want = min(k, survivors) hits. Returns the last attempt. The frame
    * search runs each attempt as Spark jobs; [[topIds]] replays the
    * same schedule on the driver over one pass's per-cluster lists. */
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

  /** [[widening]] over frames, for [[search]]. Unfiltered, the frame
    * search is `once(nProbe0)` and stays lazy (`nQueries` is never
    * forced); filtered, it runs the count jobs and one shortfall job per
    * attempt, and returns a persisted result that the caller owns. The
    * TQL route's single-query search ([[topIds]]) runs neither: it
    * collects its candidates eagerly in one job (filtered: one
    * per-cluster pass plus its filter-id broadcast) and persists
    * nothing. */
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

  /** exact-vs-ann recall@k of `index` (quality gate analog of the
    * reference's test_embedding_quality.py) */
  def recallAtK(index: Index, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, config: SearchConfig = SearchConfig()): Double = {
    val exact = SimilaritySearch.bruteForceTopK(
        corpus, idCol, vecCol, queries, idCol, vecCol, k)
      .select(col("qid"), col("id"))
    val approx = search(index, queries, idCol, vecCol, k, config)
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
  private def normalizedCentroidLit(centers: Seq[(Int, Array[Float])]): Column = {
    require(centers.map(_._1) == centers.indices, "cluster ids must be 0..k-1")
    array(centers.map { case (_, cv) =>
      val n = math.max(1e-30, math.sqrt(cv.map(x => x.toDouble * x).sum))
      array(cv.map(x => lit((x / n).toFloat)): _*)
    }: _*)
  }

  /** v^ - c^ of each (vec, cluster_id) row, as floats */
  private def residual(centers: Seq[(Int, Array[Float])]): Column =
    zip_with(l2normalize(col("vec")),
      element_at(normalizedCentroidLit(centers), col("cluster_id") + 1),
      (v, c) => (v - c).cast("float"))

  /** Build an IVF-PQ index: the coarse KMeans of [[build]] gated by
    * m-byte PQ codes ([[Pq]]). One KMeans per subspace runs over the
    * RESIDUALS `vnorm - centroid_norm` — the canonical IVF-PQ
    * arrangement: the coarse index explains the cluster-level direction,
    * so the codebooks spend their entire budget on the (much smaller)
    * within-cluster displacement. Each candidate's gate score is then m
    * table lookups instead of d multiplies — at 4 B/dim → 1 B/8 dims.
    * Vector dim must divide `m`. Encoding minimizes per-subspace L2
    * reconstruction error, the standard surrogate for inner-product
    * fidelity. */
  def buildPq(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, m: Int = 8, ksub: Int = 64,
      buildMultiplier: Int = 4, seed: Long = 42L): Index = {
    val coarse = build(emb, idCol, vecCol, nClusters, buildMultiplier, seed)
    val dim = emb.select(size(col(vecCol))).first().getInt(0)
    require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val base = coarse.assignments.withColumn("__res", residual(coarse.centers)).persist()
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
    coarse.copy(assignments = assignments, gate = Some(Pq(cb)))
  }
}
