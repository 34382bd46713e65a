package graft.operators

import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space transforms for curation pipelines. PCA reduction is
  * the standard pre-step before clustering / SemDeDup at scale (SemDeDup
  * itself operates on dimensionality-reduced embeddings): cut a 768-d
  * column to 32-128 dims once, then every downstream pairwise kernel
  * costs proportionally less.
  *
  * Scale shape: the covariance accumulates via treeAggregate (d x d
  * driver matrix — bounded by embedding WIDTH, never row count); the
  * fitted projection matrix broadcasts and the transform is one
  * map-side matrix-vector multiply per row. No shuffles anywhere.
  */
object EmbeddingOps {

  final case class PcaModel(model: org.apache.spark.ml.feature.PCAModel) {
    /** fraction of variance captured per component (descending) */
    def explainedVariance: Array[Double] = model.explainedVariance.toArray
    /** project `emb`'s vector column to the fitted k dims (map-side) */
    def transform(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
      model.transform(prep(emb, idCol, vecCol))
        .select(col("id").as(idCol),
          vector_to_array(col("__pca"), "float32").as(s"${vecCol}_pca"))
  }

  private def prep(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"),
      array_to_vector(col(vecCol).cast("array<double>")).as("__features"))

  /** Fit a k-component PCA on the embedding column. Deterministic given
    * the data (dense eigendecomposition of the Gramian) up to component
    * SIGN — norms, distances, and explained variance are sign-invariant
    * and fully stable. */
  def fitPca(emb: DataFrame, idCol: String, vecCol: String, k: Int): PcaModel = {
    require(k > 0, "k must be positive")
    PcaModel(new PCA().setInputCol("__features").setOutputCol("__pca")
      .setK(k).fit(prep(emb, idCol, vecCol)))
  }

  /** Per-label element-wise mean vectors (class centroids — prototype
    * classifiers, per-class drift monitoring, cluster seeding).
    * MLlib's Summarizer is the aggregation: a FIXED-WIDTH d-double
    * buffer per label with map-side combine — the n×d explode a naive
    * (label, dim) aggregation would shuffle never exists. Returns
    * (label, centroid, n). */
  def labelCentroids(emb: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.ml.stat.Summarizer
    emb.select(col(labelCol).as("label"),
        array_to_vector(col(vecCol).cast("array<double>")).as("__v"))
      .groupBy(col("label"))
      .agg(Summarizer.mean(col("__v")).as("__m"), count(lit(1)).as("n"))
      .select(col("label"), vector_to_array(col("__m")).as("centroid"), col("n"))
  }

  /** Label-outlier scores (the cleanlab-style mislabeled-sample QA
    * check, public method — Northcutt et al. 2021 frame label noise
    * detection via per-class statistics): each sample's L2 distance to
    * its OWN label's centroid, z-scored within the label. A large z
    * means the sample sits far from its class — a mislabel, an
    * ambiguous sample, or genuine class spread worth auditing before
    * training.
    *
    * Scale shape: centroids are one fixed-width Summarizer agg (k×d,
    * broadcast back), distance is map-side array math, per-label
    * (μ, σ) is a k-row agg broadcast back — two tiny broadcasts, zero
    * data-sized shuffles beyond the centroid agg itself.
    * Returns (id, label, dist, z). */
  def labelOutliers(emb: DataFrame, idCol: String, labelCol: String,
      vecCol: String): DataFrame = {
    val cents = labelCentroids(emb, labelCol, vecCol)
      .select(col("label"), col("centroid"))
    val dists = emb.select(col(idCol).as("id"), col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("__e"))
      .join(broadcast(cents), "label")
      .select(col("id"), col("label"),
        sqrt(aggregate(
          zip_with(col("__e"), col("centroid"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)).as("dist"))
    val stats = dists.groupBy(col("label"))
      .agg(avg(col("dist")).as("__mu"), stddev_samp(col("dist")).as("__sigma"))
    dists.join(broadcast(stats), "label")
      .select(col("id"), col("label"), col("dist"),
        ((col("dist") - col("__mu")) / col("__sigma")).as("z"))
  }

  /** DBSCAN density clustering over the embedding space (Ester et al.
    * 1996) in cosine distance — the "find the blobs AND the noise"
    * step between near-dup pairs and corpus curation: semantic topic
    * islands cluster, one-off outliers stay labeled noise instead of
    * being forced into a nearest centroid the way k-means does.
    *
    * Composed from two already-verified distributed pieces:
    * ε-neighbor pairs come from [[Dedup.embeddingNearDupPairs]]'
    * LOSSLESS angular cluster blocking (threshold = 1 − eps; no
    * all-pairs, salt-split hot clusters), and core-core edges collapse
    * through [[Dedup.connectedComponents]]' pointer-jumping
    * min-label propagation (O(log n) rounds). Core points have ≥
    * minPts−1 neighbors (minPts counting the point itself — the
    * paper's convention); borders attach to their minimum core
    * cluster; everything else is noise (cluster −1). Border
    * attachment to the MIN core id keeps the labeling deterministic
    * where the paper leaves it order-dependent.
    *
    * Returns (id, cluster, role ∈ core|border|noise). */
  def dbscan(emb: DataFrame, idCol: String, vecCol: String,
      eps: Double, minPts: Int, nClusters: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(eps > 0 && eps < 1, "eps is a cosine distance in (0,1)")
    require(minPts >= 2, "minPts must be >= 2")
    val pairs = Dedup.embeddingNearDupPairs(emb, idCol, vecCol,
        threshold = 1.0 - eps, nClusters, centroids = centroids)
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b"))
      .localCheckpoint() // three consumers (degrees, core edges, border join)
    val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    val degrees = edges.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("__deg"))
    val ids = emb.select(col(idCol).cast("long").as("id"))
    val cores = ids.join(degrees, Seq("id"), "left")
      .filter(coalesce(col("__deg"), lit(0L)) >= minPts - 1)
      .select(col("id"))
    val coreEdges = edges
      .join(cores.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(cores.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
    // coreEdges is symmetric by construction (edges = pairs ∪ swapped,
    // preserved by the two semi-joins) — skip CC's re-symmetrization
    val coreClusters = Dedup.connectedComponents(coreEdges, "a", "b",
        symmetric = true)
      .select(col("id"), col("component_id").as("cluster"))
      // isolated cores (no core neighbor) form their own singleton
      // cluster keyed by their id
      .unionByName(cores.join(
          coreEdges.select(col("a").as("id")).distinct(), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster")))
    val borderAttach = edges
      .join(coreClusters.withColumnRenamed("id", "b")
        .withColumnRenamed("cluster", "__bc"), Seq("b"))
      .groupBy(col("a").as("id")).agg(min(col("__bc")).as("__battach"))
    ids
      .join(coreClusters, Seq("id"), "left")
      .join(borderAttach, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster"), col("__battach"), lit(-1L)).as("cluster"),
        when(col("cluster").isNotNull, "core")
          .when(col("__battach").isNotNull, "border")
          .otherwise("noise").as("role"))
  }

  /** kNN label-agreement noise score (Wilson 1972's edited
    * nearest-neighbor rule, the instance-level complement to
    * [[labelOutliers]]'s per-class centroid z): for each audited
    * sample, the fraction of its k nearest neighbors (cosine,
    * self-excluded) that share its label, plus the neighborhood's
    * majority label. A sample whose neighbors overwhelmingly disagree
    * is a mislabel candidate regardless of where its class centroid
    * sits — catching the swap-noise cases centroid distance misses.
    *
    * Scale shape: the audit set is bounded by contract and broadcasts;
    * the corpus is scanned ONCE through a broadcast nested-loop score
    * (the [[knnShapley]] posture), the per-query top-k is a window
    * over qid keys, and everything after runs on |audit|·k rows.
    * Returns (id, label, agreement, majority_label, suspect). FULL
    * oracle. */
  def knnLabelAgreement(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, auditIds: DataFrame, k: Int,
      minAgreement: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = emb.select(col(idCol).as("id"), col(labelCol).as("label"),
      col(vecCol).cast("array<double>").as("__v"))
    val audit = base.join(
        auditIds.select(col(auditIds.columns.head).as("id")), Seq("id"), "left_semi")
      .select(col("id").as("qid"), col("label").as("qlabel"),
        col("__v").as("__qv"))
    val scored = base.crossJoin(broadcast(audit))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("id"), col("label"),
        graft.functions.gf.cosine_similarity(col("__v"), col("__qv")).as("sim"))
    val top = scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))))
      .filter(col("rk") <= k)
    val maj = top.groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("nl"))
      .withColumn("mr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("nl").desc, col("label"))))
      .filter(col("mr") === 1)
      .select(col("qid"), col("label").as("majority_label"))
    top.groupBy(col("qid").as("id"), col("qlabel").as("label"))
      .agg(round(avg((col("label") === col("qlabel")).cast("double")), 6)
        .as("agreement"))
      .join(maj.withColumnRenamed("qid", "id"), "id")
      .withColumn("suspect", col("agreement") < minAgreement)
      .select(col("id"), col("label"), col("agreement"),
        col("majority_label"), col("suspect"))
  }

  /** Matryoshka truncation (Kusupati et al. 2022): keep the first
    * `dims` components and L2-renormalize — the storage/latency lever
    * of MRL-trained embeddings (search the short prefix, rerank with
    * the full vector). Map-side only; a zero prefix degrades to NULL
    * rather than dividing by zero. Cosine ranking over the output is
    * identical with or without the renorm (scale invariance), so the
    * renorm exists for the dot-product consumers. */
  def matryoshka(emb: DataFrame, vecCol: String, dims: Int,
      outCol: String = "vec_trunc"): DataFrame = {
    require(dims >= 1, "dims must be >= 1")
    val t = slice(col(vecCol).cast("array<double>"), 1, dims)
    val n = sqrt(aggregate(t, lit(0.0), (acc, x) => acc + x * x))
    emb.withColumn(outCol,
      when(n > 0, transform(t, x => x / n)))
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-first
    * traversal; the data-selection workhorse of Sener & Savarese 2018
    * active learning): starting from `startId`, repeatedly pick the
    * point FARTHEST (max min-cosine-distance) from everything selected
    * so far — a diversity-maximizing subset with a 2-approximation
    * guarantee for the k-center objective.
    *
    * Distances round to 6dp (id tiebreak) so the greedy choice is
    * engine-exact, and k is fixed — the selection UNROLLS into one
    * DuckDB CTE per step (FULL oracle), exactly the [[Graphs.randomWalks]]
    * posture for a sequential algorithm.
    *
    * Scale shape: the selected set is ≤ k vectors and rides the plan
    * as literal arrays (a `least` over ≤ k codegen'd cosine kernels —
    * map-side, no shuffle, no crossJoin); each step is ONE distributed
    * argmax (TakeOrdered, never a global sort) collecting a single
    * row. k driver round-trips for k selections is the algorithm's
    * intrinsic sequentiality — each choice depends on the last.
    * Returns (rank, id, dist): dist = the min-distance to the
    * previously selected set at selection time (0 for the start). */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      startId: Long, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // canonicalize to array<double> so float AND double inputs (e.g.
    // matryoshka()'s output) both work, and the engine-side cosine runs
    // in the same width the oracle's ::DOUBLE[] cast uses
    // persist once: the loop re-executes this frame k+1 times (startId
    // lookup + one argmax per greedy step); without the persist each
    // step re-scans the source and re-casts the vectors
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v")).persist()
    try {
      val startRow = base.filter(col("id") === startId).collect()
      require(startRow.nonEmpty, s"startId $startId not present in $idCol")
      val picked = scala.collection.mutable.ArrayBuffer(
        (0, startId, 0.0, startRow.head.getSeq[Double](1)))
      var t = 1
      var exhausted = false
      while (t < k && !exhausted) {
        val selIds = picked.map(_._2)
        val dists = picked.map { case (_, _, _, sv) =>
          round(lit(1.0) - graft.functions.gf.cosine_similarity(col("v"),
            array(sv.map(x => lit(x)): _*)), 6)
        }
        val md = if (dists.size == 1) dists.head else least(dists.toSeq: _*)
        val next = base.filter(!col("id").isInCollection(selIds))
          .withColumn("__md", md)
          .orderBy(col("__md").desc, col("id"))
          .limit(1).collect()
        if (next.isEmpty) exhausted = true // k exceeds the point count
        else {
          picked += ((t, next.head.getLong(0), next.head.getDouble(2),
            next.head.getSeq[Double](1)))
          t += 1
        }
      }
      picked.toSeq.map { case (r, id, d, _) => (r, id, d) }
        .toDF("sel_rank", "id", "dist")
    } finally base.unpersist()
  }

  /** k-means++ D² seeding (Arthur & Vassilvitskii 2007 — the O(log k)-
    * approximation seeding every serious k-means build starts from,
    * including this repo's ANN index): after the start center, each
    * next center is sampled with probability ∝ D(x)², the squared
    * min-cosine-distance to the selected set — the probabilistic
    * cousin of [[kCenterGreedy]]'s deterministic farthest-first.
    *
    * The D² draw is an EXPONENTIAL RACE on the md5-fold uniform —
    * argmin round(−ln(u_x)/D(x)², 6), u_x = hashUniformOpen
    * ("<seed>:<step>:<id>") — so the sample is layout/retry-independent
    * and the fixed k unrolls into a FULL SQL oracle (the same posture
    * as node2vec's biased step). Distances round to 6dp BEFORE
    * squaring so both engines square the same number; zero-distance
    * points (already selected / exact duplicates) are excluded — D² of
    * 0 must never sample, exactly the paper's distribution.
    *
    * Scale shape = [[kCenterGreedy]]: ≤ k literal cosine kernels
    * map-side, one distributed argmin (TakeOrdered) per step, k driver
    * round-trips = the algorithm's intrinsic sequentiality. Returns
    * (sel_rank, id, dist) with dist = the min-distance at selection. */
  def kMeansPlusPlusSeed(df: DataFrame, idCol: String, vecCol: String,
      startId: Long, k: Int, seed: String = "kpp42"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v")).persist()
    try {
      val startRow = base.filter(col("id") === startId).collect()
      require(startRow.nonEmpty, s"startId $startId not present in $idCol")
      val picked = scala.collection.mutable.ArrayBuffer(
        (0, startId, 0.0, startRow.head.getSeq[Double](1)))
      var t = 1
      var exhausted = false
      while (t < k && !exhausted) {
        val selIds = picked.map(_._2)
        val dists = picked.map { case (_, _, _, sv) =>
          round(lit(1.0) - graft.functions.gf.cosine_similarity(col("v"),
            array(sv.map(x => lit(x)): _*)), 6)
        }
        val md = if (dists.size == 1) dists.head else least(dists.toSeq: _*)
        val u = Sampling.hashUniformOpen(concat_ws(":",
          lit(seed), lit(t), col("id")))
        val next = base.filter(!col("id").isInCollection(selIds))
          .withColumn("__md", md)
          .filter(col("__md") > 0)
          .withColumn("__key", round(-log(u) / (col("__md") * col("__md")), 6))
          .orderBy(col("__key"), col("id"))
          .limit(1).collect()
        if (next.isEmpty) exhausted = true // every remaining point is a dup
        else {
          picked += ((t, next.head.getLong(0), next.head.getDouble(2),
            next.head.getSeq[Double](1)))
          t += 1
        }
      }
      picked.toSeq.map { case (r, id, d, _) => (r, id, d) }
        .toDF("sel_rank", "id", "dist")
    } finally base.unpersist()
  }

  /** Exact KNN-Shapley data valuation (Jia et al., VLDB 2019 — the
    * closed-form Shapley value of every training point under the
    * K-nearest-neighbor utility, computed in O(N log N) per validation
    * point instead of the 2^N subset enumeration): which training rows
    * HELP a clean validation set, and which hurt (negative values =
    * mislabeled/poisoned candidates — the data-debugging signal
    * curation pipelines act on).
    *
    * For one val point with train ranked by distance (rank j = j-th
    * nearest of N): s_N = 1[y_N = y]/N, and
    *   s_j = s_{j+1} + (1[y_j = y] − 1[y_{j+1} = y])/K · min(K, j)/j —
    * a SUFFIX SUM over ranks, so the whole recursion is one window
    * frame (rowsBetween current→unbounded) — no sequential driver
    * loop, and the math replays 1:1 in any engine with window frames
    * (FULL DuckDB oracle). Spec gates it against an exhaustive 2^N
    * Shapley enumeration and the efficiency axiom Σᵢ sᵢ = v(full).
    *
    * Ranking uses cosine similarity ROUNDED to 6dp (then train-id
    * tiebreak) so the neighbor order is engine-exact. Scale shape: the
    * val set is bounded by contract (a curated clean set, hundreds of
    * points); train×val is a broadcast nested-loop the size of
    * N·|val|, ranked per val point by one window — shuffle keys are
    * val ids, N rows each. Returns (id, label, shapley) averaged over
    * the val set. */
  def knnShapley(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, valPred: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"), col(labelCol).cast("long").as("y"))
    val valSet = base.filter(valPred)
      .select(col("id").as("vid"), col("v").as("vv"), col("y").as("vy"))
    // the broadcast nested-loop score is FLOP-bound (|train|·|val| cosine
    // kernels), not byte-bound: a narrow train scan arrives in a handful
    // of input splits and AQE coalesces by bytes, leaving the dominant
    // compute job nearly serial (measured: one 2.4s stage on 6 of 32
    // cores at bench scale). Spread the train side to at least the core
    // count before fanning out; at real scale the scan already carries
    // >= par partitions and the round-robin repartition is a cheap,
    // payload-light rebalance of the narrow (id, v, y) rows (guide §2.6
    // idle capacity).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val train = graft.core.Par.spread(base.filter(!valPred))
    val sim = train.crossJoin(broadcast(valSet))
      .select(col("vid"), col("vy"), col("id"), col("y"),
        round(graft.functions.gf.cosine_similarity(col("v"), col("vv")), 6)
          .as("sim"))
    val byVal = Window.partitionBy(col("vid"))
    // explicit vid repartition: the window's own exchange would be
    // AQE-coalesced by BYTES (the sim rows are narrow), serializing the
    // rank/suffix-sum compute; an explicit keyed repartition is exempt
    // from coalescing and keeps the per-vid windows spread across cores
    val ranked = sim.repartition(par, col("vid"))
      .withColumn("j", row_number().over(
        byVal.orderBy(col("sim").desc, col("id"))))
      .withColumn("n", count(lit(1)).over(byVal))
      .withColumn("i", when(col("y") === col("vy"), 1.0).otherwise(0.0))
    val suffix = byVal.orderBy(col("j"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val scored = ranked
      .withColumn("i_next", lead(col("i"), 1).over(byVal.orderBy(col("j"))))
      .withColumn("t", when(col("j") < col("n"),
        (col("i") - col("i_next")) / k *
          (least(lit(k), col("j")).cast("double") / col("j"))).otherwise(lit(0.0)))
      .withColumn("i_last", last(col("i")).over(suffix))
      .withColumn("s", sum(col("t")).over(suffix) + col("i_last") / col("n"))
    scored.groupBy(col("id"), col("y").as("label"))
      .agg(round(avg(col("s")), 6).as("shapley"))
  }

  /** Spherical k-means Lloyd iterations (Dhillon & Modha 2001 — the
    * standard topic-clustering pass over document embeddings, and the
    * batch cousin of this repo's ANN coarse quantizer): fixed seed ids,
    * then `iters` rounds of (assign each point to the nearest centroid
    * by cosine distance) / (recompute each centroid as the coordinate
    * mean of its members).
    *
    * Cross-engine exactness contract (the [[kCenterGreedy]] posture):
    * distances round to 6dp before the argmin (cluster-id tiebreak),
    * and centroid COMPONENTS round to 6dp after each mean — so both
    * engines square/compare the same numbers and the fixed iteration
    * count UNROLLS into one assign+update CTE pair per round (FULL
    * DuckDB oracle). A cluster that empties keeps its previous centroid
    * (both engines).
    *
    * Scale shape: centroids are a k×d driver artifact (bounded by the
    * CLUSTER count, never row count) riding the plan as literal arrays;
    * assignment is ≤ k codegen'd cosine kernels map-side (no shuffle,
    * no crossJoin), and each update is ONE hash-agg on (cluster, dim) —
    * k·d groups with map-side partials. `iters` driver round-trips is
    * Lloyd's intrinsic sequentiality. Returns (id, cluster, dist) with
    * dist = the 6dp cosine distance to the point's FINAL centroid. */
  def kMeansLloyd(df: DataFrame, idCol: String, vecCol: String,
      seedIds: Seq[Long], iters: Int): DataFrame = {
    require(seedIds.nonEmpty, "need at least one seed id")
    require(iters >= 1, "iters must be >= 1")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v")).persist()
    try {
      val seedRows = base.filter(col("id").isInCollection(seedIds)).collect()
      require(seedRows.length == seedIds.length,
        s"missing seed ids: found ${seedRows.length} of ${seedIds.length}")
      val byId = seedRows.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      // cluster c = position of its seed in seedIds (stable labels)
      var cents: Map[Int, Seq[Double]] =
        seedIds.zipWithIndex.map { case (sid, c) => c -> byId(sid) }.toMap
      def assigned: DataFrame = {
        // nearest centroid: 6dp cosine distance, lower cluster id wins ties
        val pairs = cents.toSeq.sortBy(_._1).map { case (c, cv) =>
          struct(
            round(lit(1.0) - graft.functions.gf.cosine_similarity(col("v"),
              array(cv.map(x => lit(x)): _*)), 6).as("dist"),
            lit(c).as("cluster"))
        }
        val best = array_min(array(pairs: _*))
        base.withColumn("cluster", best.getField("cluster"))
          .withColumn("dist", best.getField("dist"))
      }
      for (_ <- 1 to iters) {
        val upd = assigned
          .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cluster"), col("dim"))
          .agg(round(avg(col("x")), 6).as("xa"))
          .groupBy(col("cluster"))
          .agg(array_sort(collect_list(struct(col("dim"), col("xa"))))
            .as("pairs"))
          .select(col("cluster"),
            transform(col("pairs"), p => p.getField("xa")).as("cv"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        cents = cents.map { case (c, old) => c -> upd.getOrElse(c, old) }
      }
      assigned.select(col("id"), col("cluster"), col("dist"))
    } finally base.unpersist()
  }
}
