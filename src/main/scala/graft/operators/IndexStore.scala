package graft.operators

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Build-once store for index artifacts (ANN / inverted / BM25) keyed by
  * the source data directory — the analog of the reference *maintaining*
  * its indexes next to the dataset (`cpp/deeplake_pg/index_search.cpp:
  * 114-169`): queries search a persisted artifact; they never pay the
  * build. The first caller per (dir, artifact) builds and persists to
  * parquet under `target/graft-index-cache` (override with env
  * GRAFT_INDEX_CACHE); every later call — across queries AND across JVM
  * runs — just opens the parquet.
  *
  * At 100 TB each build is a legitimate batch job (KMeans fit, one
  * tokenize pass); the point is it runs once per dataset version, not
  * once per query.
  */
object IndexStore {

  // kept on the OS disk (not tmpfs): artifacts are build-once-per-dataset
  // and the disk copy survives JVM restarts and host reboots, so repeated
  // bench/verify runs never pay the build again — matching the reference,
  // where the index lives next to the dataset in durable storage
  private val root: String = sys.env.getOrElse("GRAFT_INDEX_CACHE",
    new File("target/graft-index-cache").getAbsolutePath)

  /** bump when an artifact's on-disk layout changes */
  private val FormatVersion = "v1"

  private[graft] def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def artifactDir(sfDir: String, name: String): File =
    new File(s"$root/$FormatVersion/${md5hex(sfDir.stripSuffix("/"))}/$name")

  /** run `build` once per artifact dir (marker-file idempotence;
    * synchronized so parallel queries in one JVM don't double-build, and
    * an exclusive OS file lock so parallel JVMs — e.g. forked test
    * groups — don't either: the second process blocks on the lock, then
    * sees the marker and just opens the artifact) */
  private def ensure(dir: File)(build: String => Unit): String = synchronized {
    val marker = new File(dir, "_GRAFT_READY")
    if (!marker.exists()) {
      dir.getParentFile.mkdirs()
      val lockFile = new File(dir.getParentFile, s".${dir.getName}.lock")
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until any concurrent builder finishes
        try {
          if (!marker.exists()) {
            build(dir.toString)
            dir.mkdirs()
            java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
          }
        } finally lock.release()
      } finally ch.close()
    }
    dir.toString
  }

  /** One KMeans fit backs BOTH ANN artifacts: the quantized index is a
    * superset of the plain one (same centroids/assignments + the int8
    * form), so the store persists the quantized layout once and serves
    * the plain Clustered index as a projection that drops `vec_q`.
    * The fit — the expensive part of the build — runs exactly once per
    * dataset. */
  private def annArtifact(spark: SparkSession, sfDir: String, nClusters: Int): String =
    ensure(artifactDir(sfDir, s"annq$nClusters")) { d =>
      AnnIndex.save(AnnIndex.build(
        Tables(spark, sfDir, "embeddings"), "vec_id", "embedding", nClusters,
        quantized = true), d)
    }

  /** Absolute artifact dir of the ANN index for `sfDir` — the DuckDB
    * oracle reads the SAME centroid parquet the engine serves from
    * (Verify substitutes this for the `__ANN_ARTIFACT__` token in
    * oracle SQL at dump time, so the oracle follows whatever data dir
    * the driver verified). Does not build; callers pair it with a
    * query that already ensured the artifact. */
  def annArtifactPath(sfDir: String, nClusters: Int = 16): String =
    artifactDir(sfDir, s"annq$nClusters").toString

  /** plain Clustered ANN index over embeddings(vec_id, embedding) */
  def ann(spark: SparkSession, sfDir: String, nClusters: Int = 16): AnnIndex.Index = {
    val idx = AnnIndex.load(spark, annArtifact(spark, sfDir, nClusters))
    idx.copy(assignments = idx.assignments.drop("vec_q"), gate = None)
  }

  /** ClusteredQuantized ANN index (int8 candidate form stored) */
  def annQuantized(spark: SparkSession, sfDir: String, nClusters: Int = 16): AnnIndex.Index =
    AnnIndex.load(spark, annArtifact(spark, sfDir, nClusters))

  /** IVF-PQ index over embeddings(vec_id, embedding): the clustered
    * index gated by m-byte PQ codes (candidates score by table lookups,
    * not float math) */
  def annPq(spark: SparkSession, sfDir: String, nClusters: Int = 16,
      m: Int = 8, ksub: Int = 64): AnnIndex.Index =
    AnnIndex.load(spark, ensure(artifactDir(sfDir, s"annpq2-$nClusters-$m-$ksub")) { d =>
      AnnIndex.save(AnnIndex.buildPq(
        Tables(spark, sfDir, "embeddings"), "vec_id", "embedding",
        nClusters, m, ksub), d)
    })

  /** Multi-vector "pages" for the MAXSIM index route (the ColPali shape:
    * one bag of patch embeddings per page — reference pairs MAXSIM with
    * the embedding index, `docs/docs/guide/rag.md:1377-1413`): embeddings
    * fold into bags of 8 consecutive vectors (page_id = vec_id DIV 8,
    * bag ordered by vec_id so the artifact is deterministic), plus the
    * element-wise MEAN-POOLED vector the companion clustered index is
    * built over (`maxsim_pooled` is the reference's single-vector
    * prefilter form, `cpp/nd/norm.hpp:46-56`). */
  private def maxsimArtifact(spark: SparkSession, sfDir: String): String =
    ensure(artifactDir(sfDir, "maxsim_pages8")) { d =>
      import org.apache.spark.sql.functions._
      val e = Tables(spark, sfDir, "embeddings")
      val bags = e
        .groupBy(expr("vec_id DIV 8").as("page_id"))
        .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
          .as("sb"))
        .select(col("page_id"),
          transform(col("sb"), s => s("embedding")).as("bag"))
        .withColumn("pooled", graft.functions.gf.mean_pool_rows(col("bag")))
      bags.write.mode("overwrite").parquet(s"$d/bags")
      AnnIndex.save(AnnIndex.build(
        spark.read.parquet(s"$d/bags"), "page_id", "pooled", nClusters = 8),
        s"$d/index")
    }

  /** parquet path of the MAXSIM pages table — usable directly as a TQL
    * `FROM "<path>"` URL reference */
  def maxsimBagsPath(spark: SparkSession, sfDir: String): String =
    s"${maxsimArtifact(spark, sfDir)}/bags"

  /** absolute MAXSIM artifact dir (bags + pooled-vector index) for the
    * `__MAXSIM_ARTIFACT__` oracle token — see [[annArtifactPath]] */
  def maxsimArtifactPath(sfDir: String): String =
    artifactDir(sfDir, "maxsim_pages8").toString

  /** absolute IVF-PQ artifact dir for the `__ANNPQ_ARTIFACT__` oracle
    * token — see [[annArtifactPath]] */
  def annPqArtifactPath(sfDir: String, nClusters: Int = 16, m: Int = 8,
      ksub: Int = 64): String =
    artifactDir(sfDir, s"annpq2-$nClusters-$m-$ksub").toString

  /** PCA loadings artifact over embeddings(embedding): the fitted
    * d×k principal-component matrix in long form (i, k, v) plus the
    * per-component explained-variance table. Built once per dataset
    * (the eigendecomposition is the expensive, non-SQL part); queries
    * project map-side against the persisted loadings, and the DuckDB
    * oracle replays the SAME projection from the SAME parquet — the
    * artifact-replay pattern that turned the ANN routes into full
    * oracles. Component sign is build-specific, but both engines read
    * the one persisted matrix, so even signed projections agree. */
  private def pcaArtifact(spark: SparkSession, sfDir: String, k: Int): String =
    ensure(artifactDir(sfDir, s"pca$k")) { d =>
      import spark.implicits._
      val m = EmbeddingOps.fitPca(
        Tables(spark, sfDir, "embeddings"), "vec_id", "embedding", k)
      val pc = m.model.pc
      (for (i <- 0 until pc.numRows; kk <- 0 until pc.numCols)
        yield (i, kk, pc(i, kk)))
        .toDF("i", "k", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$d/loadings")
      m.explainedVariance.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
        .toDF("k", "explained_variance").coalesce(1)
        .write.mode("overwrite").parquet(s"$d/variance")
    }

  /** Rule-distilled quality-classifier artifact (q_quality_model's
    * training baked once per dataset): every doc labeled by the Gopher
    * rules, md5-hashed-BoW logistic regression trained on the EVEN
    * doc_id half (L-BFGS — the non-SQL part), nonzero weights +
    * intercept persisted. Scoring queries broadcast-join the weight
    * table; the DuckDB oracle replays the identical join + sigmoid
    * from the same parquet. */
  private def qmArtifact(spark: SparkSession, sfDir: String): String =
    ensure(artifactDir(sfDir, "qm1")) { d =>
      import org.apache.spark.sql.functions._
      val docs = Tables(spark, sfDir, "documents")
      val m = docs.select(col("doc_id") +: col("text") +:
        TextAnalysis.ruleMetrics(col("text")).map { case (n, c) => c.as(n) }: _*)
      val flags = TextAnalysis.ruleFlags(n => col(n))
      val labeled = m.withColumn("label",
        TextAnalysis.ruleKeep(flags.map(_._2)).cast("int"))
      QualityModel.save(QualityModel.train(
        labeled.filter(col("doc_id") % 2 === 0), "text", "label", maxIter = 15),
        spark, d)
    }

  /** nonzero (bucket, w) rows of the quality-model artifact */
  def qmWeights(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${qmArtifact(spark, sfDir)}/weights")

  /** (intercept, dim) of the quality-model artifact */
  def qmMeta(spark: SparkSession, sfDir: String): (Double, Int) = {
    val r = spark.read.parquet(s"${qmArtifact(spark, sfDir)}/meta").head()
    (r.getDouble(0), r.getInt(1))
  }

  /** absolute artifact dir for the `__QM_ARTIFACT__` oracle token */
  def qmArtifactPath(sfDir: String): String =
    artifactDir(sfDir, "qm1").toString

  /** Trained unigram-LM tokenizer artifact (q_unigram_pieces'
    * training params baked once per dataset): the EM-fitted piece
    * table (piece, log_prob) persists with FULL double precision, so
    * the engine's Viterbi encode and the DuckDB oracle's SQL replay of
    * the same DP read bit-identical probabilities — the non-SQL float
    * EM is taken as given, the ENCODING algorithm is re-derived from
    * first principles on both sides (the ANN-centroid pattern). */
  private def unigramArtifact(spark: SparkSession, sfDir: String): String =
    ensure(artifactDir(sfDir, "unigram64")) { d =>
      import spark.implicits._
      val r = Unigram.train(Tables(spark, sfDir, "documents"), "text",
        vocabSize = 64, emRounds = 2)
      r.pieces.map(p => (p.piece, p.logProb)).toDF("piece", "log_prob")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/pieces")
    }

  /** the persisted piece table as the encode API's Seq[Piece] */
  def unigramPieces(spark: SparkSession, sfDir: String): Seq[Unigram.Piece] =
    spark.read.parquet(s"${unigramArtifact(spark, sfDir)}/pieces")
      .collect().map(r => Unigram.Piece(r.getString(0), r.getDouble(1))).toSeq

  /** absolute artifact dir for the `__UNIGRAM_ARTIFACT__` oracle token */
  def unigramArtifactPath(sfDir: String): String =
    artifactDir(sfDir, "unigram64").toString

  /** fitted loadings (i, k, v) for the k-component PCA artifact */
  def pcaLoadings(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame =
    spark.read.parquet(s"${pcaArtifact(spark, sfDir, k)}/loadings")

  /** absolute PCA artifact dir for the `__PCA_ARTIFACT__` oracle token */
  def pcaArtifactPath(sfDir: String, k: Int = 8): String =
    artifactDir(sfDir, s"pca$k").toString

  /** The ONE place oracle-SQL artifact tokens resolve (Verify and
    * VerifyOne both call this at dump time) — a token added here can
    * never diverge between the full verify pass and the single-query
    * debug loop. */
  def resolveArtifactTokens(sql: String, sfDir: String): String = sql
    .replace("__ANN_ARTIFACT__", annArtifactPath(sfDir))
    .replace("__MAXSIM_ARTIFACT__", maxsimArtifactPath(sfDir))
    .replace("__ANNPQ_ARTIFACT__", annPqArtifactPath(sfDir))
    .replace("__PCA_ARTIFACT__", pcaArtifactPath(sfDir))
    .replace("__QM_ARTIFACT__", qmArtifactPath(sfDir))
    .replace("__UNIGRAM_ARTIFACT__", unigramArtifactPath(sfDir))

  /** clustered index over the pages' mean-pooled vectors (id = page_id) */
  def maxsimAnn(spark: SparkSession, sfDir: String): AnnIndex.Index =
    AnnIndex.load(spark, s"${maxsimArtifact(spark, sfDir)}/index")

  /** Maintained LM count state over documents(text) — the bigram +
    * unigram LSM segments both the add-α (CCNet) and Kneser-Ney scorers
    * serve from ([[TextAnalysis.bigramLmFromCounts]] /
    * [[TextAnalysis.knFromCounts]]). Built once per dataset like every
    * other index artifact; scoring queries then pay key joins against
    * bounded count tables instead of re-exploding the train corpus. */
  def lmCountsDir(spark: SparkSession, sfDir: String): String =
    ensure(artifactDir(sfDir, "lm_counts")) { d =>
      TextAnalysis.writeLmCounts(Tables(spark, sfDir, "documents"), "text", d)
    }

  def lmBigrams(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.readLmBigrams(spark, lmCountsDir(spark, sfDir))

  def lmUnigrams(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.readLmUnigrams(spark, lmCountsDir(spark, sfDir))

  /** inverted text index over documents(doc_id, text) */
  def inverted(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensure(artifactDir(sfDir, "inverted_text")) { d =>
      InvertedIndex.build(Tables(spark, sfDir, "documents"), "doc_id", "text")
        .write.mode("overwrite").parquet(d)
    })

  /** JSON path index over events(event_id, props), path $.k */
  def json(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensure(artifactDir(sfDir, "json_props")) { d =>
      InvertedIndex.buildJson(Tables(spark, sfDir, "events"), "event_id",
          "props", Seq("$.k"))
        .write.mode("overwrite").parquet(d)
    })

  /** BM25 index (postings + stats) over documents(doc_id, text) */
  def bm25(spark: SparkSession, sfDir: String): Bm25.Index =
    Bm25.load(spark, ensure(artifactDir(sfDir, "bm25_text")) { d =>
      Bm25.save(spark, Tables(spark, sfDir, "documents"), "doc_id", "text", d)
    })

  import org.apache.spark.sql.functions._

  /** Purchase graph (customer → supplier via lineitem⋈orders; supplier
    * ids offset into a disjoint space): the edge frame the link-analysis
    * family (pagerank / hits / ppr / walks / degrees) used to re-derive
    * from the corpus-sized source join on EVERY query. Persisted once as
    * a [[GraphStore]] artifact (collapsed multiplicities, src-
    * partitioned) with the same append/delete lifecycle as every other
    * index family; the read is the merged (src, dst, w) frame. */
  def purchaseGraph(spark: SparkSession, sfDir: String): DataFrame =
    GraphStore.read(spark, ensure(artifactDir(sfDir, "graph_purchase")) { d =>
      val li = Tables(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      GraphStore.build(
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + 1000000L).as("dst")),
        "src", "dst", d)
    })

  /** Part co-purchase graph (parts sharing an order, 1/8 order slice —
    * the adamic-adar / node2vec / k-core base graph); see
    * [[purchaseGraph]] for the artifact posture */
  def partCopurchaseGraph(spark: SparkSession, sfDir: String): DataFrame =
    GraphStore.read(spark, ensure(artifactDir(sfDir, "graph_part_copurchase")) { d =>
      val li = Tables(spark, sfDir, "lineitem")
        .filter(col("l_orderkey") % 8 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      GraphStore.build(
        li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst")),
        "src", "dst", d)
    })

  /** Supplier co-purchase graph (suppliers sharing an order, 1/4 order
    * slice — the triangles / LPA base graph) */
  def supplierCopurchaseGraph(spark: SparkSession, sfDir: String): DataFrame =
    GraphStore.read(spark, ensure(artifactDir(sfDir, "graph_supplier_copurchase")) { d =>
      val li = Tables(spark, sfDir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      GraphStore.build(
        li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_suppkey") < col("y.l_suppkey"))
          .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst")),
        "src", "dst", d)
    })

  /** Build every artifact the benchmark queries search against — called
    * from Bench warm-up so index construction is billed to the build
    * phase, exactly like the reference's maintained indexes.
    *
    * Fault-tolerant: one broken source table must not zero the whole
    * bench round, so each artifact build is isolated and the names of
    * the ones that failed are returned for the artifact's "errors" list.
    */
  def warmAll(spark: SparkSession, sfDir: String): Seq[String] = {
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try {
        f
        System.err.println(f"[index] $name ready in ${(System.nanoTime() - t0) / 1e9}%.1fs ($sfDir)")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[index] $name FAILED: ${e.getMessage}")
      }
    }
    timed("ann")(annQuantized(spark, sfDir)) // also serves the plain ann() projection
    timed("annPq")(annPq(spark, sfDir))
    timed("maxsim")(maxsimAnn(spark, sfDir))
    timed("lmCounts")(lmCountsDir(spark, sfDir))
    timed("inverted")(inverted(spark, sfDir))
    timed("bm25")(bm25(spark, sfDir))
    timed("json")(json(spark, sfDir))
    timed("pca")(pcaLoadings(spark, sfDir).count())
    timed("qualityModel")(qmWeights(spark, sfDir).count())
    timed("unigram")(unigramPieces(spark, sfDir))
    timed("graphs") {
      purchaseGraph(spark, sfDir)
      partCopurchaseGraph(spark, sfDir)
      supplierCopurchaseGraph(spark, sfDir)
      ()
    }
    failed.toSeq
  }
}
