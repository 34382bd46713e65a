package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import graft.core.Fixpoint
import TextAnalysis._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash buckets, n-gram Jaccard with length blocking,
  * embedding-cosine near-dup.
  *
  * Scale design notes (100 TB):
  *  - exact dedup is one hash-shuffle on md5(text) — never on raw text,
  *    so shuffle rows are fixed-width
  *  - near-dup never goes all-pairs: candidates come from equi-joinable
  *    keys (LSH band keys, simhash buckets, length buckets), each a plain
  *    shuffle join; only candidate pairs pay the exact-verify cost
  *  - pair enumeration within a bucket uses a self-equi-join on the
  *    bucket key; keys hotter than `hotKeyThreshold` (a stop-shingle, a
  *    boilerplate band) are salt-split `numSalts` ways first so no
  *    reducer owns a hot key's quadratic pair work alone
  */
object Dedup {

  /** Frequency-adaptive salted pair self-join: enumerate (a, b) row
    * pairs of `df` sharing `keyCols`, subject to `extraCond` over the
    * aliased sides "a"/"b". Keys with more than `hotKeyThreshold` rows
    * are split `numSalts` ways: the left side gets a deterministic
    * per-row salt, the right side replicates across all salts, so a hot
    * key's |K|² pair work spreads over `numSalts` reducers instead of
    * one. Cold keys join untouched. Pair sets are identical to the
    * unsalted join (`a.id < b.id` style ordering must come from
    * `extraCond`).
    *
    * Detection is a PERFORMANCE routing decision — both paths produce
    * identical pairs — so for large thresholds it runs on a
    * deterministic 1/128 hash sample of the rows (a key with 100k+ rows
    * is unmissable in the sample; a borderline miss only costs speed,
    * never correctness). The hot set is collected to the driver: in the
    * common no-hot-keys case the measured plan is exactly the plain
    * join — no marker join, no union. */
  private def saltedPairJoin(df: DataFrame, keyCols: Seq[String],
      extraCond: Column, outCols: Seq[String],
      hotKeyThreshold: Int, numSalts: Int): DataFrame = {
    val keyEq = keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    def pairs(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
      l.as("a").join(r.as("b"), cond)
        .select(outCols.map(c => col(s"a.$c").as(s"${c}_a")) ++
          outCols.map(c => col(s"b.$c").as(s"${c}_b")): _*)

    val sampleMod = 128
    val useSample = hotKeyThreshold >= 10 * sampleMod
    val rowHash = xxhash64((keyCols ++ outCols).map(col): _*)
    val probe = if (useSample) df.filter(pmod(rowHash, lit(sampleMod)) === 0) else df
    val thresh =
      if (useSample) math.max(1L, hotKeyThreshold.toLong / sampleMod)
      else hotKeyThreshold.toLong
    // a system with MANY distinct hot keys has a different problem; 1000
    // bounds the driver collect
    val hotKeys = probe.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > thresh)
      .select(keyCols.map(col): _*)
      .limit(1000).collect()

    if (hotKeys.isEmpty) pairs(df, df, keyEq && extraCond)
    else {
      val spark = df.sparkSession
      val hot = spark.createDataFrame(
          java.util.Arrays.asList(hotKeys: _*), df.select(keyCols.map(col): _*).schema)
        .withColumn("__hot", lit(1))
      val marked = df.join(broadcast(hot), keyCols, "left")
      val cold = marked.filter(col("__hot").isNull).drop("__hot")
      val hotRows = marked.filter(col("__hot") === 1).drop("__hot")
      val saltedA = hotRows.withColumn("__salt",
        pmod(xxhash64(col(outCols.head)), lit(numSalts)).cast("int"))
      val replB = hotRows.withColumn("__salt",
        explode(sequence(lit(0), lit(numSalts - 1))))
      pairs(cold, cold, keyEq && extraCond)
        .union(pairs(saltedA, replB,
          keyEq && col("a.__salt") === col("b.__salt") && extraCond))
    }
  }

  /** one-row corpus duplication profile */
  def exactStats(docs: DataFrame, textCol: String): DataFrame = {
    val perText = docs.groupBy(md5(col(textCol)).as("h")).agg(count(lit(1)).as("c"))
    perText.agg(
      sum(col("c")).as("n_docs"),
      count(lit(1)).as("n_unique"),
      sum(when(col("c") > 1, 1).otherwise(0)).as("n_dup_groups"),
      sum(when(col("c") > 1, col("c") - 1).otherwise(0)).as("n_redundant"))
  }

  /** exact dedup keeper mapping: every duplicated doc -> kept (min) id */
  def exactDupMapping(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("h"))
    docs.select(col(idCol).as("id"), md5(col(textCol)).as("h"))
      .withColumn("keeper", min(col("id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .filter(col("group_size") > 1 && col("id") =!= col("keeper"))
      .select(col("id").as("dropped_id"), col("keeper").as("kept_id"))
  }

  /** (id, shingle-set, blocking key) prep shared by near-dup variants.
    * Hash-repartitions by id first: a small parquet table arrives as ONE
    * scan partition, which would serialize all the per-row shingling —
    * the cheap fixed-width shuffle buys full-cluster parallelism for the
    * expensive expression work that follows. */
  private def shingled(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(par, col(idCol))
      // tokens materialized in their own projection: inlining the split()
      // into the ~3n element_at sites inside shingles() would re-split the
      // text O(n) times per row (HOFs evaluate interpreted, no CSE)
      .select(col(idCol).as("id"), length(col(textCol)).as("len"),
        tokens(col(textCol)).as("__toks"))
      .select(col("id"), col("len"), shingles(col("__toks")).as("sh"))
      // second exchange right AFTER the expensive shingling: downstream
      // operators reference this frame 3x (postings + both verify sides)
      // and ReuseExchange materializes everything above it once
      .repartition(par, col("id"))
  }

  /** exact n-gram Jaccard near-dup pairs via PPJoin-style prefix
    * filtering: sort each doc's shingle set under a common total order
    * (lexicographic — correctness only needs ANY shared order), join only
    * on the first floor((1-t)*|set|)+1 shingles — a pair with jac >= t
    * MUST share a prefix shingle — then exact-verify candidates with one
    * array_intersect. A size-ratio bound (jac <= min/max set sizes)
    * prunes inside the join condition. vs the naive full inverted-index
    * pair join this cuts the candidate blowup ~(1-t)^2 while staying
    * exact. (Classic PPJoin orders by global df for tighter pruning; the
    * extra postings-aggregate pass costs more than it saves until the
    * prefix join, not set prep, dominates.) */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, hotKeyThreshold: Int = 100000,
      numSalts: Int = 16): DataFrame = {
    val s = shingled(docs, idCol, textCol).filter(size(col("sh")) > 0)
    // shingles become 64-bit hashes for the join keys AND the verify
    // intersection: fixed-width shuffle rows, codegen'd long compares;
    // set sizes and intersections are unchanged barring a 2^-64 collision.
    // Persisted explicitly: three consumers (prefix explode + both verify
    // sides) would otherwise each re-run the expensive shingling subtree
    val ordered = s.select(col("id"),
      array_sort(transform(col("sh"), x => xxhash64(x))).as("sh"),
      size(col("sh")).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val plen = (floor(lit(1.0 - threshold) * col("cnt")) + 1).cast("int")
    val prefix = ordered.select(col("id"), col("cnt"),
      explode(slice(col("sh"), lit(1), plen)).as("shingle"))
    // stop-shingles shared by > hotKeyThreshold docs salt-split so one
    // reducer never owns a hot shingle's quadratic candidate work
    val cand = saltedPairJoin(prefix, Seq("shingle"),
        col("a.id") < col("b.id") &&
        col("a.cnt") * threshold <= col("b.cnt") &&
        col("b.cnt") * threshold <= col("a.cnt"),
        Seq("id"), hotKeyThreshold, numSalts)
      .distinct()
    val setsA = ordered.select(col("id").as("id_a"), col("sh").as("sh_a"), col("cnt").as("cnt_a"))
    val setsB = ordered.select(col("id").as("id_b"), col("sh").as("sh_b"), col("cnt").as("cnt_b"))
    cand.join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") / (col("cnt_a") + col("cnt_b") - col("c")), 6).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** MinHash + LSH near-dup pairs: md5-string minhash signature,
    * `numHashes/rowsPerBand` band keys, candidates = docs sharing any
    * band key, verified with exact shingle Jaccard >= threshold. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 8, rowsPerBand: Int = 2,
      hotKeyThreshold: Int = 100000, numSalts: Int = 16): DataFrame = {
    val s = shingled(docs, idCol, textCol)
    // One narrow frame carries everything downstream needs — the minhash
    // signature (band keys read it instead of recomputing) plus the
    // shingle set as sorted 64-bit hashes (fixed-width verify rows, long
    // compares; intersect/union counts unchanged barring a 2^-64
    // collision, same trick as ngramJaccardPairs). Persisted ONCE so the
    // expensive shingling+signature subtree runs exactly once across all
    // its consumers: saltedPairJoin's hot-key probe is its OWN job
    // (ReuseExchange cannot help across actions — r6 measured 13x
    // regression from exactly that recompute), plus both candidate-join
    // sides and both verify sides. The raw shingle strings are dropped
    // before the cache: caching them measured ~2x slower at sf0.1.
    val staged = s.select(col("id"),
      org.apache.spark.sql.graft.Bridge.column(
        graft.functions.MinHashSignature(
          org.apache.spark.sql.graft.Bridge.expression(col("sh")), numHashes))
        .as("__sig"),
      array_sort(transform(col("sh"), x => xxhash64(x))).as("shh"),
      size(col("sh")).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band layout MUST match TextAnalysis.bandKeys (grouped => a trailing
    // partial band when rowsPerBand doesn't divide numHashes) so both LSH
    // surfaces produce identical candidate sets for the same parameters
    val bands = (0 until numHashes).grouped(rowsPerBand).map { idxs =>
      md5(concat(idxs.map(i => element_at(col("__sig"), i + 1)): _*))
    }.toSeq
    // carry only (id, band) through the candidate join; shingle sets
    // rejoin afterwards for the (much smaller) verify step
    val banded = staged.select(col("id"),
      posexplode(array(bands: _*)).as(Seq("band_idx", "band_key")))
    // a boilerplate band key shared by > hotKeyThreshold docs (mass-
    // duplicated templates are routine in web corpora) salt-splits
    val cand = saltedPairJoin(banded, Seq("band_idx", "band_key"),
        col("a.id") < col("b.id"), Seq("id"), hotKeyThreshold, numSalts)
      .dropDuplicates("id_a", "id_b")
    cand
      .join(staged.select(col("id").as("id_a"), col("shh").as("sh_a"),
        col("cnt").as("cnt_a")), "id_a")
      .join(staged.select(col("id").as("id_b"), col("shh").as("sh_b"),
        col("cnt").as("cnt_b")), "id_b")
      // |A∩B| / |A∪B| over the hashed sets; 0/0 -> null -> filtered, the
      // same empty-set behavior as TextAnalysis.jaccard on the raw sets
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") / (col("cnt_a") + col("cnt_b") - col("c")), 6).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** SimHash bucket groups: docs sharing a 64-bit simhash signature.
    * Same parallelize+materialize-tokens shape as `shingled` (the sig
    * references the token array per bit position).
    *
    * Returns (sig, n, member_sample): the bucket SIZE plus only the
    * `memberSampleCap` smallest member ids — a megabucket of identical
    * boilerplate (routine in web corpora) must not materialize an
    * unbounded id array in one aggregation row. The sample is selected
    * with a two-phase min-k (per-input-partition then global), so no
    * single task ever holds a whole megabucket either. Consumers that
    * need every member join the full (id, sig) mapping from
    * [[simhashSignatures]] instead. */
  def simhashBuckets(docs: DataFrame, idCol: String, textCol: String,
      memberSampleCap: Int = 100): DataFrame = {
    val sigs = simhashSignatures(docs, idCol, textCol)
    val counts = sigs.groupBy(col("sig")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val localW = Window.partitionBy(col("sig"), col("__p")).orderBy(col("id"))
    val globalW = Window.partitionBy(col("sig")).orderBy(col("id"))
    val sample = sigs
      .withColumn("__p", spark_partition_id())
      .withColumn("__r", row_number().over(localW))
      .filter(col("__r") <= memberSampleCap)
      .drop("__p", "__r")
      .withColumn("__r", row_number().over(globalW))
      .filter(col("__r") <= memberSampleCap)
      .groupBy(col("sig"))
      .agg(sort_array(collect_list(col("id"))).as("member_sample"))
    counts.join(sample, "sig")
      .select(col("sig"), col("n"), col("member_sample"))
  }

  /** full (id, sig) simhash mapping — the unbounded-group-safe surface
    * for consumers that need every bucket member */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("id"),
        // md5 staged once per token inside simhash64; one aggregate
        // accumulates all 64 bit counts
        TextAnalysis.simhash64(tokens(col(textCol))).as("sig"))

  /** embedding-cosine near-dup pairs via LOSSLESS angular cluster
    * blocking. Every vector gets a primary block (nearest centroid by
    * cosine) and joins the expanded block of every centroid within
    * `angle(v, nearest) + arccos(threshold)`. For any qualifying pair
    * (a, b) with cos(a,b) >= t, take wlog a the member closer to its own
    * centroid; by the spherical triangle inequality
    *   angle(b, c(a)) <= angle(a,b) + angle(a, c(a))
    *                  <= arccos(t) + angle(b, c(b))  (wlog)
    * so b's expanded membership includes a's primary block — the
    * primary×expanded equi-join on cluster_id provably generates every
    * qualifying pair, and the cosine kernel verifies candidates inline.
    *
    * Scale behavior: at tight thresholds (0.9+, the real near-dup
    * setting) the expanded radius is small and candidates stay near
    * per-cluster; at loose thresholds the radius widens and work decays
    * gracefully toward all-pairs — but always as a partitioned hash
    * equi-join on cluster_id, never a BroadcastNestedLoopJoin.
    *
    * Pass `centroids` (cluster_id, centroid) from a persisted
    * [[AnnIndex]] to skip the inline KMeans fit. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nClusters: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val v = emb.repartition(par, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val centsDf = centroids.getOrElse(
      AnnIndex.build(v, "id", "vec", nClusters).centroids)
    // centroids are tiny (k rows) — bind them as an in-plan literal array
    // indexed by cluster_id, so ALL per-vector centroid similarities are
    // one map-side projection: no n-x-k crossJoin frame, no per-id window
    // shuffle to find the primary cluster
    val cents = centsDf.select(col("cluster_id"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    require(cents.map(_._1).toSeq == cents.indices, "cluster ids must be 0..k-1")
    val centVecs = array(cents.map { case (_, cv) =>
      array(cv.map(x => lit(x)): _*)
    }: _*)
    val nC = cents.length
    // clamp into acos domain (kernel may return 1 + ulp)
    def ang(c: Column): Column = acos(greatest(lit(-1.0), least(lit(1.0), c)))
    val idxs = sequence(lit(0), lit(nC - 1))
    // __cs staged as its own projection: downstream consumers reference
    // the materialized array instead of re-running k cosine kernels
    val staged = v
      .withColumn("__cs", transform(centVecs,
        c => graft.functions.gf.cosine_similarity(col("vec"), c)))
      .withColumn("__best", array_max(col("__cs")))
    // persisted: THREE consumers (the sizes probe job below, then the
    // primary and expanded sides of the pair join) would each re-run
    // the k-cosine-kernel projection otherwise — the most expensive
    // map work in the operator
    val withClusters = staged
      .withColumn("__primary", element_at(
        filter(idxs, i => element_at(col("__cs"), i + 1) === col("__best")), 1))
      .withColumn("__exp", filter(idxs,
        i => ang(element_at(col("__cs"), i + 1)) <=
          ang(col("__best")) + lit(math.acos(threshold)) + lit(1e-9)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // each side carries its angle to the JOIN cluster's centroid: the
    // spherical triangle inequality angle(p,e) >= |ang_p - ang_e| makes
    // |ang_p - ang_e| <= arccos(t) a NECESSARY condition for a qualifying
    // pair — a one-double compare that prunes candidates before the
    // d-dimensional cosine kernel ever runs (still lossless)
    // Per-cluster salt fan-out: with k clusters and k < cores (or one
    // dominant cluster), the equi-join on cluster_id leaves reducers
    // idle / one reducer hot. Each cluster whose PRIMARY membership
    // exceeds ~2 tasks' worth is split across s_c salt buckets: primary
    // rows take salt = hash(id) % s_c, expanded rows replicate s_c ways,
    // so every qualifying pair still meets exactly once and the key
    // space grows to sum(s_c) >= cores. Replication is bounded (s_c <=
    // 16) and costs expanded-side shuffle volume only on the clusters
    // that need it — clusters already small keep s_c = 1 and pay
    // nothing. The counts frame is k rows (k = nClusters), so the
    // driver collect is trivially bounded.
    val sizes = withClusters.groupBy(col("__primary")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val totalN = math.max(1L, sizes.values.sum)
    val target = math.max(1L, totalN / (2L * par))
    val saltOf = Array.tabulate(nC)(c =>
      math.min(16L, math.ceil(sizes.getOrElse(c, 0L).toDouble / target).toLong)
        .toInt.max(1))
    val saltArr = array(saltOf.map(s => lit(s)): _*)

    val primary0 = withClusters.select(col("__primary").as("cluster_id"),
      col("id").as("id_p"), col("vec").as("vec_p"),
      ang(col("__best")).as("ang_p"))
    val expanded0 = withClusters
      .select(col("id").as("id_e"), col("vec").as("vec_e"), col("__cs"),
        explode(col("__exp")).as("cluster_id"))
      .select(col("cluster_id"), col("id_e"), col("vec_e"),
        ang(element_at(col("__cs"), col("cluster_id") + 1)).as("ang_e"))
    val noSkew = saltOf.forall(_ == 1)
    val (primary, expanded) =
      if (noSkew) (primary0, expanded0)
      else (
        primary0.withColumn("__salt",
          pmod(xxhash64(col("id_p")), element_at(saltArr, col("cluster_id") + 1))
            .cast("int")),
        expanded0.withColumn("__salt", explode(
          sequence(lit(0), element_at(saltArr, col("cluster_id") + 1) - 1))))
    val joinCond = primary("cluster_id") === expanded("cluster_id") &&
      col("id_p") =!= col("id_e") &&
      abs(col("ang_p") - col("ang_e")) <= lit(math.acos(threshold) + 1e-9)
    primary.join(expanded,
        if (noSkew) joinCond
        else joinCond && primary("__salt") === expanded("__salt"))
      .select(least(col("id_p"), col("id_e")).as("id_a"),
        greatest(col("id_p"), col("id_e")).as("id_b"),
        round(graft.functions.gf.cosine_similarity(col("vec_p"), col("vec_e")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") > threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** Random-hyperplane LSH blocking for embedding near-dup (Charikar
    * 2002, public) — the KMeans-free, data-independent alternative to
    * [[embeddingNearDupPairs]] for when no index artifact exists and a
    * cluster fit is not worth it (one-shot scans, streaming appends).
    * `numBits` pseudo-random hyperplanes derive deterministically from
    * `seed` and bind as in-plan literals; signature bit p =
    * (dot(v, plane_p) >= 0); bits group into `bands` band keys that
    * drive the same salted candidate equi-join as the text LSH;
    * survivors verify with the exact cosine kernel, so precision is 1.
    * Candidate recall for a pair at angle θ is 1-(1-(1-θ/π)^r)^b
    * (r = numBits/bands) — probabilistic, hence spec-gated (recall
    * floor vs the lossless cluster-blocked pair set) rather than
    * oracle-checked. */
  def rpLshNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBits: Int = 16, bands: Int = 8,
      seed: Long = 42L, hotKeyThreshold: Int = 100000,
      numSalts: Int = 16): DataFrame = {
    require(numBits % bands == 0, "bands must divide numBits")
    val dim = emb.select(size(col(vecCol)).as("d")).head().getInt(0)
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(numBits, dim)(rnd.nextGaussian().toFloat)
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val bitCols = planes.map { p =>
      when(graft.functions.gf.dot(col("vec"), array(p.map(lit(_)): _*)) >= 0,
        lit("1")).otherwise(lit("0"))
    }
    val rowsPerBand = numBits / bands
    val sig = v.select(col("id"), concat(bitCols.toSeq: _*).as("__sig"))
    val bandKeys = (0 until bands).map(b =>
      substring(col("__sig"), b * rowsPerBand + 1, rowsPerBand))
    // persisted for the same reason as minhashLshPairs' staged frame:
    // the hot-key probe is its own job, so without a cache it re-runs
    // the numBits dot-product signature pass end to end
    val banded = sig.select(col("id"),
      posexplode(array(bandKeys: _*)).as(Seq("band_idx", "band_key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = saltedPairJoin(banded, Seq("band_idx", "band_key"),
        col("a.id") < col("b.id"), Seq("id"), hotKeyThreshold, numSalts)
      .dropDuplicates("id_a", "id_b")
    cand
      .join(v.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(v.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(graft.functions.gf.cosine_similarity(col("vec_a"), col("vec_b")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") > threshold)
  }

  /** Banded hamming near-dup pairs over fixed-width bit fingerprints
    * (array<int> of 0/1 — SimHash, image aHash, any binary sketch):
    * all (a, b) with hamming(bits) <= maxDist, WITHOUT an all-pairs
    * scan and with COMPLETE blocking by pigeonhole. The bits split into
    * `blocks` contiguous blocks and each doc emits one key per
    * (blocks - maxDist)-SUBSET of blocks (the key is those blocks'
    * bits concatenated): <= maxDist differing bits touch at most
    * maxDist blocks, so at least blocks - maxDist blocks are untouched
    * on both sides — some enumerated subset is entirely clean, and
    * every true pair shares that subset's key EXACTLY. With the
    * default blocks = maxDist+1 this degenerates to classic banding
    * (C(d+1, 1) = d+1 single-block keys). Raising `blocks` is the
    * Manku et al. 2007 (WWW, public) scale posture: at 64-bit / d=3,
    * blocks=6 gives C(6,3)=20 keys of ~32 bits each — 5x key fan-out
    * buys a 2^16x sparser bucket space, the difference between linear
    * and quadratic candidates on a 10^10-doc corpus. Candidates come
    * from the usual salted band equi-join; only candidates pay the
    * exact HAMMING_DISTANCE kernel. The exactness argument is the same
    * pigeonhole as the PassJoin fuzzy join ([[fuzzyJoin]]),
    * transplanted from edit space to Hamming space. */
  def hammingNearDupPairs(fps: DataFrame, idCol: String, bitsCol: String,
      maxDist: Int, hotKeyThreshold: Int = 100000,
      numSalts: Int = 16, blocks: Int = 0): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val nBlocks = if (blocks > 0) blocks else maxDist + 1
    require(nBlocks > maxDist,
      "blocks must exceed maxDist (pigeonhole completeness)")
    // persisted: THREE consumers (the banded explode and both verify
    // sides) would each re-run the caller's fingerprint projection —
    // typically the expensive kernel of the whole operator (tokenize +
    // 64-bit simhash per doc, or an image aHash) — otherwise (r17,
    // §1.2; measured: q_dedup_simhash_hamming re-tokenized the corpus
    // three times, each pass serial). Rows are fixed-width (id + `width`
    // tinyints), so the cache is signature-table-sized, never text-sized.
    val v = fps.select(col(idCol).as("id"), col(bitsCol).as("bits"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val width = v.select(size(col("bits"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    if (width == 0) return v.sparkSession.emptyDataFrame
      .selectExpr("CAST(NULL AS BIGINT) id_a", "CAST(NULL AS BIGINT) id_b",
        "CAST(NULL AS INT) dist").limit(0)
    require(nBlocks <= width, s"more blocks ($nBlocks) than bits ($width)")
    // block i covers [start_i, start_i + len_i): first (width % nBlocks)
    // blocks get the extra bit, same split rule as PassJoin segments
    val base = width / nBlocks
    val extra = width % nBlocks
    def blockSlice(i: Int) = {
      val start = i * base + math.min(i, extra)
      val len = base + (if (i < extra) 1 else 0)
      concat_ws("", slice(col("bits"), start + 1, len))
    }
    // one key per subset of (nBlocks - maxDist) blocks; subset identity
    // rides in band_idx via posexplode so keys never cross subsets
    val bandCols = (0 until nBlocks).combinations(nBlocks - maxDist)
      .map(c => concat_ws("|", c.map(blockSlice): _*)).toSeq
    val banded = v.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = saltedPairJoin(banded, Seq("band_idx", "band_key"),
        col("a.id") < col("b.id"), Seq("id"), hotKeyThreshold, numSalts)
      .dropDuplicates("id_a", "id_b")
    cand
      .join(v.select(col("id").as("id_a"), col("bits").as("bits_a")), "id_a")
      .join(v.select(col("id").as("id_b"), col("bits").as("bits_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.gf.hamming_distance(col("bits_a"), col("bits_b"))
          .cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Exact repeated-span profile (the substring-level dedup metric of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — public): every token position whose n-token gram
    * occurs MORE THAN ONCE across the corpus (licenses, boilerplate,
    * templated spam) is duplicated; overlapping/adjacent duplicated
    * positions merge into maximal spans per document. Returns one row
    * per doc: (id, n_tokens, n_dup_spans, dup_tokens, dup_frac) —
    * dup_frac is the filter signal (docs that are mostly repeated
    * corpus text), the span bounds feed span-removal rewrites.
    *
    * Plan shape at 100 TB: grams become 64-bit hashes map-side, so the
    * corpus-frequency pass is ONE hash-shuffle over fixed-width rows
    * with map-side partial aggregation; duplicated positions come back
    * via a semi-join on the gram hash; the span merge is the classic
    * gaps-and-islands window PARTITIONED BY doc id — no global sort,
    * no driver state, nothing quadratic anywhere. */
  def repeatedSpanProfile(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 1, "span gram size must be >= 1")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val toks = docs.repartition(par, col(idCol))
      .select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
      .select(col("id"), col("w"), size(col("w")).as("n_tokens"))
    // (id, pos, gram): gram = xxhash64 of the n-token window starting at
    // 0-based pos; docs shorter than n emit nothing and rejoin with
    // zeros at the end. The sequence guard matters: sequence(1, 0)
    // COUNTS DOWN, it is not empty.
    val grams = toks.select(col("id"),
      posexplode(when(size(col("w")) >= n,
        transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => xxhash64(concat_ws(" ", slice(col("w"), i, lit(n))))))
        .otherwise(array().cast("array<bigint>")))
        .as(Seq("pos", "gram")))
    val dupGrams = grams.groupBy(col("gram")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("gram")
    val dpos = grams.join(dupGrams, Seq("gram"), "left_semi")
    // gaps-and-islands: a duplicated position starts a new span iff it
    // begins past the furthest token any earlier span covers
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val spans = dpos
      .withColumn("ni", when(col("pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("isl", sum(col("ni")).over(w))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
    val perDoc = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("e") - col("s")).as("dup_tokens"))
    toks.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1)), 6).as("dup_frac"))
  }

  /** Exact duplicated-span REMOVAL — the rewrite that
    * [[repeatedSpanProfile]]'s scaladoc promises ("the span bounds feed
    * span-removal rewrites"; Lee et al. 2022 ExactSubstr, public):
    * every n-token window occurring >= `minCount` times across the
    * corpus keeps its FIRST occurrence (minimum (id, pos) — one
    * canonical copy survives, so no content class vanishes) and every
    * OTHER occurrence is cut from its document. Overlapping/adjacent
    * cut windows merge into maximal spans per doc; the cleaned text is
    * the surviving tokens rejoined. Returns one row per doc:
    * (id, text_clean, n_tokens, n_spans_removed, removed_tokens).
    *
    * Plan shape at 100 TB: identical skeleton to
    * [[repeatedSpanProfile]] — grams are 64-bit hashes map-side, ONE
    * partially-aggregated hash shuffle computes per-gram (count,
    * min-occurrence) with fixed-width state, flagged positions come
    * back via a hash join on the gram key, and the span merge is
    * gaps-and-islands windowed PER DOCUMENT (fine-grained key — never
    * a global sort). The rewrite itself is map-side: merged spans ride
    * home as a bounded per-doc array and one higher-order filter drops
    * covered tokens. Nothing quadratic, no driver state. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 50, minCount: Int = 2): DataFrame = {
    require(n >= 1, "span window size must be >= 1")
    require(minCount >= 2, "minCount < 2 would flag every window")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val toks = docs.repartition(par, col(idCol))
      .select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
    // (id, pos, gram) exactly as repeatedSpanProfile: pos is the
    // 0-based token index of the window start
    val grams = toks.select(col("id"),
      posexplode(when(size(col("w")) >= n,
        transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => xxhash64(concat_ws(" ", slice(col("w"), i, lit(n))))))
        .otherwise(array().cast("array<bigint>")))
        .as(Seq("pos", "gram")))
    // keeper = min (id, pos) per duplicated gram; struct-min keeps the
    // aggregate state fixed-width (count + one (id,pos) pair per gram)
    val keepers = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c"), min(struct(col("id"), col("pos"))).as("k"))
      .filter(col("c") >= minCount)
      .select(col("gram"), col("k.id").as("kid"), col("k.pos").as("kpos"))
    val flagged = grams.join(keepers, Seq("gram"))
      .filter(!(col("id") === col("kid") && col("pos") === col("kpos")))
      .select(col("id"), col("pos"))
    // gaps-and-islands span merge (same recurrence as repeatedSpanProfile)
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val spans = flagged
      .withColumn("ni", when(col("pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("isl", sum(col("ni")).over(w))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
    val perDoc = spans.groupBy(col("id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"),
        count(lit(1)).as("n_spans_removed"),
        sum(col("e") - col("s")).as("removed_tokens"))
    toks.join(perDoc, Seq("id"), "left")
      .withColumn("spans",
        coalesce(col("spans"), array().cast("array<struct<s:int,e:int>>")))
      .select(col("id"),
        concat_ws(" ", filter(col("w"), (_, i) =>
          !exists(col("spans"), sp =>
            i >= sp.getField("s") && i < sp.getField("e")))).as("text_clean"),
        size(col("w")).as("n_tokens"),
        coalesce(col("n_spans_removed"), lit(0L)).as("n_spans_removed"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"))
  }

  /** Per-doc n-gram novelty profile — the inverse lens of
    * [[repeatedSpanProfile]]: instead of measuring how much of a doc is
    * duplicated elsewhere, measure how much of it is UNIQUE to the
    * corpus. For each doc: the count of distinct n-grams, the count of
    * those appearing in no other doc (corpus doc-frequency 1), and their
    * ratio — the "novelty fraction" used to rank documents for
    * data-curation passes that upweight fresh content.
    *
    * Plan shape: grams become fixed-width xxhash64 keys before any
    * shuffle; the corpus-repeated gram set (df > 1, usually the small
    * side under Zipf) is computed with one hash-agg and drives a
    * left-semi join, so per-doc novel counts are n_grams minus the
    * semi-join hit count — the df=1 majority never joins anything.
    * No windows, no all-pairs; two hash shuffles total. */
  def noveltyProfile(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 1, "gram size must be >= 1")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val toks = docs.repartition(par, col(idCol))
      .select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
    // distinct gram hashes per doc (sequence(1,0) counts DOWN — guard it)
    val grams = toks.select(col("id"),
      explode(when(size(col("w")) >= n,
        array_distinct(transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => xxhash64(concat_ws(" ", slice(col("w"), i, lit(n)))))))
        .otherwise(array().cast("array<bigint>"))).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-doc distinct => count(*) per gram IS its document frequency
    val repeated = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("g")
    val perDoc = grams.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val nRep = grams.join(repeated, Seq("g"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_rep"))
    toks.select(col("id"))
      .join(perDoc, Seq("id"), "left").join(nRep, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        (coalesce(col("n_grams"), lit(0L)) - coalesce(col("n_rep"), lit(0L)))
          .as("n_novel"))
      .withColumn("novelty_frac", round(col("n_novel").cast("double") /
        greatest(col("n_grams"), lit(1L)), 6))
  }

  /** Semantic (embedding-space) decontamination — the companion to the
    * n-gram [[crossCorpusContainment]]: paraphrased or re-formatted eval
    * contamination that shares no exact n-grams still lands nearby in
    * embedding space. For each eval vector: how many train vectors
    * exceed `threshold` cosine similarity, and the best-matching train
    * id/similarity (ties break to the smaller train id).
    *
    * Plan shape: the eval set is small by nature (benchmarks are KBs
    * against a 100 TB corpus), so it BROADCASTS and the train corpus is
    * scanned exactly once, map-side — no shuffle of train rows at all;
    * the only exchange is the per-eval-id aggregation over surviving
    * matches. Exact semantics (no blocking loss), so fully
    * oracle-checkable. For eval sets too big to broadcast, compose
    * [[embeddingNearDupPairs]]'s cluster blocking instead. */
  def embeddingDecontaminate(train: DataFrame, trainIdCol: String,
      trainVecCol: String, evalDf: DataFrame, evalIdCol: String,
      evalVecCol: String, threshold: Double): DataFrame = {
    val par = train.sparkSession.sparkContext.defaultParallelism
    val t = train.repartition(par, col(trainIdCol))
      .select(col(trainIdCol).as("train_id"), col(trainVecCol).as("tv"))
    val e = evalDf.select(col(evalIdCol).as("eval_id"), col(evalVecCol).as("ev"))
    // deliberate broadcast nested-loop: exact brute-force semantics,
    // distributed over train partitions; compare the UNROUNDED kernel
    // against the threshold (matches the oracle's double compare), round
    // only for output
    t.crossJoin(broadcast(e))
      .withColumn("sim", graft.functions.gf.cosine_similarity(col("tv"), col("ev")))
      .filter(col("sim") > threshold)
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(round(col("sim"), 6).as("s"), (-col("train_id")).as("nt")))
          .as("b"))
      .select(col("eval_id"), col("n_matches"),
        (-col("b.nt")).as("best_train_id"), col("b.s").as("best_sim"))
  }

  /** Cross-corpus decontamination (train/eval overlap audit — the check
    * every pretraining pipeline runs before shipping a corpus): for each
    * eval doc, its n-gram CONTAINMENT in each overlapping train doc,
    * |shingles(eval) ∩ shingles(train)| / |shingles(eval)|, reported for
    * pairs at or above `threshold`.
    *
    * Plan shape: both corpora explode to (shingle, id) postings and
    * equi-join on the shingle — candidate pairs only ever form through a
    * shared shingle, never a cross product. Train-side stop-shingles
    * (document frequency > `maxShingleDf`) are dropped BEFORE the pair
    * join: a boilerplate shingle shared by 1% of a 100 TB corpus would
    * otherwise create a quadratic hot key, and carries no contamination
    * signal. Dropping affects only the numerator, so reported
    * containment is a lower bound (exact when no shingle exceeds the
    * cap — the spec's setting). */
  def crossCorpusContainment(train: DataFrame, trainIdCol: String,
      trainTextCol: String, evalDf: DataFrame, evalIdCol: String,
      evalTextCol: String, n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Long = 100000L): DataFrame = {
    val par = train.sparkSession.sparkContext.defaultParallelism
    def prep(df: DataFrame, id: String, text: String): DataFrame =
      df.repartition(par, col(id))
        .select(col(id).as("id"), tokens(col(text)).as("__toks"))
        .select(col("id"), shingles(col("__toks"), n).as("sh"))
    val tPost = prep(train, trainIdCol, trainTextCol)
      .select(col("id").as("train_id"), explode(col("sh")).as("s"))
    val dfCounts = tPost.groupBy("s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleDf).select("s")
    val ePost = prep(evalDf, evalIdCol, evalTextCol)
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
      .select(col("id").as("eval_id"), col("n_sh"), explode(col("sh")).as("s"))
    tPost.join(dfCounts, "s")
      .join(ePost, "s")
      .groupBy("train_id", "eval_id", "n_sh").agg(count(lit(1)).as("overlap"))
      .withColumn("containment", col("overlap") / col("n_sh"))
      .filter(col("containment") >= threshold)
      .select(col("eval_id"), col("train_id"),
        round(col("containment"), 6).as("containment"))
  }

  /** [[crossCorpusContainment]] with a broadcast Bloom prefilter on the
    * train-shingle stream — the 100 TB posture of decontamination. The
    * exact operator shuffles EVERY train shingle into the equi-join even
    * though almost none occur in the (small, benchmark-sized) eval
    * corpus; here a Bloom filter built over the eval shingles is
    * broadcast to the scan, and only train shingles that *might* occur
    * in eval survive to the shuffle — at `fpp`=1% that cuts the shuffled
    * volume by ~99% on a clean corpus. Output is IDENTICAL to the exact
    * operator (same DuckDB oracle): false positives die in the eval
    * equi-join, and per-shingle document frequencies are unchanged by
    * dropping other shingles, so the stop-shingle cap decides the same
    * way. Bloom size is set by the eval corpus (bounded by definition —
    * a benchmark suite, not the crawl), never by the 100 TB side. */
  def crossCorpusContainmentBloom(train: DataFrame, trainIdCol: String,
      trainTextCol: String, evalDf: DataFrame, evalIdCol: String,
      evalTextCol: String, n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Long = 100000L, expectedEvalShingles: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val par = spark.sparkContext.defaultParallelism
    def prep(df: DataFrame, id: String, text: String): DataFrame =
      df.repartition(par, col(id))
        .select(col(id).as("id"), tokens(col(text)).as("__toks"))
        .select(col("id"), shingles(col("__toks"), n).as("sh"))
    // eager localCheckpoint: the Bloom build is an ACTION over the eval
    // prep (tokenize + shingle + explode), and the final join reads the
    // same frame — without materialization the bounded eval side would
    // tokenize twice
    val ePost = prep(evalDf, evalIdCol, evalTextCol)
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
      .select(col("id").as("eval_id"), col("n_sh"), explode(col("sh")).as("s"))
      .localCheckpoint()
    // one pass over the SMALL side builds the filter (treeAggregate to
    // the driver, ~1.2 MB at 1M shingles / 1% fpp), then it rides to
    // every scan task as a broadcast — no shuffle is added anywhere
    val bloom = ePost.stat.bloomFilter("s", expectedEvalShingles, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    // deliberate udf (one of two in main, both this shape): probing an
    // ALREADY-BUILT broadcast BloomFilter has no DataFrame-expression
    // form, and the row cost is a single hash probe — nothing for
    // codegen to win back
    val mightContain = udf((s: String) => s != null && bloomB.value.mightContainString(s))
    val tPost = prep(train, trainIdCol, trainTextCol)
      .select(col("id").as("train_id"), explode(col("sh")).as("s"))
      .filter(mightContain(col("s")))
    val dfCounts = tPost.groupBy("s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleDf).select("s")
    val result = tPost.join(dfCounts, "s")
      .join(ePost, "s")
      .groupBy("train_id", "eval_id", "n_sh").agg(count(lit(1)).as("overlap"))
      .withColumn("containment", col("overlap") / col("n_sh"))
      .filter(col("containment") >= threshold)
      .select(col("eval_id"), col("train_id"),
        round(col("containment"), 6).as("containment"))
      // the output is bounded by definition — only pairs above the
      // containment threshold, a vanishing fraction of either corpus —
      // so materialize it eagerly (the operator already runs an action
      // for the Bloom build) and release the session-lifetime state the
      // lazy plan would otherwise pin across repeated calls: the
      // broadcast filter is destroyed deterministically here, and the
      // eval frame's checkpoint blocks are freed by the ContextCleaner
      // once this frame (their last reference) goes out of scope.
      .localCheckpoint()
    bloomB.destroy()
    result
  }

  /** Connected components over an undirected near-dup pair list:
    * (id, component_id) where component_id = min id reachable, for every
    * id that appears in `pairs`. Turns pair output of any near-dup
    * variant into dedup GROUPS (keeper = the component id itself).
    *
    * Algorithm: min-label propagation + pointer jumping. Each round
    * (a) lowers every node's label to the min over its neighbors'
    * labels, then (b) jumps label -> label(label). Propagation alone
    * needs O(diameter) rounds; the jump step doubles resolved-pointer
    * depth per round, giving O(log n) rounds even on path-shaped
    * components. Each round is two hash-shuffle joins over (id, lbl)
    * pairs — never an all-pairs product — run by [[Fixpoint.converge]],
    * whose per-round checkpoint keeps plans flat at scale. Labels only
    * decrease, so convergence = zero lowered labels. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30, symmetric: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val par = pairs.sparkSession.sparkContext.defaultParallelism
    // materialize the pair list ONCE before symmetrizing: both union
    // branches would otherwise re-run the (expensive) candidate pipeline
    // that produced the pairs; the pair list itself is small
    val e0 = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint()
    // cached partitioned on dst — the per-round join key — so the
    // (data-sized) edge side never re-exchanges inside the loop; only
    // the label frame shuffles per round (guide §2.4: establish the
    // partitioning once, reuse it every iteration).
    // `symmetric`: callers whose pair list ALREADY contains both
    // directions (dbscan's core-edge list is built as pairs ∪ swapped)
    // skip the re-symmetrization union + distinct — one exchange and a
    // dedup pass less, identical edge set (guide §2.4: a distinct on
    // data that is already unique).
    val edges = (if (symmetric) e0
      else e0.union(e0.select(col("dst"), col("src"))).distinct())
      .repartition(par, col("dst")).persist(MEMORY_AND_DISK)
    // init: label = min(self, direct neighbors); symmetric edges mean
    // groupBy(src) enumerates every node
    val init = edges.groupBy(col("src").as("id"))
      .agg(least(first(col("src")), min(col("dst"))).as("lbl"))
    // convergence bookkeeping: labels only ever DECREASE (every update
    // is a `least`), so Σ labels strictly decreases iff any node
    // lowered — one 1-row aggregate per round replaces the old
    // jumped⋈labels change-count join (2 exchanges + a data-sized merge
    // per round, measured the single largest per-round cost at bench
    // scale). decimal(38,0) keeps the sum exact for any long ids; the
    // sum is NULL exactly when there are no labels at all.
    def lblSum(df: DataFrame): Option[BigDecimal] = {
      val r = df.agg(sum(col("lbl").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) None else Some(BigDecimal(r.getDecimal(0)))
    }
    val comps = Fixpoint.converge(init, maxIter)(lblSum) { labels =>
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      // r17: the pointer jump resolves through the PREVIOUS round's
      // label frame (`labels` — an already-materialized checkpoint leaf)
      // instead of self-joining `prop`. prop is then read exactly ONCE,
      // so the eager per-round checkpoint that guarded its double read
      // is gone and the whole round is ONE driver action (2 → 1; the
      // ~15-20ms/job AQE planning gap was a third of q_semantic_dedup's
      // wall at bench scale — guide §5 driver / §1.2). Correctness is
      // the same monotone argument: labels(y) for y = prop(x) is a node
      // id of x's component and ≥ its min, so the jump only lowers
      // toward the same unique fixpoint; a one-round-stale jump target
      // compresses pointer chains slightly slower per round (still
      // multiplicative), and the convergence test is unchanged —
      // Σ labels stable ⟺ the propagate step moved nothing, which over
      // SYMMETRIC edges forces per-component-constant labels = min id.
      val prop = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      prop.as("x")
        .join(labels.select(col("id").as("__jid"), col("lbl").as("__jlbl")),
          col("x.lbl") === col("__jid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.lbl"), coalesce(col("__jlbl"), col("x.lbl"))).as("lbl"))
    }
    edges.unpersist()
    comps.select(col("id"), col("lbl").as("component_id"))
  }

  /** Quality-aware near-dup keeper selection: every document maps to
    * the BEST-quality member of its duplicate component (highest
    * `qualityCol`, ties on lowest id) — the policy step between pair
    * detection and corpus rewrite when "keep the longest/cleanest
    * copy" beats min-id. Singletons keep themselves. One shuffle on
    * the component key (a single ordered window yields the keeper for
    * every member); the component computation itself is pairs-sized.
    * Returns `(doc_id, component_id, keeper_id, is_keeper)`. */
  def nearDupKeeper(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, qualityCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("component_id"))
    val withComp = docs.join(cc, Seq(idCol), "left")
      .withColumn("component_id",
        coalesce(col("component_id"), col(idCol).cast("long")))
    val wOrd = Window.partitionBy(col("component_id"))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withComp
      .withColumn("keeper_id", first(col(idCol)).over(wOrd))
      .withColumn("is_keeper", col(idCol) === col("keeper_id"))
      .select(col(idCol), col("component_id"), col("keeper_id"), col("is_keeper"))
  }

  /** Semantic deduplication (SemDeDup — Abbas et al. 2023, public):
    * prune embedding-space near-duplicates keeping ONE representative
    * per duplicate group. Composition of the engine's pieces — cluster-
    * blocked cosine pair generation ([[embeddingNearDupPairs]], no
    * all-pairs), [[connectedComponents]] to group transitive dups, and
    * a min-id keeper anti-join — returned as the SURVIVING rows of
    * `emb`. The only new cost over pair generation is the (pairs-sized,
    * tiny) component computation and one keeper anti-join. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nClusters: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    // blocking is COMPLETE for any centroid set (triangle-inequality
    // cluster expansion), so passing a PERSISTED artifact's centroids
    // changes only the build cost, never the answer — queries should
    // pass IndexStore.ann(...).centroids instead of paying an inline
    // KMeans fit per run
    val pairs = embeddingNearDupPairs(emb, idCol, vecCol, threshold,
      nClusters, centroids)
    val dropped = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("component_id"))
      .select(col("id").as(idCol))
    emb.join(dropped, Seq(idCol), "left_anti")
  }

  /** Blocked fuzzy join on edit distance (record linkage / entity
    * resolution): all (left, right) pairs with
    * levenshtein(leftStr, rightStr) <= maxDist, WITHOUT an all-pairs
    * scan. Candidate blocking is the PassJoin pigeonhole (Li et al.,
    * VLDB 2011, public): split each right string into maxDist+1
    * segments — at most maxDist edits cannot touch them all, so a
    * true match must contain one segment EXACTLY, shifted by at most
    * maxDist. Both sides therefore emit O(maxDist²) short substring
    * keys MAP-SIDE, candidates come from one (len, seg_idx, seg)
    * equi-join, and only candidates pay the levenshtein verify
    * (Spark's codegen'd builtin). Blocking is COMPLETE — the oracle
    * compares against brute force — and the plan is the usual dedup
    * shape: explode, hash-join, verify; no nested loop anywhere.
    *
    * Skew note: a shared long prefix (id-style strings, templated
    * names) makes one segment key hot, and the candidate join fans out
    * quadratically on it — the same hot-key exposure as every blocked
    * self-join here. It is a plain shuffle join, so AQE's skew-join
    * split spreads a hot key's partitions automatically; corpora that
    * are DEGENERATE on purpose (every string shares half its content)
    * should pre-group by the shared prefix and fuzzy-join the suffix. */
  def fuzzyJoin(left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val k = maxDist + 1
    def segLen(total: Column, i: Column) =
      floor(total / lit(k)).cast("int") +
        when(i < total % lit(k), 1).otherwise(0)
    def segStart(total: Column, i: Column) = // 0-based
      (i * floor(total / lit(k)).cast("int") + least(i, total % lit(k)))
        .cast("int")
    // right side: its own d+1 segments. A string shorter than d+1 has
    // EMPTY segments; they must still post (an empty segment matches at
    // any position), or short-string pairs ("a"~"b" at d=1) are missed.
    val r = right.select(col(rightId).as("id_r"), col(rightStr).as("s_r"))
      .withColumn("len_r", length(col("s_r")))
      .withColumn("i", explode(sequence(lit(0), lit(maxDist))))
      .withColumn("seg", col("s_r").substr(
        segStart(col("len_r"), col("i")) + 1, segLen(col("len_r"), col("i"))))
      .select(col("id_r"), col("len_r"), col("i"), col("seg"))
    // left side: for every compatible right length and segment index,
    // the substrings at positions within +-maxDist of that segment; a
    // zero-length segment needs exactly one (empty) probe key
    val l0 = left.select(col(leftId).as("id_l"), col(leftStr).as("s_l"))
      .withColumn("len_l", length(col("s_l")))
      .withColumn("len_r", explode(sequence(
        col("len_l") - maxDist, col("len_l") + maxDist)))
      .filter(col("len_r") >= 0)
      .withColumn("i", explode(sequence(lit(0), lit(maxDist))))
      .withColumn("sl", segLen(col("len_r"), col("i")))
      .withColumn("ss", segStart(col("len_r"), col("i")))
    val lo = greatest(lit(0), col("ss") - maxDist)
    val hi = least(col("len_l") - col("sl"), col("ss") + maxDist)
    val l = l0
      .withColumn("p", explode(
        when(col("sl") === 0, array(lit(0)))
          .otherwise(when(lo <= hi, sequence(lo, hi))
            .otherwise(array().cast("array<int>")))))
      .withColumn("seg", col("s_l").substr(col("p") + 1, col("sl")))
      .select(col("id_l"), col("s_l"), col("len_r"), col("i"), col("seg"))
    l.join(r, Seq("len_r", "i", "seg"))
      .select(col("id_l"), col("s_l"), col("id_r")).distinct()
      .join(right.select(col(rightId).as("id_r"), col(rightStr).as("s_r")), "id_r")
      // the levenshtein verify is the FLOP-dense stage and its input
      // arrives in the id_r join's partitioning, which AQE coalesces by
      // BYTES (candidate rows are narrow) — id-pair templated corpora
      // then verify nearly serially. An explicit pair-keyed repartition
      // is exempt from coalescing and spreads the verify; the extra
      // exchange moves only the deduped candidate pairs.
      .repartition(left.sparkSession.sparkContext.defaultParallelism,
        col("id_l"), col("id_r"))
      .select(col("id_l"), col("id_r"),
        levenshtein(col("s_l"), col("s_r")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** self-join form: unordered pairs (id_a < id_b) within `maxDist` */
  def fuzzySelfJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame =
    fuzzyJoin(df, idCol, strCol, df, idCol, strCol, maxDist)
      .filter(col("id_l") < col("id_r"))
      .select(col("id_l").as("id_a"), col("id_r").as("id_b"), col("dist"))

  /** Leakage-safe train/valid/test split: near-duplicate docs must land
    * in the SAME split, or the test set leaks training data (the
    * contamination failure dedup-unaware random splits cause). The
    * split key is the doc's duplicate-component id ([[connectedComponents]]
    * over `pairs`; singletons key on their own id), bucketed by first
    * md5 hex char — train <= `trainUpTo` < valid <= `validUpTo` < test,
    * matching the engine's deterministic hash-split convention. One
    * broadcast-or-hash join of docs against the (small, pairs-sized)
    * component map; engine-independent and oracle-checkable. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, trainUpTo: String = "c",
      validUpTo: String = "e"): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("component_id"))
    val h = substring(md5(col("group_key").cast("string")), 1, 1)
    docs.join(cc, Seq(idCol), "left")
      .withColumn("group_key",
        coalesce(col("component_id"), col(idCol).cast("long")))
      .drop("component_id")
      .withColumn("split",
        when(h <= trainUpTo, "train").when(h <= validUpTo, "valid")
          .otherwise("test"))
  }

  /** Chunk-level exact dedup with document reassembly — the
    * paragraph-dedup of web-corpus pipelines (RefinedWeb/Dolma drop
    * repeated paragraphs, not whole documents) expressed over
    * single-line corpora by chunking on fixed `chunkWords` word
    * windows. A chunk survives iff it is the corpus-wide FIRST
    * occurrence of its text, "first" = lexicographic min (doc, idx);
    * every doc rebuilds from its surviving chunks in original order.
    * Returns (id, n_chunks, n_kept, text_clean) with text_clean NULL
    * when nothing survives.
    *
    * Two hash shuffles at any scale: the keeper decision is a map-side
    * combinable min-struct agg on md5(chunk) (fixed-width keys — a
    * boilerplate chunk repeated a billion times partial-aggregates to
    * one row per map task), the rebuild one doc-key agg; the
    * chunks-to-keeper equi-join co-partitions on the chunk hash under
    * AQE. Never a window over raw chunk text, never a self-join. */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkWords: Int): DataFrame = {
    require(chunkWords > 0, "chunkWords must be positive")
    chunkDedupFrom(TextAnalysis
      .chunkTokens(docs, idCol, textCol, chunkWords, 0)
      .select(col(idCol).as("id"), col("chunk_idx"),
        col("chunk_text")), sep = " ")
  }

  /** [[chunkDedup]] over ANY `(id, chunk_idx, chunk_text)` frame —
    * fixed token windows ([[TextAnalysis.chunkTokens]]) or
    * insertion-robust content-defined chunks
    * ([[TextAnalysis.cdcChunks]], `sep = ""` since CDC chunks carry
    * their original spacing). Same keeper/rebuild machinery. */
  def chunkDedupFrom(chunks0: DataFrame, sep: String): DataFrame = {
    // the chunk frame feeds the keeper agg AND the rebuild join —
    // persist so the corpus-wide explode happens once (staged-frame
    // pattern of the MinHash/DSIR operators)
    val chunks = chunks0
      .select(col("id"), col("chunk_idx"), col("chunk_text"),
        md5(col("chunk_text")).as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keeper = chunks
      .groupBy(col("__h"))
      .agg(min(struct(col("id"), col("chunk_idx"))).as("__keep"))
    rebuildFromMarked(
      chunks.join(keeper, "__h")
        .withColumn("__kept", col("__keep.id") === col("id") &&
          col("__keep.chunk_idx") === col("chunk_idx")), sep)
  }

  /** doc rebuild shared by the chunk-dedup family (incl. the streaming
    * maintainers): a marked (id, chunk_idx, chunk_text, __kept) frame →
    * one row per doc with the surviving chunks re-joined in original
    * order */
  private[graft] def rebuildFromMarked(marked: DataFrame, sep: String): DataFrame =
    marked.groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("__kept"),
          struct(col("chunk_idx"), col("chunk_text"))))).as("__surv"))
      .withColumn("text_clean",
        when(col("n_kept") > 0,
          array_join(transform(col("__surv"), _.getField("chunk_text")), sep)))
      .drop("__surv")

  /** RefinedWeb-style BOILERPLATE removal: drop EVERY occurrence of a
    * chunk that appears in at least `minDf` distinct documents —
    * cookie banners, nav rails, legal footers should survive NOWHERE,
    * unlike [[chunkDedupFrom]]'s first-occurrence keeper which leaves
    * one copy in the corpus (RefinedWeb §Line-wise dedup, Penedo et
    * al. 2023; the reference ships the same corpus-hygiene posture via
    * its dataset query layer, `python/deeplake/types.pyi` text htypes).
    * `exempt` chunks (e.g. blank lines — document STRUCTURE, not
    * content) never count toward document frequency and are always
    * kept. Returns (id, n_chunks, n_kept, text_clean), text_clean NULL
    * when nothing survives.
    *
    * Scale shape: the df agg is a two-phase distinct on fixed-width
    * (md5, id) pairs — a universal boilerplate chunk never funnels one
    * reducer because the distinct keys on the PAIR; then one equi-join
    * of chunks against the hash→df map and the per-doc rebuild agg.
    * Everything keys on md5 or doc id: fully parallel at corpus scale. */
  def boilerplateDedupFrom(chunks0: DataFrame, sep: String, minDf: Int = 2,
      exempt: Column = lit(false)): DataFrame = {
    require(minDf >= 2, "minDf < 2 would drop every chunk")
    // Eager localCheckpoint, not persist: the returned frame keeps no
    // release handle, so a persist would pin a corpus-chunk-sized cache
    // entry for the session (the ksGaps leak shape). Checkpoint blocks
    // are reclaimed by the ContextCleaner once the frame is unreachable.
    val chunks = chunks0
      .select(col("id"), col("chunk_idx"), col("chunk_text"),
        md5(col("chunk_text")).as("__h"), exempt.as("__ex"))
      .localCheckpoint()
    val dfFrame = chunks.filter(!col("__ex"))
      .groupBy(col("__h")).agg(countDistinct(col("id")).as("__nd"))
    rebuildFromMarked(
      chunks.join(dfFrame, Seq("__h"), "left")
        .withColumn("__kept",
          col("__ex") || coalesce(col("__nd") < minDf, lit(true))), sep)
  }

  /** [[boilerplateDedupFrom]] over fixed word windows — the form that
    * works on single-line corpora (the planted-fixture query path) */
  def boilerplateChunkDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkWords: Int, minDf: Int = 2): DataFrame = {
    require(chunkWords > 0, "chunkWords must be positive")
    boilerplateDedupFrom(TextAnalysis
      .chunkTokens(docs, idCol, textCol, chunkWords, 0)
      .select(col(idCol).as("id"), col("chunk_idx"), col("chunk_text")),
      sep = " ", minDf = minDf)
  }

  /** Exact LINE dedup — the literal RefinedWeb recipe: split on
    * newlines, drop all copies of any line found in `minDf`+ distinct
    * documents, rebuild with newlines. Blank-after-trim lines are
    * exempt (kept everywhere): they are paragraph structure, and
    * removing them corpus-wide would destroy formatting in every doc. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int = 2): DataFrame =
    boilerplateDedupFrom(
      docs.select(col(idCol).as("id"),
          posexplode(split(col(textCol), "\n")).as(Seq("chunk_idx", "chunk_text"))),
      sep = "\n", minDf = minDf,
      exempt = trim(col("chunk_text")) === "")

  /** Cross-source corpus-overlap matrix: exact Jaccard similarity of
    * the distinct 3-gram shingle sets of every pair of `groupCol`
    * values — the contamination/redundancy audit run before mixing
    * corpora ("how much of source B is already in source A?").
    * Returns (group_a, group_b, n_a, n_b, n_common, jaccard) for pairs
    * with group_a < group_b and n_common > 0.
    *
    * Scale shape: ONE distinct-(group, shingle-hash) shuffle, then a
    * per-shingle group-SET agg — bounded by the group count, never by
    * row count — whose pair fan-out is |sets|² per shingle. Shingles
    * present in more than `dfCap` groups (universal boilerplate — the
    * quadratic hazard when groups number in the thousands) are dropped
    * under the same stop-shingle posture as [[crossCorpusContainment]];
    * the final (group, group) agg is dimension-table sized. */
  def corpusOverlap(docs: DataFrame, groupCol: String, textCol: String,
      dfCap: Int = Int.MaxValue): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val e = docs
      .repartition(par, col(groupCol), col(textCol))
      .select(col(groupCol).as("g"), tokens(col(textCol)).as("__toks"))
      .select(col("g"), explode(shingles(col("__toks"))).as("sh"))
      .select(col("g"), xxhash64(col("sh")).as("h"))
      .distinct()
      // feeds the size agg AND the source-set agg: persist so the
      // shingle explode + distinct shuffle run once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = e.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val pairs = e.groupBy(col("h"))
      .agg(array_sort(collect_set(col("g"))).as("gs"))
      .filter(size(col("gs")).between(2, dfCap))
      .select(explode(flatten(transform(col("gs"), a =>
        transform(filter(col("gs"), b => b > a),
          b => struct(a.as("ga"), b.as("gb")))))).as("p"))
      .groupBy(col("p.ga").as("group_a"), col("p.gb").as("group_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("g").as("group_a"), col("n").as("n_a"))),
        "group_a")
      .join(broadcast(sizes.select(col("g").as("group_b"), col("n").as("n_b"))),
        "group_b")
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard"))
  }

  /** The 100 TB posture for [[corpusOverlap]]: bottom-k (KMV) shingle
    * signatures per source instead of the exact distinct-(g, shingle)
    * shuffle + per-shingle set agg. ONE aggregation with fixed k-longs
    * state per source (map-side combinable — no distinct shuffle, no
    * per-shingle fan-out, no dfCap stop-shingle needed), then pairwise
    * estimation over the |sources| × k driver artifact (bounded like a
    * centroid table): the k smallest of A ∪ B are a uniform sample of
    * the union, so the fraction present in BOTH signatures estimates
    * Jaccard; distinct sizes come from the KMV estimator (exact when a
    * source has < k distinct shingles — then the pair's Jaccard is
    * exact too). Emits ALL source pairs, including zero-overlap ones
    * (the audit wants the full matrix).
    *
    * Hash keys are the first 60 bits of md5(shingle) — uniform like
    * xxhash64, but replayable in ANY engine with string md5 (DuckDB
    * folds the same 15 hex chars), which upgrades the driver check
    * from spec-only to a FULL oracle.
    * Output: (group_a, group_b, est_n_a, est_n_b, est_jaccard). */
  def corpusOverlapSketch(docs: DataFrame, groupCol: String, textCol: String,
      k: Int = 1024): DataFrame = {
    require(k > 1, "k must exceed 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val e = docs
      .select(col(groupCol).cast("string").as("g"), tokens(col(textCol)).as("__toks"))
      .select(col("g"), explode(shingles(col("__toks"))).as("sh"))
      .select(col("g"), md5Hash60(col("sh")).as("h"))
    val bk = new Sketches.BottomK(k)
    val withSig = e.groupBy(col("g"))
      .agg(udaf(bk, org.apache.spark.sql.Encoders.scalaLong)(col("h")).as("sig"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
      .toMap
    // a source whose docs yield NO shingles (all sub-3-token) still owes
    // its matrix rows — its signature is the empty set, not an absence
    val sigs = docs.select(col(groupCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
      .map(g => g -> withSig.getOrElse(g, Array.emptyLongArray))
    overlapFromSignatures(spark, sigs, k)
  }

  /** 60-bit md5-prefix hash key (first 15 hex chars, base-16) — the
    * KMV sketch key: uniform like xxhash64 but replayable in any
    * engine with string md5 (DuckDB folds the same chars), shared by
    * the batch sketch and the streaming maintainer. */
  private[graft] def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Pairwise overlap matrix from per-group BottomK signatures (sorted
    * distinct 60-bit hashes, ≤ k each) — the shared estimation tail of
    * [[corpusOverlapSketch]] and the streaming maintainer
    * ([[graft.streaming.StreamingSketch]]): both routes MUST emit
    * identical numbers given the same signatures, so the math lives
    * once. Driver-side over the bounded |groups| × k artifact. */
  private[graft] def overlapFromSignatures(
      spark: org.apache.spark.sql.SparkSession,
      sigs: Seq[(String, Array[Long])], k: Int): DataFrame = {
    import spark.implicits._
    def contains(a: Array[Long], v: Long): Boolean =
      java.util.Arrays.binarySearch(a, v) >= 0
    val rows = for {
      i <- sigs.indices
      j <- (i + 1) until sigs.length
    } yield {
      val (ga, sa) = sigs(i)
      val (gb, sb) = sigs(j)
      // k smallest distinct of the union (both inputs sorted distinct)
      val union = new Sketches.BottomK(k).merge(sa, sb)
      val inBoth = union.count(v => contains(sa, v) && contains(sb, v))
      val jac = if (union.isEmpty) 0.0 else inBoth.toDouble / union.length
      (ga, gb,
        math.round(Sketches.kmvDistinctEstimate60(sa, k)),
        math.round(Sketches.kmvDistinctEstimate60(sb, k)),
        BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    rows.toDF("group_a", "group_b", "est_n_a", "est_n_b", "est_jaccard")
  }
}
