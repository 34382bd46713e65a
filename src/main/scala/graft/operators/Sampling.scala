package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** TQL SAMPLE BY: weighted random sampling (SURVEY.md §2.8;
  * `cpp/query_core/sample_statement.hpp:15-106`, `tql.md:333-348`).
  *
  * Without replacement uses the A-ExpJ weighted reservoir key
  * `-ln(u)/w` (Efraimidis-Spirakis): the n smallest keys are an exact
  * weighted sample. Distributed cost is one TakeOrdered (per-partition
  * top-n, then merge of n-row heaps) — no full sort, no single reducer
  * holding the corpus.
  *
  * `RANDOM()` seeding: rand(seed) is deterministic per (seed, partition,
  * row-in-partition), mirroring the reference's seedable `deeplake.random`.
  */
object Sampling {

  /** SAMPLE BY weight LIMIT n (no replacement). Rows with weight <= 0 are
    * never sampled (reference clamps the same way). */
  def weightedSample(df: DataFrame, weight: Column, n: Int, seed: Long = 42L): DataFrame =
    df.withColumn("__w", weight.cast("double"))
      .filter(col("__w") > 0)
      .withColumn("__key", -log(rand(seed)) / col("__w"))
      .orderBy(col("__key").asc)
      .limit(n)
      .drop("__w", "__key")

  /** Weighted sample without replacement keyed on a ROW IDENTITY instead of
    * rand(seed): the A-ExpJ key -ln(u)/w with u = [[hashUniform]](key).
    * Exactly the Efraimidis-Spirakis weighted-reservoir distribution when
    * keys are distinct, but layout-independent, stable under re-runs/appends,
    * and replayable in any engine with string md5 — so the driver's DuckDB
    * oracle checks it row-for-row, unlike the rand(seed) variant whose value
    * depends on the physical partition layout. Distributed cost is one
    * TakeOrdered (per-partition top-n heaps, then an n-row merge). */
  def weightedHashSample(df: DataFrame, key: Column, weight: Column,
      n: Int): DataFrame =
    df.withColumn("__w", weight.cast("double"))
      .filter(col("__w") > 0)
      .withColumn("__key", -log(hashUniform(key)) / col("__w"))
      .orderBy(col("__key").asc, key)
      .limit(n)
      .drop("__w", "__key")

  /** Bernoulli fraction sample keyed on row identity: keep iff
    * [[hashUniform]](key) < fraction. Same marginal distribution as
    * `df.sample(fraction, seed)` but deterministic across engines and
    * layouts (oracle-checkable), and pure map-side — the filter pushes
    * into the scan, no RNG state per partition. */
  def fractionHashSample(df: DataFrame, key: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0, 1]")
    df.filter(hashUniform(key) < fraction)
  }

  /** SAMPLE BY weight REPLACE true LIMIT n: expected-count replication —
    * each row is emitted Poisson-ish floor(n*w/W + u) times. One pass +
    * a generator; exact multinomial would need a driver-side cumsum. */
  def weightedSampleWithReplacement(df: DataFrame, weight: Column, n: Int,
      seed: Long = 42L): DataFrame = {
    val withW = df.withColumn("__w", weight.cast("double")).filter(col("__w") > 0)
    // total weight joins in lazily as a broadcast single-row DF — no
    // driver action, the scoring plan stays one job
    val total = withW.agg(sum(col("__w")).as("__total"))
    withW.crossJoin(broadcast(total))
      .withColumn("__copies",
        floor(col("__w") / col("__total") * n + rand(seed)).cast("int"))
      .withColumn("__rep", explode(sequence(lit(1), col("__copies"))))
      .drop("__w", "__total", "__copies", "__rep")
  }

  /** MAX_WEIGHT(cond1: w1, cond2: w2, ...) — max weight among matching
    * conditions (`cpp/query_core/expr.hpp:158` arg_pairs; tql.md:336-347) */
  def maxWeight(pairs: (Column, Double)*): Column =
    greatest(pairs.map { case (c, w) => when(c, lit(w)).otherwise(lit(0.0)) }: _*)

  /** Deterministic uniform in (0, 1]: a 31-ary fold of the md5 hex
    * characters of `key` mod 1000003 — expressible identically in any
    * engine with string md5 (the DuckDB oracle mirrors it with
    * list_reduce), so samplers built on it are reproducible AND
    * oracle-checkable, unlike rand(seed) whose value depends on the
    * physical partition layout. Evaluated by the native codegen kernel
    * [[graft.functions.HashUniform]] (~1µs/row vs ~40µs for the
    * interpreted higher-order fold it replaces — per-row key cost IS
    * the sampler's scan cost at 100 TB); the value is bit-identical. */
  def hashUniform(key: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.HashUniform(
        org.apache.spark.sql.graft.Bridge.expression(key.cast("string")),
        open = false))

  /** [[hashUniform]] centered on the OPEN interval (0, 1): the +0.5
    * lattice offset keeps both endpoints unattainable BY CONSTRUCTION
    * (the closed variant's extremes, 1/1000004 and 1000003/1000004,
    * happen to be interior too, but only because of the current fold
    * constants — double-log consumers like Gumbel keys -ln(-ln(u))
    * should not depend on that accident surviving a fold change).
    * Same md5 fold, equally engine-expressible. */
  def hashUniformOpen(key: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.HashUniform(
        org.apache.spark.sql.graft.Bridge.expression(key.cast("string")),
        open = true))

  /** Negative sampling draws for skip-gram training (Mikolov et al.
    * 2013's unigram^0.75 noise distribution): `k` deterministic
    * negatives per (id, pos) pair, each drawn by inverting the
    * cumulative noise CDF at a [[hashUniformOpen]] PRF of
    * (id, pos, j, seed) — reproducible across engines, partitions and
    * epochs, and SQL-replayable. The vocabulary CDF is ONE bounded
    * window over the (vocab-sized) count frame ordered by token; the
    * draw inverts it through a BUCKETED broadcast equi-join — u
    * quantizes into 2^12 equal buckets and hash-probes only the CDF
    * slabs overlapping its bucket (the raw (lo, hi] range predicate
    * would plan as BroadcastNestedLoopJoin, scanning the whole
    * vocabulary per draw; bucketed, per-draw cost is O(|V|/B), and the
    * exact range predicate stays as the post-filter, so the drawn
    * token is bit-identical). Accidental center/context collisions are kept,
    * matching common word2vec implementations (they resample OR keep;
    * keeping is the deterministic choice). Returns the input pairs +
    * (neg_j, negative). */
  def negativeSamples(pairs: org.apache.spark.sql.DataFrame, idCol: String,
      posCol: String, vocab: org.apache.spark.sql.DataFrame,
      tokenCol: String, countCol: String, k: Int,
      seed: String = "neg"): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be >= 1")
    val weighted = vocab.select(col(tokenCol).as("__t"),
        pow(col(countCol).cast("double"), 0.75).as("__wt"))
    val tot = weighted.agg(sum(col("__wt")).as("__z"))
    // the CDF frame must broadcast into the draw join anyway, so the
    // vocabulary is bounded by that same contract — BoundedWindow makes
    // the bound a runtime assert instead of an unpartitioned window
    val cdf = BoundedWindow.over(
        weighted.crossJoin(broadcast(tot)), 1L << 22) { (d, w) =>
      val cum = w.orderBy(col("__t")).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      d.withColumn("__hi", sum(col("__wt")).over(cum) / col("__z"))
        .withColumn("__lo", col("__hi") - col("__wt") / col("__z"))
    }.select(col("__t"), col("__lo"), col("__hi"))
    val drawn = pairs
      .withColumn("neg_j", explode(sequence(lit(1), lit(k))))
      .withColumn("__u", hashUniformOpen(concat(
        col(idCol).cast("string"), lit(":"), col(posCol), lit(":"),
        col("neg_j"), lit(s":$seed"))))
    // a token's (lo, hi] slab covers buckets floor(lo·B)..floor(hi·B)
    // (u > lo can still land in lo's own bucket); expansion adds ~B
    // duplicate rows across the vocab — still broadcast-sized
    val nBuckets = 1L << 12
    val slabs = cdf.withColumn("__bkt", explode(sequence(
      greatest(floor(col("__lo") * nBuckets).cast("long"), lit(0L)),
      least(floor(col("__hi") * nBuckets).cast("long"), lit(nBuckets - 1)))))
    drawn
      .withColumn("__bkt",
        least(floor(col("__u") * nBuckets).cast("long"), lit(nBuckets - 1)))
      .join(broadcast(slabs), Seq("__bkt"))
      .filter(col("__u") > col("__lo") && col("__u") <= col("__hi"))
      .withColumn("negative", col("__t"))
      .drop("__t", "__lo", "__hi", "__u", "__bkt")
  }

  /** Weighted per-group sampling without replacement (the per-stratum
    * form of SAMPLE BY): the `n` rows per group with the smallest
    * Efraimidis-Spirakis key -ln(u)/w, u = [[hashUniform]](key). Exactly
    * the weighted-reservoir distribution, but deterministic and
    * engine-independent. One window shuffle on the group key (same cost
    * class as [[stratifiedHashSample]]); rows with weight <= 0 never
    * sample. */
  def weightedHashSamplePerGroup(df: DataFrame, stratum: Column, key: Column,
      weight: Column, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the HOF-built key is interpreted (no codegen/CSE): stage it once
    val staged = df.filter(weight.cast("double") > 0)
      .withColumn("__k", -log(hashUniform(key)) / weight.cast("double"))
    val w = Window.partitionBy(stratum).orderBy(col("__k").asc, key)
    staged.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__k", "__rk")
  }

  /** Domain-mixing resampler: build a corpus matching prescribed domain
    * proportions (the "data mixture" step of pretraining-corpus
    * assembly). Quota per domain = floor(totalN * share / Σshares);
    * each domain contributes its quota of rows by md5(key) order —
    * uniform-in-distribution yet deterministic, layout-independent, and
    * engine-expressible (fully oracle-checkable). A domain short of its
    * quota contributes everything it has (the shortfall is visible in
    * the output counts); domains absent from `targets` contribute
    * nothing. One window shuffle on the domain key. */
  def domainMix(df: DataFrame, domain: Column, key: Column,
      targets: Map[String, Double], totalN: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val z = targets.values.sum
    require(z > 0, "target shares must sum to a positive mass")
    // epsilon absorbs float error in Σshares (0.4+0.2+0.2+0.1+0.1 sums
    // to 1.0000000000000002 — bare floor would shave every quota by 1)
    val quotaCol = targets.foldLeft(lit(0L)) { case (acc, (d, w)) =>
      when(domain === d, lit(math.floor(totalN * w / z + 1e-9).toLong)).otherwise(acc)
    }
    val w = Window.partitionBy(domain).orderBy(md5(key.cast("string")))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= quotaCol)
      .drop("__rk")
  }

  /** Temperature-scaled mixture targets (the mT5/XLM-R low-resource
    * upweighting practice, public): share_d ∝ count_d^(1/T). T=1
    * reproduces natural proportions; T→∞ approaches uniform — the
    * standard knob for keeping small domains represented without
    * hand-written shares. Domain counts are a tiny driver-side map
    * (one hash-agg); feed the result to [[domainMix]] /
    * [[domainMixOversample]]. */
  def temperatureTargets(df: DataFrame, domain: Column,
      temperature: Double): Map[String, Double] = {
    require(temperature > 0, "temperature must be positive")
    df.groupBy(domain.as("__d")).agg(count(lit(1)).as("__c")).collect()
      .filter(!_.isNullAt(0))
      .map(r => r.get(0).toString ->
        math.pow(r.getLong(1).toDouble, 1.0 / temperature))
      .toMap
  }

  /** Domain mixing WITH replacement (oversampling): when a domain's
    * quota exceeds its population, rows replicate deterministically —
    * every row gets floor(quota/avail) copies and the first
    * quota mod avail rows (md5 order) one more, so the output hits the
    * quota EXACTLY and upweighting is as even as integers allow (the
    * standard fix for under-represented domains in a data mixture;
    * epoch-level repetition à la Muennighoff et al. 2023). Output adds
    * `dup_idx` (1..copies) so downstream sees distinct rows. Same
    * single window shuffle as [[domainMix]]; replication is a map-side
    * explode of an integer sequence, never a join. */
  def domainMixOversample(df: DataFrame, domain: Column, key: Column,
      targets: Map[String, Double], totalN: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val z = targets.values.sum
    require(z > 0, "target shares must sum to a positive mass")
    val quotaCol = targets.foldLeft(lit(0L)) { case (acc, (d, w)) =>
      when(domain === d, lit(math.floor(totalN * w / z + 1e-9).toLong)).otherwise(acc)
    }
    val w = Window.partitionBy(domain).orderBy(md5(key.cast("string")))
    df.withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__avail", count(lit(1)).over(Window.partitionBy(domain)))
      .withColumn("__quota", quotaCol)
      .withColumn("__copies",
        when(col("__quota") <= col("__avail"),
          when(col("__rk") <= col("__quota"), lit(1L)).otherwise(lit(0L)))
        .otherwise(floor(col("__quota") / col("__avail")).cast("long") +
          when(col("__rk") <= pmod(col("__quota"), col("__avail")), lit(1L))
            .otherwise(lit(0L))))
      .filter(col("__copies") > 0)
      .withColumn("dup_idx", explode(sequence(lit(1L), col("__copies"))))
      .drop("__rk", "__avail", "__quota", "__copies")
  }

  /** UniMax budget allocation (Chung et al., ICLR 2023 — the fairer
    * successor to temperature sampling for multilingual mixtures):
    * spread a total token budget `budget` as UNIFORMLY as possible
    * across domains, subject to a per-domain repetition cap of
    * `maxEpochs` epochs (cap_d = maxEpochs · tokens_d). This is exact
    * water-filling: the threshold τ with Σ min(cap_d, τ) = budget,
    * allocation b_d = min(cap_d, τ) — small domains get their full cap
    * (bounded repetition), large ones split the remainder evenly,
    * with none of temperature sampling's over-repetition of tiny
    * domains.
    *
    * Plan shape: one hash-agg to the per-domain token table (bounded
    * by domain count), then the greedy waterline resolves in ONE
    * ascending-cap window pass — capped(d) ⇔ cap_d · (#remaining) ≤
    * budget − prefixCap (the classic exchange argument: caps below the
    * running fair share saturate, in ascending order) — plus a 1-row
    * broadcast for τ. Fully engine-expressible (window + CASE), so the
    * query carries a FULL SQL oracle. Returns (domain, n_tokens, cap,
    * alloc, epochs) with alloc/epochs rounded to 6dp. */
  def unimaxAllocation(df: DataFrame, domain: Column, tokens: Column,
      budget: Double, maxEpochs: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, "budget must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val counts = df.groupBy(domain.as("domain"))
      .agg(sum(tokens).cast("double").as("n_tokens"))
      .withColumn("cap", col("n_tokens") * lit(maxEpochs))
    // the waterline pass windows the BOUNDED per-domain table — routed
    // through BoundedWindow (literal-keyed partition + runtime row-count
    // assert) like every other whole-frame rank, so the PlanSpec
    // unpartitioned-window gate holds
    val flagged = BoundedWindow.over(counts, 1000000L) { (d, w) =>
      val ord = w.orderBy(col("cap"), col("domain"))
      d.withColumn("__prefix", coalesce(
          sum(col("cap")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0.0)))
        .withColumn("__remaining",
          count(lit(1)).over(w) - row_number().over(ord) + lit(1))
        .withColumn("__capped",
          col("cap") * col("__remaining") <= lit(budget) - col("__prefix"))
    // checkpointed: τ's broadcast branch and the main select both read
    // this bounded (per-domain) frame — unmaterialized, each would
    // re-run the corpus token aggregation
    }.localCheckpoint()
    // coalesce BEFORE greatest: Spark's greatest skips NULLs but other
    // engines return NULL — the oracle must see the same arithmetic
    val tau = flagged.agg(
      ((lit(budget) - coalesce(sum(when(col("__capped"), col("cap"))), lit(0.0))) /
        greatest(coalesce(sum(when(!col("__capped"), lit(1L))), lit(0L)),
          lit(1L))).as("__tau"))
    flagged.crossJoin(broadcast(tau))
      .withColumn("alloc", round(
        when(col("__capped"), col("cap"))
          .otherwise(least(col("cap"), col("__tau"))), 6))
      .withColumn("epochs", round(col("alloc") / col("n_tokens"), 6))
      .select(col("domain"), col("n_tokens").cast("long").as("n_tokens"),
        round(col("cap"), 6).as("cap"), col("alloc"), col("epochs"))
  }

  /** Deterministic stratified downsampling: the `n` rows per stratum
    * whose md5(key) sorts lowest. Hash order is a uniform-but-reproducible
    * shuffle, so this IS a random sample — yet engine-independent
    * (oracle-checkable) and stable under re-runs, data reordering, and
    * incremental appends (a row's in/out status can only change when a
    * lower-hash row arrives). One window shuffle on the stratum key;
    * class-balancing for training corpora at any scale. */
  def stratifiedHashSample(df: DataFrame, stratum: Column, key: Column,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(stratum).orderBy(md5(key.cast("string")))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Cluster-prototype sampling (coreset selection): the `perCluster`
    * vectors NEAREST their cluster centroid by cosine — the prototypical
    * core of every region of embedding space, the standard seed for
    * dataset distillation / curriculum curation. With
    * `farthest = true` it returns the boundary rows instead (the
    * active-learning pick: examples the clustering is least sure of).
    * Deterministic given a centroid set (pass a persisted
    * [[AnnIndex]] artifact's centroids — built once, reused).
    *
    * Plan shape: centroids are k tiny rows — they bind as an in-plan
    * literal array, so the best-cluster assignment and similarity are
    * ONE map-side projection over the corpus (no join, no shuffle);
    * selection is one per-cluster rank window, the
    * [[stratifiedHashSample]] shuffle shape. Ties break on id, so
    * output is bit-stable across layouts. */
  def prototypeSample(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, perCluster: Int,
      farthest: Boolean = false): DataFrame = {
    require(perCluster > 0, "perCluster must be positive")
    import org.apache.spark.sql.expressions.Window
    val cents = centroids.select(col("cluster_id"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    require(cents.map(_._1).toSeq == cents.indices, "cluster ids must be 0..k-1")
    val centVecs = array(cents.map { case (_, cv) =>
      array(cv.map(x => lit(x)): _*)
    }: _*)
    val idxs = sequence(lit(0), lit(cents.length - 1))
    val staged = emb
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("__cs", transform(centVecs,
        c => graft.functions.gf.cosine_similarity(col("vec"), c)))
      .withColumn("__best", array_max(col("__cs")))
      .withColumn("cluster_id", element_at(
        filter(idxs, i => element_at(col("__cs"), i + 1) === col("__best")), 1))
    val ord =
      if (farthest) Seq(col("__best").asc, col("id").asc)
      else Seq(col("__best").desc, col("id").asc)
    val w = Window.partitionBy(col("cluster_id")).orderBy(ord: _*)
    staged.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= perCluster)
      .select(col("id"), col("cluster_id"),
        round(col("__best"), 6).as("centroid_sim"))
  }

  /** Deterministic round-robin domain interleave — the curriculum-order
    * complement of [[domainMix]]: instead of choosing WHICH rows enter
    * the mixture, fix the ORDER they are consumed so domains spread
    * maximally evenly (one row per domain per round) rather than
    * arriving in source-clustered runs that destabilize training.
    *
    * Output adds (slot, round): slot = the domain's dense index (by
    * domain-name order), round = the row's md5(seed:key) rank within its
    * domain. Reading in (round, slot) order interleaves domains
    * round-robin with a per-round domain rotation fixed by slot order;
    * within a domain, rows arrive in seeded-hash (i.e. shuffled) order.
    * Like [[graft.sources.Batches.epochShuffle]], the order is emitted
    * as sort COORDINATES, not a materialized global sort — a writer
    * range-partitions on (round, slot) and no single reducer ever owns
    * the whole order. Slots come from the tiny distinct-domain frame
    * (window over #domains rows only) and broadcast back; rounds are one
    * per-domain rank window — the same shuffle shape as
    * [[stratifiedHashSample]]. Deterministic and engine-expressible:
    * fully oracle-checkable. */
  def interleaveDomains(df: DataFrame, domain: Column, key: Column,
      seed: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct-domain frame: bounded by the domain cardinality (a mixture
    // has dozens of sources, not millions — BoundedWindow enforces 1M)
    val slots = BoundedWindow.rank(
      df.select(domain.as("__dom")).distinct(), "slot", 1L << 20,
      zeroBased = true, col("__dom"))
      .withColumn("slot", col("slot").cast("int"))
    val h = md5(concat_ws(":", lit(seed.toString), key.cast("string")))
    df.withColumn("__dom", domain).withColumn("__h", h)
      .join(broadcast(slots), "__dom")
      .withColumn("round", (row_number().over(
        Window.partitionBy(col("__dom")).orderBy(col("__h"), key)) - 1)
        .cast("long"))
      .drop("__h")
      .withColumnRenamed("__dom", "domain")
  }

  /** Token-budget mixture plan: given per-domain TARGET WEIGHTS and a
    * total token budget, compute each domain's available tokens,
    * budgeted target, sampling rate (capped at 1 without replacement)
    * and epoch factor (>1 ⇒ the domain must repeat to meet its
    * target — the "how many epochs of code vs web" planning table
    * every LLM data mix starts from). ONE data-sized hash agg on the
    * domain; all mixture math runs on the #domains frame with the
    * weights broadcast. Domains absent from `weights` get weight 0
    * (available but unbudgeted). */
  def tokenBudget(df: DataFrame, domainCol: String, tokensCol: String,
      weights: Map[String, Double], budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    require(weights.nonEmpty && weights.values.sum > 0,
      "weights must sum > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.toDF("__dom", "__w")
    val avail = df.groupBy(col(domainCol))
      .agg(sum(col(tokensCol)).cast("long").as("available_tokens"))
    val joined = avail
      .join(broadcast(wdf), col(domainCol) === col("__dom"), "left")
      .withColumn("__w", coalesce(col("__w"), lit(0.0)))
      .drop("__dom")
    val totalW = joined.agg(sum(col("__w")).as("__sw"))
    joined.crossJoin(broadcast(totalW))
      .withColumn("target_tokens",
        floor(lit(budget.toDouble) * col("__w") / col("__sw")).cast("long"))
      .withColumn("rate", round(least(lit(1.0),
        col("target_tokens") / col("available_tokens")), 6))
      .withColumn("epochs", round(
        col("target_tokens") / col("available_tokens"), 4))
      .withColumn("sampled_tokens",
        least(col("target_tokens"), col("available_tokens")))
      .drop("__w", "__sw")
  }
}
