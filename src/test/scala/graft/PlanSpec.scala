package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan quality gates: predicate pushdown and column pruning
  * reach the parquet scan, dimension joins broadcast, aggregations have
  * map-side partials, and the vector kernel stays native (no UDF nodes).
  * These are the properties that make the same plans viable at 100 TB. */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("filters push into the parquet scan (q6 shape)") {
    val p = planOf("q6_revenue_forecast")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p) // the selective predicate reached the scan
  }

  test("column pruning: scan reads only referenced columns") {
    val df = graft.sources.Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .filter(col("l_quantity") > 10)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("dimension joins broadcast (TPC-H q5 shape)") {
    val p = planOf("q5_local_supplier_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("aggregation is partial (map-side combine) before the shuffle") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_avg"), p)
  }

  test("vector kernel plans as native expressions inside codegen") {
    val p = planOf("q_vec_cosine_topk")
    assert(p.contains("cosine_similarity") || p.contains("CosineSimilarity"), p)
    assert(!p.toLowerCase.contains("batchevalpython"), p)
    // (AQE prints isFinalPlan=false pre-execution, so codegen spans are
    // not visible here — the no-UDF check above is the invariant)
    // exact top-k lowers to TakeOrderedAndProject, not global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("embedding near-dup plans as hash equi-join, never nested-loop all-pairs") {
    val p = planOf("q_dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("row numbering is distributed (per-partition window + broadcast offsets)") {
    val p = planOf("q_row_number")
    // the data-sized window partitions by spark_partition_id; only the
    // numPartitions-row offset frame is globally windowed
    assert(p.contains("spark_partition_id") || p.contains("SPARK_PARTITION_ID"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
  }

  test("exact KS running ECDFs are distributed (per-partition window + broadcast offsets)") {
    val ev = graft.sources.Tables(spark, dir, "events")
    val r = graft.operators.Drift.ksGaps(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"), "value", 100.0, 100.0)
    val p = r.gaps.queryExecution.executedPlan.toString
    r.release()
    assert(p.contains("spark_partition_id") || p.contains("SPARK_PARTITION_ID"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    // every window ordered by the value column must partition by the
    // stamped pid; only the numPartitions-row offsets frame (ordered by
    // __ks_pid itself) may be globally windowed
    val specs = """windowspecdefinition\(([^()]*)""".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specs.nonEmpty, p)
    specs.filter(_.contains("__ks_v")).foreach { s =>
      assert(s.contains("__ks_pid"),
        s"value-ordered window is not pid-partitioned: $s\n$p")
    }
  }

  test("DSIR top-k lowers to TakeOrderedAndProject; hashed mode broadcasts the count tables") {
    val p = planOf("q_dsir_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    val d = graft.sources.Tables(spark, dir, "documents")
    val hashed = graft.operators.Dsir.logWeights(
      d, d.filter(col("source") === "src0"), "doc_id", "text",
      hashBuckets = Some(4096))
    val hp = hashed.queryExecution.executedPlan.toString
    assert(hp.contains("BroadcastExchange") || hp.contains("BroadcastHashJoin"),
      s"bounded-bucket ratio table must broadcast\n$hp")
  }

  test("bm25 searches the persisted index artifact, not an inline rebuild") {
    val p = planOf("q_bm25_topk")
    assert(p.contains("graft-index-cache"), p)
  }

  test("range join and as-of join never plan a nested loop") {
    Seq("q_range_join", "q_asof_join").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("negative sampling inverts the CDF through a bucketed hash join, never a per-draw vocabulary scan") {
    val p = planOf("q_negative_samples")
    // the only nested-loop allowed is the 1-row grand-total crossJoin
    // (the repo-wide broadcast-scalar pattern); a CONDITIONED BNLJ would
    // mean the draw is scanning the vocabulary per row again
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), s"conditioned BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p) // the bucket equi-probe
  }

  test("ann search top-k is two-phase (no single-reducer per-query window over probed candidates)") {
    // the candidate-ranking window must partition by (qid, input
    // partition) first — a window on qid alone would funnel every
    // candidate of all probed clusters for a query through one task
    Seq("q_vec_ann_topk", "q_vec_ann_quantized", "q_vec_ann_pq").foreach { q =>
      val p = planOf(q)
      assert(p.contains("spark_partition_id") || p.contains("SPARK_PARTITION_ID"),
        s"$q: candidate ranking lacks the per-partition local phase\n$p")
    }
  }

  test("decontamination joins only through shingle postings (no nested-loop, no cartesian)") {
    val p = planOf("q_decontaminate")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"decontamination must candidate-join on shingles only\n$p")
  }

  test("count(*) answers from parquet metadata (no full column read)") {
    val df = graft.sources.Tables(spark, dir, "lineitem").groupBy().count()
    val p = df.queryExecution.executedPlan.toString
    // Spark's parquet count uses an empty read schema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("struct<>") || !p.contains("ReadSchema"), p)
  }

  test("vocab top-k plans as TakeOrdered, never a global sort") {
    val p = planOf("q_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("quality rules are map-only: no Exchange in the per-doc query") {
    val p = planOf("q_quality_rules")
    // one TakeOrdered-style collect for ORDER BY is fine; the metric
    // computation itself must not shuffle
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("entropy and blocklist scoring are map-only: no Exchange, kernels stay native") {
    Seq("q_text_entropy", "q_text_blocklist").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
        s"$q must not fall back to a UDF:\n$p")
    }
    // the entropy kernel is a native expression (codegen'd), visible by name
    assert(planOf("q_text_entropy").contains("charentropy")
      || planOf("q_text_entropy").contains("CharEntropy"),
      "CharEntropy expression missing from plan")
  }

  test("Bloom decontamination keeps the prefilter map-side and joins only through shingles") {
    val p = planOf("q_decontaminate_bloom")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("perplexity scoring joins count tables without nested loops") {
    val p = planOf("q_perplexity_score")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")
      // the 1-row vocab frame rides a broadcast nested loop by design —
      // only forbid it between row-bearing sides
      || p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("RP-LSH embedding dedup joins only through band keys (no all-pairs)") {
    val p = planOf("q_dedup_embedding_rplsh")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj == 0, s"$bnlj nested-loop joins\n$p")
  }

  test("vocab encode joins token ids by broadcast, never sort-merge") {
    val p = planOf("q_vocab_encode")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tfidf broadcasts the df table; corpus never joins a big side") {
    val p = planOf("q_tfidf_topterms")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the 1-row doc-count frame rides a broadcast nested loop by design
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
  }

  test("pmi pairs never self-join positions; unigrams ride broadcasts") {
    val p = planOf("q_pmi_pairs")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly the two 1-row totals frames may ride broadcast nested loops
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2, p)
  }

  test("corpus pipeline fuses filter->dedup->mix without nested loops") {
    val p = planOf("q_corpus_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("epoch shuffle never plans a global range sort") {
    val p = planOf("q_epoch_shuffle")
    // the permutation is per-shard: hash exchange + windows, and only
    // the final ORDER BY (driver-bound output) may range-partition
    assert(p.contains("hashpartitioning"), p)
  }

  test("fuzzy join blocks through segment keys, never an all-pairs loop") {
    val p = planOf("q_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("heavy hitters second pass is a selective filter + hash agg") {
    val p = planOf("q_token_heavy_hitters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("funnel stages chain as hash equi-joins, never nested loops") {
    val p = planOf("q_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the strictly-after condition rides the join output as a Filter,
    // the join itself stays keyed on the user column
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("phrase search: one postings filter + hash aggs, no k-way self-join") {
    val p = planOf("q_phrase_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("rolling window is a single RANGE frame, no self-join") {
    val p = planOf("q_rolling_window")
    assert(!p.contains("Join"), s"rolling window must not join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("resample grid generates by explode, not a calendar cross join") {
    val p = planOf("q_resample_fill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate") || p.contains("explode"), p)
  }

  test("expectations are map-side: no exchange before the single summary agg") {
    val p = planOf("q_expectations")
    assert(!p.contains("Join"), p)
    // one aggregation tree over the scan; rule flags never shuffle rows
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("chunk dedup: hash equi-join on the chunk hash, never a window over raw chunks") {
    val p = planOf("q_dedup_chunks")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), s"keeper must be an agg+join, not a window:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("corpus overlap: pair fan-out from bounded source sets; sizes ride broadcasts") {
    val p = planOf("q_corpus_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"size joins must broadcast:\n$p")
  }

  test("anomaly scoring is one fine-grained-key window, no self-join") {
    val p = planOf("q_events_anomaly")
    assert(!p.contains("Join"), s"anomalies must not join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("event paths: lead-chain window, rank lowers to TakeOrdered (no global sort)") {
    val p = planOf("q_event_paths")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("RRF truncates via TakeOrdered before ranking; never a corpus-wide sort") {
    val p = planOf("q_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("trend is one map-side-combined hash agg: no window, no join") {
    val p = planOf("q_events_trend")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert(p.contains("partial_regr_slope") || p.contains("HashAggregate"), p)
  }

  test("k-anonymity is one hash agg over the quasi tuple: no join, no window") {
    val p = planOf("q_k_anonymity")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("grouped winsorize bounds join back by broadcast, never sort-merge") {
    val p = planOf("q_winsorize_group")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("MAD score: med/mad bind as literals — no join, no percentile map state") {
    val p = planOf("q_robust_mad")
    // exact bounds come from funnel-free rank selection and bind as
    // in-plan literals: the scoring plan is scan → project → agg with
    // no join of any kind and no value→count percentile aggregate
    assert(!p.contains("Join"), s"bounds must bind as literals:\n$p")
    assert(!p.toLowerCase.contains("percentile"),
      s"exact default must not carry percentile() map state:\n$p")
  }

  test("temporal split tags are map-side: no window, no join before the summary agg") {
    val p = planOf("q_split_temporal_embargo")
    assert(!p.contains("Window"), s"hash-assignment split needs no window:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("MI: one data-sized pair agg; marginals and totals ride broadcasts") {
    val p = planOf("q_feature_mi")
    assert(!p.contains("SortMergeJoin"),
      s"category-frame joins must broadcast, never shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("attribution is one user-key window, never a per-conversion self-join") {
    val p = planOf("q_attribution")
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), s"no self-join:\n$p")
  }

  test("token budget: weights broadcast onto the domain agg, no shuffle join") {
    val p = planOf("q_token_budget")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hard negatives: anchors broadcast; corpus never shuffle-joined") {
    val p = planOf("q_hard_negatives")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("quality blend: edges bind as literals — no join, no percentile map state") {
    val p = planOf("q_quality_blend")
    assert(!p.contains("Join"), s"edges must bind as literals:\n$p")
    assert(!p.toLowerCase.contains("percentile"), p)
  }

  test("exact-default quantile consumers carry NO percentile() single-reducer state") {
    // the SURVEY's own 100 TB killer: exact percentile()'s value→count
    // map funnels its final merge through ONE reducer proportional to
    // global distinct cardinality. The exact defaults now rank-select
    // (Quantiles.exactQuantiles, bit-identical) and bind literals —
    // so no plan here may contain a percentile aggregate of any kind.
    for (q <- Seq("q_winsorize", "q_robust_mad", "q_drift_psi",
        "q_discretize", "q_quality_blend")) {
      val p = planOf(q)
      assert(!p.toLowerCase.contains("percentile"),
        s"$q still plans a percentile aggregate:\n$p")
    }
  }

  test("inter-arrival gaps: lazy sketch posture is one fine-key window + one agg; exact default funnel-free") {
    // the exact default rank-selects per type and assembles a
    // type-count-bounded local result — no plan to window-audit, but it
    // must never carry a percentile aggregate either
    val exact = planOf("q_event_gaps")
    assert(!exact.toLowerCase.contains("percentile"), exact)
    // the approx (lazy, in-plan) posture keeps the audited shape
    val p = graft.operators.EventAnalytics.interArrival(
        graft.sources.Tables(spark, dir, "events"),
        "user_id", "ts_ns", "event_type", approxBounds = true)
      .queryExecution.executedPlan.toString
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("CDC latest-state is one partial-combined aggregate: no window, no join") {
    val p = planOf("q_cdc_latest")
    // the property that matters at scale: a PARTIAL max_by runs before
    // the exchange (each partition ships one candidate per key, not its
    // history), and no window sorts any key's past. Spark plans the
    // struct-ordered max_by as SortAggregate — the partial is the point.
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_max_by"), p)
  }

  test("key skew + FK audit reuse the key-count exchange across consumers") {
    // exchange reuse is an AQE runtime decision — assert on the FINAL
    // adaptive plan after an action on the query's own execution (a
    // noop write would spawn a separate QueryExecution)
    def finalPlan(name: String): String = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val ps = finalPlan("q_key_skew")
    assert(ps.contains("isFinalPlan=true"), ps)
    assert(ps.contains("ReusedExchange"), ps) // key counts computed ONCE
    assert(!ps.contains("SortMergeJoin"), ps)
    // fk audit: Catalyst SPECIALIZES the consumers instead (distinct-only
    // agg; anti-join pushed below the orphan count) — assert the anti
    // join exists and nothing degenerates to a cartesian product
    val pf = finalPlan("q_fk_audit")
    assert(pf.contains("LeftAnti"), pf)
    assert(!pf.contains("CartesianProduct"), pf)
  }

  test("PSI timeline: rows bin against broadcast pair tables, rows never join rows") {
    val p = planOf("q_drift_psi_timeline")
    // the data-sized joins (row binning) must broadcast the bucket pair
    // table; the one full-outer merge of the two (buckets x bins)-sized
    // bin-count frames cannot broadcast and legitimately sort-merges a
    // BOUNDED frame — so gate the count, not the existence
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin") <= 1, p)
  }

  test("embedding drift: two fixed-width aggregates, no shuffle join") {
    val p = planOf("q_vec_embedding_drift")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("NO registered query plans an unpartitioned window (generalizes the KS gate)") {
    // Every legitimate whole-frame rank goes through BoundedWindow (a
    // literal-keyed partition + runtime row-count assert), so ANY Window
    // with an empty partitionSpec in ANY registered query is a bug — an
    // accidental data-sized global sort funneling through one task.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      plan.collectWithSubqueries {
        case w: LWindow if w.partitionSpec.isEmpty =>
          s"$name: ${w.windowExpressions.mkString(",").take(120)}"
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows:\n${offenders.mkString("\n")}")
  }
}
