package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Drift

/** Streaming PSI drift maintenance: the reference side of
  * [[graft.operators.Drift.psiBins]] freezes ONCE (its quantile edges
  * and bin masses are a k-row artifact), and the CURRENT window's bin
  * counts accumulate as LSM segments per micro-batch — map-side
  * binning against the frozen edges, one k-row append per batch, no
  * Spark state-store growth and no re-scan of history (bin counts are
  * algebraic sums, so the merged view is a k-row groupBy over
  * segments). `currentPsi` reproduces the batch formula term for term:
  * stream-accumulated PSI equals `Drift.psiBins(ref, allSeen)` exactly
  * (spec-gated across a multi-batch split).
  */
object StreamingDrift {

  /** Compute and persist the frozen reference: k−1 quantile edges (the
    * same exact quantile call as the batch operator) and the reference
    * bin counts. Returns the edges — a bounded (k−1)-double artifact,
    * legitimately driver-held like ANN centroids. */
  def freezeReference(ref: DataFrame, valueCol: String, dir: String,
      nBins: Int = 10): Array[Double] = {
    require(nBins >= 2, "need at least 2 bins")
    val spark = ref.sparkSession
    val refNn = ref.filter(col(valueCol).isNotNull)
    // exact edges (bit-identical to percentile(), no
    // value-map single-reducer state — the repo's exact-default rule)
    val edges = graft.operators.Quantiles.exactQuantiles(
      refNn, valueCol, (1 until nBins).map(_.toDouble / nBins))
    Drift.binCounts(refNn, valueCol, edges)
      .write.mode("overwrite").parquet(s"$dir/ref_bins")
    import spark.implicits._
    edges.toSeq.zipWithIndex.map { case (e, i) => (i, e) }
      .toDF("idx", "edge").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/edges")
    edges
  }

  /** reload the frozen edges (restart/recovery path for a new driver) */
  def loadEdges(spark: SparkSession, dir: String): Array[Double] =
    spark.read.parquet(s"$dir/edges").orderBy(col("idx"))
      .collect().map(_.getDouble(1))

  /** per micro-batch: bin the arrivals against the frozen edges (the
    * batch operator's own [[Drift.binCounts]]) and write the k-row
    * count segment, batch-id keyed (bin counts are algebraic — an
    * at-least-once replay must rewrite, never re-add) */
  def maintainPsi(stream: DataFrame, valueCol: String,
      edges: Array[Double], dir: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Lsm.absorbSegment(Drift.binCounts(batch, valueCol, edges),
          s"$dir/cur_bins", Lsm.segmentKey(checkpoint, batchId))
        ()
      }
      .start()

  /** merged per-bin PSI view over everything streamed so far — the
    * exact batch formula (full-join bin alignment, ε-smoothing) over
    * the algebraically merged segments */
  def currentPsiBins(spark: SparkSession, dir: String,
      eps: Double = 1e-4): DataFrame = {
    val r = spark.read.parquet(s"$dir/ref_bins")
      .groupBy(col("bin")).agg(sum(col("n")).as("n_ref"))
    val c = Lsm.readSegments(spark, s"$dir/cur_bins")
      .groupBy(col("bin")).agg(sum(col("n")).as("n_cur"))
    val nr = r.agg(sum(col("n_ref"))).head.getLong(0).toDouble
    val nc = c.agg(sum(col("n_cur"))).head.getLong(0).toDouble
    r.join(c, Seq("bin"), "full")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .withColumn("p_ref", greatest(col("n_ref") / nr, lit(eps)))
      .withColumn("p_cur", greatest(col("n_cur") / nc, lit(eps)))
      .withColumn("psi_term",
        (col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")))
  }

  /** the scalar PSI over everything streamed so far */
  def currentPsi(spark: SparkSession, dir: String, eps: Double = 1e-4): Double =
    currentPsiBins(spark, dir, eps)
      .agg(sum(col("psi_term"))).head.getDouble(0)

  /** Streaming mix-timeline maintenance (the categorical timeline's
    * ingest half): per micro-batch, the batch's PARTIAL
    * (bucket, category) counts append as one LSM segment — counts are
    * algebraic, so merged segments equal the batch aggregate for ANY
    * split, even when one bucket's rows span many batches.
    * `bucketCol` must be event-time derived (a day column), never
    * arrival-derived. */
  def maintainMix(stream: DataFrame, bucketCol: String, catCol: String,
      dir: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Lsm.absorbSegment(
          batch.select(col(bucketCol).as("bucket"),
              col(catCol).cast("string").as("category"))
            .groupBy(col("bucket"), col("category"))
            .agg(count(lit(1)).as("n")),
          s"$dir/mix_counts", Lsm.segmentKey(checkpoint, batchId))
        ()
      }
      .start()

  /** bucket-over-bucket JS timeline over everything streamed so far —
    * the EXACT batch [[graft.operators.Drift.jsTimeline]] math over the
    * merged count segments (spec-gated: any split == batch) */
  def currentJsTimeline(spark: SparkSession, dir: String,
      eps: Double = 1e-6): DataFrame =
    graft.operators.Drift.jsTimelineFromCounts(
      Lsm.readSegments(spark, s"$dir/mix_counts"), eps)
}
