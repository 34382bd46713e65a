package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the driver's parquet corpus (TESTDATA.md).
  *
  * Mirrors the reference's URL->dataset resolution (deeplake
  * `cpp/tql/executor.hpp:82` `get_data_source`) at the smallest useful
  * scale: a scale-factor directory is the "storage root", one parquet
  * file per table. Reads go through `spark.read.parquet`, so Catalyst
  * projection pruning and predicate pushdown reach the scan for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Open one table. `dir` is a scale-factor dir like /root/testdata/sf0.01
    *
    * `events.ts` arrives in whatever parquet logical type the corpus
    * generator chose — TIMESTAMP(MICROS) NTZ in the current generation,
    * TIMESTAMP(NANOS) (read as a long) in earlier ones. Schema comes from
    * the dataset, not an assumption (the reference resolves source schema
    * per-dataset too, `cpp/tql/executor.hpp:82` `get_data_source`), so we
    * branch on the type actually read and normalize to two columns:
    * `ts` TimestampType (for date functions) and `ts_ns` nanosecond long
    * (exact ordering parity with DuckDB's `epoch_ns`).
    */
  /** URL-shaped dataset reference: `scheme://...` (s3a/gs/abfs/file —
    * any Hadoop FS the cluster has credentials for), an absolute path, or
    * an explicit `.parquet`/`.csv` suffix. The reference resolves these in
    * `get_data_source` (`cpp/tql/executor.hpp:82`); here the Hadoop
    * FileSystem layer does the remote I/O and credential handling, so the
    * same `spark.read` plan (pushdown, pruning) applies to any store. */
  def isUrl(ref: String): Boolean =
    ref.contains("://") || ref.startsWith("/") ||
      ref.endsWith(".parquet") || ref.endsWith(".csv")

  /** Open a dataset by URL/path (FROM "s3://bucket/ds" form).
    *
    * `hadoopOpts` are per-READ Hadoop/FS configuration overrides (access
    * keys, endpoints, custom scheme impls — the reference carries
    * credentials in query params, `cpp/tql/executor.hpp:82` +
    * `cpp/storage/provider_base.hpp`): Spark merges reader options into
    * a cloned Hadoop conf for this scan only, so one query can open a
    * bucket with its own credentials without mutating the cluster-wide
    * configuration or other concurrent queries. */
  def openUrl(spark: SparkSession, url: String,
      hadoopOpts: Map[String, String] = Map.empty): DataFrame = {
    // a versioned Snapshots root must resolve through its MANIFEST, not
    // a recursive directory read: after any copy-on-write mutation the
    // root still holds superseded seg-* dirs whose rows are deleted in
    // the current version (and createIndex registers indexes under the
    // root, so the natural follow-up `FROM "<root>"` would route them
    // over the wrong base scan). Local paths only — Snapshots manifests
    // live on the local FS; remote schemes fall through to a plain read.
    val localPath = url.stripPrefix("file:")
    val snapshotRoot = !localPath.contains("://") &&
      (try java.nio.file.Files.exists(java.nio.file.Paths.get(localPath, "_v"))
       catch { case _: Exception => false })
    if (snapshotRoot) Snapshots.open(spark, localPath)
    else if (url.endsWith(".csv"))
      spark.read.options(hadoopOpts)
        .option("header", "true").option("inferSchema", "true").csv(url)
    else spark.read.options(hadoopOpts).parquet(url)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    apply(spark, dir, name, Map.empty)

  def apply(spark: SparkSession, dir: String, name: String,
      hadoopOpts: Map[String, String]): DataFrame = {
    if (isUrl(name)) return openUrl(spark, name, hadoopOpts)
    require(all.contains(name), s"unknown table $name")
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val raw = spark.read.options(hadoopOpts).parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          // TIMESTAMP(NANOS) corpus read under nanosAsLong: nanos arrive
          // as a BIGINT. Integer DIV, not `/`: Column./ is DOUBLE
          // division, which rounds 18-digit nanos up by 1us for some
          // values (truncation must match the oracle's epoch_us exactly).
          raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
        case _: TimestampNTZType | _: TimestampType =>
          // TIMESTAMP(MICROS) corpus (NTZ or UTC-adjusted). Session TZ is
          // UTC, so the NTZ->timestamp cast is exact, and micros*1000
          // equals DuckDB's epoch_ns on the same file — every nanosecond
          // oracle holds unchanged.
          raw.withColumn("ts", col("ts").cast(TimestampType))
            .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
        case other =>
          throw new IllegalStateException(
            s"events.ts has unsupported type $other; expected " +
              "timestamp/timestamp_ntz (micros corpus) or bigint (nanos)")
      }
    } else spark.read.options(hadoopOpts).parquet(s"$dir/$name.parquet")
  }
}
