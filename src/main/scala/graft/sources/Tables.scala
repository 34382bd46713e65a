package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.core.Op

/** Catalog over the driver's parquet corpus (TESTDATA.md).
  *
  * Mirrors the reference's URL->dataset resolution (deeplake
  * `cpp/tql/executor.hpp:82` `get_data_source`) at the smallest useful
  * scale: a scale-factor directory is the "storage root", one parquet
  * file per table. Reads go through `spark.read.parquet`, so Catalyst
  * projection pruning and predicate pushdown reach the scan for free.
  * Like the reference, which opens a dataset from metadata it already
  * holds, the driver keeps each table file's schema (see `apply`), so
  * a warm open runs no Spark job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

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
    if (Snapshots.isRoot(url)) Snapshots.open(spark, url.stripPrefix("file:"))
    else if (url.endsWith(".csv"))
      spark.read.options(hadoopOpts)
        .option("header", "true").option("inferSchema", "true").csv(url)
    else parquet(spark, url, hadoopOpts)
  }

  /** What a table file's schema inference read: the file's length and
    * mtime, the reader options, and the SQL confs the parquet footer
    * converter consults. */
  private[graft] final case class Stamp(length: Long, mtime: Long,
      opts: Map[String, String], confs: Seq[Option[String]])

  /** one (stamp, schema) per qualified file path this JVM has opened */
  private[graft] val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  // every conf Spark 4.1's ParquetToSparkSchemaConverter reads; a session
  // may flip one between opens (IndexRewriteSpec flips nanosAsLong)
  private val inferenceConfs = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
    SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.VARIANT_ALLOW_READING_SHREDDED).map(_.key)

  /** `spark.read.options(opts).parquet(path)`, reusing the file's cached
    * schema when its status, the options and the confs all match.
    * Directories (whose mtime misses in-place rewrites of their files)
    * and paths whose status cannot be read take the plain read, so a
    * missing table raises Spark's own error. */
  private def parquet(spark: SparkSession, path: String, opts: Map[String, String]): DataFrame = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sessionState.newHadoopConfWithOptions(opts)).getFileStatus(p))
      catch { case _: Exception => None }
    status.filter(_.isFile) match {
      case None => spark.read.options(opts).parquet(path)
      case Some(st) =>
        val stamp = Stamp(st.getLen, st.getModificationTime, opts,
          inferenceConfs.map(spark.conf.getOption))
        Option(schemas.get(st.getPath.toString)).filter(_._1 == stamp) match {
          case Some((_, schema)) => spark.read.options(opts).schema(schema).parquet(path)
          case None =>
            val df = Op.scope(spark.sparkContext, "tables:schema")(
              spark.read.options(opts).parquet(path))
            schemas.put(st.getPath.toString, (stamp, df.schema))
            df
        }
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    apply(spark, dir, name, Map.empty)

  /** Open one table. `dir` is a scale-factor dir such as `.../sf0.01`.
    *
    * A table file's schema is inferred once (a `tables:schema` job) and
    * cached on the driver under the file's qualified path. Each later open
    * runs one `getFileStatus` and reuses the schema only if the file's
    * length and mtime, the reader options and the parquet inference confs
    * (`nanosAsLong`, `binaryAsString`, ...) all match what it was inferred
    * under; otherwise it infers again and replaces the entry. The cache
    * holds schemas only: never rows, a DataFrame or a Spark cache.
    * Directories, CSV files and [[Snapshots]] roots are read as before.
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
  def apply(spark: SparkSession, dir: String, name: String,
      hadoopOpts: Map[String, String]): DataFrame = {
    if (isUrl(name)) return openUrl(spark, name, hadoopOpts)
    require(all.contains(name), s"unknown table $name")
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val raw = parquet(spark, s"$dir/$name.parquet", hadoopOpts)
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
    } else parquet(spark, s"$dir/$name.parquet", hadoopOpts)
  }
}
