package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ingest boundaries (SURVEY.md §2.1): from_csv / to_csv / from_coco
  * (`__init__.pyi:4717-4733`, CSV sink :2500); from_parquet is
  * `spark.read.parquet` itself.
  *
  * Spark-native: `spark.read` handles schema inference and distributed
  * parse; COCO (one JSON object with images/annotations/categories
  * arrays) becomes three relational tables via explode — the same
  * flatten-to-columns shape the reference's `from_coco` produces.
  */
object Ingest {

  def fromCsv(spark: SparkSession, path: String, header: Boolean = true,
      inferSchema: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .csv(path)

  def toCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.option("header", header.toString).mode("overwrite").csv(path)

  /** ORC — the other columnar interchange format large warehouses emit
    * (Hive/Trino lakes). Spark's native vectorized ORC reader gives the
    * same pushdown/pruning surface as parquet; round-trip is
    * spec-gated. */
  def fromOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def toOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** JSONL (one JSON object per line) — the dominant interchange format
    * of text-pipeline corpora (Dolma, RedPajama, OpenWebText dumps all
    * ship as JSONL shards). Line-delimited is Spark's native json mode:
    * schema inference + distributed parse, splittable per line. */
  def fromJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def toJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Read WebDataset-style tar shards (the inverse of
    * [[Batches.exportTarShards]]): one row per member file,
    * (shard, key, ext, data) — re-ingest / inspection of training
    * archives without un-taring to disk. Each archive parses map-side
    * inside the executor that read it (`binaryFile` source), walking
    * ustar headers: name, octal size, 512-block padding, zero-block
    * terminator. Whole-archive-per-task is the format's intrinsic
    * granularity (tar has no splits); shards are sized by the writer,
    * so tasks stay bounded. */
  def fromTarShards(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("shard", StringType), StructField("key", StringType),
      StructField("ext", StringType), StructField("data", BinaryType)))
    val raw = spark.read.format("binaryFile").load(s"$dir/*.tar")
      .select(col("path"), col("content"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    raw.flatMap { r =>
      val shard = r.getString(0).split("/").last.stripSuffix(".tar")
      val bytes = r.getAs[Array[Byte]](1)
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      var off = 0
      var done = false
      while (!done && off + 512 <= bytes.length) {
        val name = {
          var end = off
          while (end < off + 100 && bytes(end) != 0) end += 1
          new String(bytes, off, end - off, "UTF-8")
        }
        if (name.isEmpty) done = true // zero block = end of archive
        else {
          val sizeStr = new String(bytes, off + 124, 12, "UTF-8")
            .takeWhile(c => c >= '0' && c <= '7')
          val size = java.lang.Long.parseLong(sizeStr, 8).toInt
          val data = java.util.Arrays.copyOfRange(bytes, off + 512,
            off + 512 + size)
          val dot = name.lastIndexOf('.')
          val (key, ext) =
            if (dot < 0) (name, "") else (name.take(dot), name.drop(dot + 1))
          out += Row(shard, key, ext, data)
          off += 512 + ((size + 511) / 512) * 512
        }
      }
      out
    }(enc)
  }

  /** COCO dataset JSON -> (images, annotations, categories) tables.
    * Annotations keep bbox as array<double> (LTWH, the COCO convention —
    * reference BoundingBox format metadata `types.pyi:1221`). */
  def fromCoco(spark: SparkSession, path: String): (DataFrame, DataFrame, DataFrame) = {
    val raw = spark.read.option("multiLine", "true").json(path)
    val images = raw.select(explode(col("images")).as("i"))
      .select(col("i.id").as("image_id"), col("i.file_name"),
        col("i.width"), col("i.height"))
    val annotations = raw.select(explode(col("annotations")).as("a"))
      .select(col("a.id").as("ann_id"), col("a.image_id"),
        col("a.category_id"), col("a.bbox"), col("a.area"))
    val categories = raw.select(explode(col("categories")).as("c"))
      .select(col("c.id").as("category_id"), col("c.name"))
    (images, annotations, categories)
  }
}
