package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The events read must adapt to whatever parquet logical type the
  * corpus generator chose for `ts` — the r6 corpus regeneration turned a
  * fixed nanos-as-long assumption into 17 missing queries, 16 red tests
  * and a crashed bench. Both generations (and the failure mode for an
  * unsupported type) are pinned here against synthetic single-table
  * corpus dirs.
  *
  * The driver-side schema cache is pinned here too: a table file's schema
  * is reused only while the file, the reader options and the inference
  * confs are what it was inferred under.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  private def freshDir(): String =
    Files.createTempDirectory("graft-tables").toString

  // 2021-01-02T03:04:05.123456 UTC in epoch micros
  private val micros = 1609556645123456L

  test("events: TIMESTAMP(MICROS) NTZ corpus derives exact ts + ts_ns") {
    val dir = freshDir()
    spark.sql(
      s"""SELECT 1L AS event_id,
         |timestampadd(MICROSECOND, $micros, TIMESTAMP_NTZ'1970-01-01 00:00:00') AS ts,
         |7L AS user_id""".stripMargin)
      .write.parquet(s"$dir/events.parquet")
    val ev = Tables(spark, dir, "events")
    val row = ev.select(col("ts_ns"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s")).collect()(0)
    assert(row.getLong(0) === micros * 1000L)
    assert(row.getString(1) === "2021-01-02 03:04:05.123456")
  }

  test("events: nanos-as-long corpus keeps exact ts_ns and truncates ts to micros") {
    val dir = freshDir()
    // 18-digit nanos with a sub-microsecond tail: ts must TRUNCATE (the
    // double-division rounding bug this branch's DIV guards against)
    val nanos = micros * 1000L + 999L
    spark.range(1).select(lit(2L).as("event_id"), lit(nanos).as("ts"),
      lit(8L).as("user_id"))
      .write.parquet(s"$dir/events.parquet")
    val ev = Tables(spark, dir, "events")
    val row = ev.select(col("ts_ns"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s")).collect()(0)
    assert(row.getLong(0) === nanos)
    assert(row.getString(1) === "2021-01-02 03:04:05.123456")
  }

  test("events: an unsupported ts type fails loudly, not downstream") {
    val dir = freshDir()
    spark.range(1).select(lit(3L).as("event_id"), lit("not a time").as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables(spark, dir, "events"))
    assert(e.getMessage.contains("unsupported"))
  }

  /** `df` as one parquet file at `file`: Spark writes a directory, so
    * its one part file is moved into place. */
  private def writeFile(df: DataFrame, file: String): Unit = {
    val tmp = Files.createTempDirectory("graft-part").resolve("t")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
  }

  private def docs(n: Int): DataFrame =
    spark.range(n).select(col("id").as("doc_id"), concat(lit("d"), col("id")).as("text"))

  /** cache entries under `dir` */
  private def entries(dir: String): Int =
    Tables.schemas.keySet().asScala.count(_.contains(dir))

  private def jobs(body: => Unit): Int = JobCount(spark)(body)

  test("schema cache: a cold open runs one job, a warm reopen none") {
    val dir = freshDir()
    writeFile(docs(5), s"$dir/documents.parquet")
    assert(jobs(Tables(spark, dir, "documents")) === 1)
    assert(jobs(Tables(spark, dir, "documents")) === 0)
    assert(Tables(spark, dir, "documents").count() === 5)
  }

  test("schema cache: a replaced file is read with its new schema and rows") {
    val dir = freshDir()
    val file = s"$dir/documents.parquet"
    writeFile(docs(3), file)
    assert(Tables(spark, dir, "documents").columns.toSeq === Seq("doc_id", "text"))
    writeFile(spark.range(4).select(col("id").as("doc_id"), (col("id") * 10).as("score"),
      lit(true).as("flag")), file)
    val t = Tables(spark, dir, "documents")
    assert(t.schema === spark.read.parquet(file).schema)
    assert(t.columns.toSeq === Seq("doc_id", "score", "flag"))
    assert(t.orderBy("doc_id").collect().map(_.getLong(1)).toSeq === Seq(0L, 10L, 20L, 30L))
  }

  test("schema cache: three rewrites of one path leave one entry") {
    val dir = freshDir()
    for (n <- 1 to 3) {
      writeFile(docs(n), s"$dir/documents.parquet")
      assert(Tables(spark, dir, "documents").count() === n)
    }
    assert(entries(dir) === 1)
  }

  test("schema cache: each open's schema follows binaryAsString") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a plain parquet writer: a Spark-written file carries its Spark
    // schema in the footer, which inference prefers over the conf
    val dir = freshDir()
    val file = s"$dir/documents.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 doc_id; required binary text; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup().append("doc_id", 1L).append("text", "abc"))
    w.close()
    val key = SQLConf.PARQUET_BINARY_AS_STRING.key
    try {
      val seen = for (v <- Seq(false, true, false, true)) yield {
        spark.conf.set(key, v)
        val t = Tables(spark, dir, "documents")
        assert(t.schema === spark.read.parquet(file).schema, s"binaryAsString=$v")
        assert(t.count() === 1)
        t.schema("text").dataType
      }
      assert(seen.distinct.size === 2, seen)
    } finally spark.conf.unset(key)
  }

  test("schema cache: reader options are part of the key") {
    val dir = freshDir()
    writeFile(docs(6), s"$dir/documents.parquet")
    val url = s"graftfs://$dir/documents.parquet"
    val creds = Map(
      "fs.graftfs.impl" -> classOf[CredentialedLocalFs].getName,
      "fs.graftfs.impl.disable.cache" -> "true",
      "graftfs.secret" -> "letmein")
    assert(Tables.openUrl(spark, url, creds).count() === 6)
    assert(jobs(Tables.openUrl(spark, url, creds)) === 0)
    // another option set infers again and replaces the entry
    val more = creds + ("mergeSchema" -> "false")
    assert(jobs(Tables.openUrl(spark, url, more)) === 1)
    assert(Tables.openUrl(spark, url, more).count() === 6)
    assert(entries(dir) === 1)
    // a cached schema never stands in for a credential the read lacks
    intercept[Exception](Tables.openUrl(spark, url, creds - "graftfs.secret").count())
  }

  test("schema cache: a missing table raises the plain read's error") {
    val dir = freshDir()
    val want = intercept[AnalysisException](spark.read.parquet(s"$dir/documents.parquet"))
    val got = intercept[AnalysisException](Tables(spark, dir, "documents"))
    assert(got.getMessage === want.getMessage)
    assert(got.getCondition === want.getCondition)
    assert(entries(dir) === 0)
  }

  test("schema cache: a directory table is read as before and never cached") {
    val dir = freshDir()
    docs(7).repartition(2).write.parquet(s"$dir/documents.parquet")
    for (_ <- 1 to 2)
      assert(Tables(spark, dir, "documents").orderBy("doc_id")
        .collect().map(_.getString(1)).toSeq === (0 until 7).map(i => s"d$i"))
    assert(entries(dir) === 0)
  }
}
