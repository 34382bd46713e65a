package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The events read must adapt to whatever parquet logical type the
  * corpus generator chose for `ts` — the r6 corpus regeneration turned a
  * fixed nanos-as-long assumption into 17 missing queries, 16 red tests
  * and a crashed bench. Both generations (and the failure mode for an
  * unsupported type) are pinned here against synthetic single-table
  * corpus dirs.
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
}
