package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.InvertedIndex
import graft.plans.IndexCatalog

/** Optimizer rule: a linear-scan CONTAINS predicate over a table with a
  * registered inverted index is rewritten to a posting-table LEFT SEMI
  * join, and the rewritten plan returns identical rows. */
class IndexRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val docsPath = "/root/testdata/sf0.001/documents.parquet"
  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = { IndexCatalog.clear(); spark.stop() }

  private def containsScan(term: String) =
    spark.read.parquet(docsPath).filter(
      array_contains(split(lower(col("text")), "[^a-z0-9]+"), term))

  test("contains filter rewrites to a posting-table semi-join") {
    // expected rows with NO rule installed
    val want = containsScan("vector").select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq

    // persist + register the inverted index, install the rule
    val idxPath = Files.createTempDirectory("graft-idx").toString + "/text_idx"
    InvertedIndex.build(spark.read.parquet(docsPath), "doc_id", "text")
      .write.parquet(idxPath)
    IndexCatalog.register(docsPath, "text", idxPath, "doc_id")
    GraftExtensions.register(spark)

    val q = containsScan("vector")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.toLowerCase.contains("array_contains"), plan)

    val got = q.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("multiple CONTAINS conjuncts chain semi-joins, residual filter stays") {
    IndexCatalog.clear() // oracle rows computed with no index registered
    val want = spark.read.parquet(docsPath).filter(
        array_contains(split(lower(col("text")), "[^a-z0-9]+"), "vector") &&
        array_contains(split(lower(col("text")), "[^a-z0-9]+"), "query"))
      .filter(col("n_chars") > 50)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq

    val idxPath = Files.createTempDirectory("graft-idx2").toString + "/text_idx"
    InvertedIndex.build(spark.read.parquet(docsPath), "doc_id", "text")
      .write.parquet(idxPath)
    IndexCatalog.register(docsPath, "text", idxPath, "doc_id")
    GraftExtensions.register(spark)

    val q = spark.read.parquet(docsPath).filter(
      array_contains(split(lower(col("text")), "[^a-z0-9]+"), "vector") &&
      array_contains(split(lower(col("text")), "[^a-z0-9]+"), "query") &&
      col("n_chars") > 50)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.split("LeftSemi").length == 3, plan) // two semi-joins
    assert(plan.contains("n_chars"), plan) // residual predicate kept

    val got = q.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("wrong-separator split is NOT rewritten (tokenization mismatch)") {
    // the posting table is tokenized with [^a-z0-9]+; a predicate that
    // splits on ',' has different semantics and must stay a linear scan
    val idxPath = Files.createTempDirectory("graft-idx3").toString + "/text_idx"
    InvertedIndex.build(spark.read.parquet(docsPath), "doc_id", "text")
      .write.parquet(idxPath)
    IndexCatalog.register(docsPath, "text", idxPath, "doc_id")
    GraftExtensions.register(spark)

    val q = spark.read.parquet(docsPath).filter(
      array_contains(split(lower(col("text")), ","), "vector"))
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LeftSemi"), plan)
    assert(plan.toLowerCase.contains("array_contains"), plan)

    // split with a bounded limit also changes semantics -> no rewrite
    val q2 = spark.read.parquet(docsPath).filter(
      array_contains(split(lower(col("text")), "[^a-z0-9]+", 2), "vector"))
    val plan2 = q2.queryExecution.optimizedPlan.toString
    assert(!plan2.contains("LeftSemi"), plan2)
    IndexCatalog.clear()
  }

  test("dialect CONTAINS routes through a registered index (semi-join plan)") {
    val idxPath = Files.createTempDirectory("graft-idx4").toString + "/text_idx"
    InvertedIndex.build(spark.read.parquet(docsPath), "doc_id", "text")
      .write.parquet(idxPath)
    IndexCatalog.register(docsPath, "text", idxPath, "doc_id")
    GraftExtensions.register(spark)

    val q = graft.dialect.Tql.query(spark, "/root/testdata/sf0.001",
      "SELECT doc_id FROM documents WHERE CONTAINS(text, 'vector') ORDER BY doc_id")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), plan)

    IndexCatalog.clear()
    val want = graft.dialect.Tql.query(spark, "/root/testdata/sf0.001",
        "SELECT doc_id FROM documents WHERE CONTAINS(text, 'vector') ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val got = q.collect().map(_.getLong(0)).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("EQUALS predicate routes through a registered exact-text index") {
    IndexCatalog.clear()
    // oracle rows with no index: plain equality scan on lang
    val want = spark.read.parquet(docsPath).filter(col("lang") === "en")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq

    val idxPath = Files.createTempDirectory("graft-idx5").toString + "/exact_idx"
    InvertedIndex.buildExact(spark.read.parquet(docsPath), "doc_id", "lang")
      .write.parquet(idxPath)
    IndexCatalog.register(docsPath, "lang", idxPath, "doc_id", IndexCatalog.Equals)
    GraftExtensions.register(spark)

    val q = spark.read.parquet(docsPath).filter(col("lang") === "en")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), plan)

    val got = q.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == want && got.nonEmpty)

    // a different column's equality is untouched
    val q2 = spark.read.parquet(docsPath).filter(col("source") === "x")
    assert(!q2.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    IndexCatalog.clear()
  }

  test("JSON path equality routes through a registered JSON index") {
    IndexCatalog.clear()
    val eventsPath = "/root/testdata/sf0.001/events.parquet"
    // events.ts is TIMESTAMP(NANOS): raw parquet reads need the legacy
    // long mapping (Tables sets this too)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // oracle rows with no index: plain get_json_object scan
    val want = spark.read.parquet(eventsPath)
      .filter(get_json_object(col("props"), "$.k") === "42")
      .select("event_id").orderBy("event_id").collect().map(_.getLong(0)).toSeq

    val idxPath = Files.createTempDirectory("graft-idx6").toString + "/json_idx"
    InvertedIndex.buildJson(spark.read.parquet(eventsPath), "event_id",
        "props", Seq("$.k"))
      .write.parquet(idxPath)
    IndexCatalog.register(eventsPath, "props", idxPath, "event_id",
      IndexCatalog.Json, jsonPaths = Seq("$.k"))
    GraftExtensions.register(spark)

    val q = spark.read.parquet(eventsPath)
      .filter(get_json_object(col("props"), "$.k") === "42")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), plan)

    val got = q.select("event_id").orderBy("event_id").collect().map(_.getLong(0)).toSeq
    assert(got == want && got.nonEmpty)

    // an UNINDEXED path on the same column must stay a linear scan: the
    // posting table only holds the registered paths
    val q2 = spark.read.parquet(eventsPath)
      .filter(get_json_object(col("props"), "$.missing") === "42")
    assert(!q2.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    IndexCatalog.clear()
  }

  test("unregistered tables keep the linear scan") {
    IndexCatalog.clear()
    GraftExtensions.register(spark)
    val plan = containsScan("vector").queryExecution.optimizedPlan.toString
    assert(!plan.contains("LeftSemi"), plan)
    assert(plan.toLowerCase.contains("array_contains"), plan)
  }
}
