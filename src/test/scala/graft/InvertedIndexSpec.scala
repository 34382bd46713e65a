package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.InvertedIndex

/** Index routing: indexed answers must equal linear-scan answers, and the
  * registry must fall back to a scan when no index is registered
  * (reference index_holder.can_run_query/run_query contract). */
class InvertedIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  private def docs = graft.sources.Tables(spark, dir, "documents")

  test("indexed CONTAINS equals linear-scan CONTAINS") {
    val idx = InvertedIndex.build(docs, "doc_id", "text")
    val viaIndex = InvertedIndex.searchDocs(docs, "doc_id",
        InvertedIndex.containsAll(idx, Seq("vector", "query")))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val viaScan = docs.filter(
        array_contains(InvertedIndex.terms(col("text")), "vector") &&
        array_contains(InvertedIndex.terms(col("text")), "query"))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(viaIndex == viaScan)
    assert(viaIndex.nonEmpty)
  }

  test("registry routes through index when registered, scan otherwise") {
    val reg = new InvertedIndex.Registry
    val scanned = reg.contains(docs, "documents", "doc_id", "text", Seq("vector"))
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(!reg.canRun("documents", "text"))
    reg.registerText("documents", "text", InvertedIndex.build(docs, "doc_id", "text"))
    assert(reg.canRun("documents", "text"))
    val routed = reg.contains(docs, "documents", "doc_id", "text", Seq("vector"))
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(routed == scanned)
  }

  test("vector top-k routes to ANN when registered, brute force otherwise") {
    import graft.operators.AnnIndex
    val emb = graft.sources.Tables(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val corpus = emb.filter(col("vec_id") >= 3)
    val reg = new InvertedIndex.Registry
    val brute = reg.vectorTopK(corpus, "embeddings", "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("qid", "rank", "id").orderBy("qid", "rank").collect().toSeq
    // exhaustive probe (huge cluster factor) must reproduce exact results
    reg.registerEmbedding("embeddings", "embedding",
      AnnIndex.build(corpus, "vec_id", "embedding", nClusters = 4))
    val routed = reg.vectorTopK(corpus, "embeddings", "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5,
        AnnIndex.SearchConfig(clusterSearchFactor = 100.0))
      .select("qid", "rank", "id").orderBy("qid", "rank").collect().toSeq
    assert(routed == brute)
    assert(brute.size == 15)
  }

  test("numeric index range equals scan range") {
    val ev = graft.sources.Tables(spark, dir, "events")
    val reg = new InvertedIndex.Registry
    reg.registerNumeric("events", "value", InvertedIndex.buildNumeric(ev, "event_id", "value"))
    val routed = reg.numericRange(ev, "events", "event_id", "value", 10.0, 20.0)
      .select("event_id").orderBy("event_id").collect().map(_.getLong(0)).toSeq
    val scanned = ev.filter(col("value").between(10.0, 20.0))
      .select("event_id").orderBy("event_id").collect().map(_.getLong(0)).toSeq
    assert(routed == scanned && routed.nonEmpty)
  }

  test("fuzzyContains finds docs through 1-edit term variants only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "vector search engine"),
      (2L, "vectors of numbers"),     // "vectors" is 1 edit from "vector"
      (3L, "victor runs fast"),       // "victor" is 1 edit from "vector"
      (4L, "nothing related")
    ).toDF("doc_id", "text")
    val idx = InvertedIndex.build(docs, "doc_id", "text")
    val got = InvertedIndex.fuzzyContains(idx, "vector", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    assert(got === Seq((1L, "vector", 0), (2L, "vectors", 1), (3L, "victor", 1)))
  }

  test("phrase match: consecutive only, repeated words, order sensitivity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big data systems win"),        // has "big data"
      (2L, "data big systems"),            // words present, wrong order
      (3L, "big systems data"),            // words present, not adjacent
      (4L, "say big big data twice"),      // repeated-word phrase source
      (5L, "big data big data"),           // phrase twice (still one hit)
      (6L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val pos = InvertedIndex.buildPositional(docs, "doc_id", "text")
    def hits(phrase: String*): Seq[Long] =
      InvertedIndex.phraseMatch(pos, phrase)
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(hits("big", "data") === Seq(1L, 4L, 5L))
    assert(hits("data", "big") === Seq(2L, 5L))
    // repeated word in the phrase must demand BOTH positions
    assert(hits("big", "big", "data") === Seq(4L))
    // single word degenerates to containsAny semantics
    assert(hits("systems") === Seq(1L, 2L, 3L))
    // no match returns empty, not an error
    assert(hits("big", "nothing") === Seq.empty)
  }
}
