package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Snapshots

/** Opt-in SCALE gate for the table-owned index DDL (sibling of
  * DedupScaleSpec / AnnScaleSpec): backs the "appends absorb O(delta)"
  * claim with a measured wall-clock ratio instead of a docstring.
  *
  *  - 200k-doc versioned table (synthetic 30-word docs over a 10k
  *    vocabulary, xxhash64-derived — distributed, seed-stable)
  *  - createIndex(inverted) over the full table, timed = the rebuild
  *    cost class
  *  - append a 2k-doc delta (1% of the table), timed = the absorb cost
  *    (tokenizes ONLY the delta)
  *  - gates: absorb wall ≤ 1/3 of build wall (a rebuild-on-append
  *    implementation would be ≥ 1x), and the routed CONTAINS query
  *    over the appended marker term returns exactly the delta's docs
  *
  * Ignored by default; opt in with
  *   GRAFT_INDEX_SCALE=1 sbt "testOnly graft.IndexDdlScaleSpec"
  * Measured numbers print to stderr for the round notes.
  */
class IndexDdlScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_INDEX_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** 30 pseudo-words per doc from a 10k vocabulary; ids >= `markFrom`
    * additionally carry a marker term only the delta contains */
  private def corpus(from: Long, n: Long, marker: Option[String]): DataFrame = {
    val ids = spark.range(from, from + n).toDF("doc_id")
    val words = (0 until 30).map(j =>
      concat(lit("w"), pmod(xxhash64(col("doc_id"), lit(j)), lit(10000))))
    val text0 = concat_ws(" ", words: _*)
    ids.select(col("doc_id"),
      marker.fold(text0)(m => concat_ws(" ", lit(m), text0)).as("text"))
  }

  scaleTest("createIndex rebuild vs append absorb at 200k docs: absorb is O(delta)") {
    val root = Files.createTempDirectory("graft-ddl-scale").toString
    GraftExtensions.register(spark)
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()

    Snapshots.create(spark, root, corpus(0L, 200000L, None))
    val t0 = System.nanoTime()
    Snapshots.createIndex(spark, root, "text", "inverted", "doc_id")
    val buildSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    Snapshots.append(spark, root, corpus(1000000L, 2000L, Some("zmarkerz")))
    val absorbSec = (System.nanoTime() - t1) / 1e9
    System.err.println(
      f"[index-scale] 200k build: $buildSec%.1fs; 2k append absorb: $absorbSec%.1fs " +
        f"(ratio ${absorbSec / buildSec}%.2f)")

    // O(delta): absorbing a 1% delta must cost well under a rebuild
    // (generous 1/3 bound for host noise; a rebuild-on-append would be >= 1x)
    assert(absorbSec <= buildSec / 3.0,
      f"append absorb $absorbSec%.1fs vs build $buildSec%.1fs — not O(delta)")

    // the routed query sees exactly the absorbed delta
    val q = Snapshots.open(spark, root).filter(
      array_contains(split(lower(col("text")), "[^a-z0-9]+"), "zmarkerz"))
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    assert(q.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j }.size == 1,
      q.queryExecution.optimizedPlan.toString)
    assert(q.count() === 2000L)
  }

  scaleTest("bm25 DDL at 200k docs: append absorbs one batch segment O(delta); merge-on-read stats equal a rebuild") {
    import graft.operators.Bm25
    val root = Files.createTempDirectory("graft-ddl-scale-bm25").toString
    GraftExtensions.register(spark)
    Bm25.Catalog.clear()
    Snapshots.resetIndexRegistry()

    Snapshots.create(spark, root, corpus(0L, 200000L, None))
    val t0 = System.nanoTime()
    Snapshots.createIndex(spark, root, "text", "bm25", "doc_id")
    val buildSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    Snapshots.append(spark, root, corpus(1000000L, 2000L, Some("zmarkerz")))
    val absorbSec = (System.nanoTime() - t1) / 1e9
    System.err.println(
      f"[index-scale] bm25 200k build: $buildSec%.1fs; 2k append absorb: $absorbSec%.1fs " +
        f"(ratio ${absorbSec / buildSec}%.2f)")
    assert(absorbSec <= buildSec / 3.0,
      f"bm25 absorb $absorbSec%.1fs vs build $buildSec%.1fs — not O(delta)")

    // merge-on-read stats algebra AT SCALE: the count-weighted avgdl
    // mean + df sums over (base + delta) batch segments must equal a
    // from-scratch rebuild to float precision
    val maintained = Bm25.Catalog.lookup(root, "text").get.index
    val rebuilt = Bm25.buildIndex(Snapshots.open(spark, root), "doc_id", "text")
    val Array(mN, mAvg) = maintained.docStats.collect()(0).toSeq.toArray.map(_.toString)
    val Array(rN, rAvg) = rebuilt.docStats.collect()(0).toSeq.toArray.map(_.toString)
    assert(mN === rN && mN === "202000")
    assert(math.abs(mAvg.toDouble - rAvg.toDouble) < 1e-9,
      s"avgdl merge-on-read $mAvg vs rebuild $rAvg")
    val mDf = maintained.termDf.filter(col("term") === "zmarkerz")
      .collect().headOption.map(_.getLong(1)).getOrElse(0L)
    assert(mDf === 2000L, s"marker df $mDf")
    // scores from the maintained index == rebuild (6dp) on the marker term
    val mTop = Bm25.scoreWithIndex(maintained, Seq("zmarkerz"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSeq
    val rTop = Bm25.scoreWithIndex(rebuilt, Seq("zmarkerz"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSeq
    assert(mTop === rTop && mTop.nonEmpty)
  }

  /** 16-dim deterministic vectors (xxhash64-derived, seed-stable) */
  private def vecCorpus(from: Long, n: Long): DataFrame = {
    val ids = spark.range(from, from + n).toDF("vec_id")
    ids.select(col("vec_id"),
      transform(sequence(lit(0), lit(15)),
        j => (pmod(xxhash64(col("vec_id"), j), lit(1000)).cast("double") / 1000.0 - 0.5)
          .cast("float")).as("embedding"))
  }

  scaleTest("clustered ANN DDL at 200k vectors: append assigns the delta to existing centroids O(delta); recall matches a rebuild") {
    import graft.operators.AnnIndex
    val root = Files.createTempDirectory("graft-ddl-scale-ann").toString
    GraftExtensions.register(spark)
    AnnIndex.Catalog.clear()
    Snapshots.resetIndexRegistry()

    Snapshots.create(spark, root, vecCorpus(0L, 200000L))
    val t0 = System.nanoTime()
    Snapshots.createIndex(spark, root, "embedding", "clustered", "vec_id")
    val buildSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    Snapshots.append(spark, root, vecCorpus(1000000L, 2000L))
    val absorbSec = (System.nanoTime() - t1) / 1e9
    System.err.println(
      f"[index-scale] clustered 200k build: $buildSec%.1fs; 2k append absorb: $absorbSec%.1fs " +
        f"(ratio ${absorbSec / buildSec}%.2f)")
    assert(absorbSec <= buildSec / 3.0,
      f"clustered absorb $absorbSec%.1fs vs build $buildSec%.1fs — not O(delta)")

    // the absorbed index covers every row exactly once…
    val idx = AnnIndex.Catalog.lookup(root, "embedding").get.index
    assert(idx.assignments.count() === 202000L)
    assert(idx.assignments.select("id").distinct().count() === 202000L)

    // …and the absorbed delta is REACHABLE: querying with a delta
    // vector must return that very vector (cosine 1.0 with itself) —
    // assignDelta assigns each delta row to its nearest EXISTING
    // centroid with the same argmax the search's cluster probe uses,
    // so a mis-assigned delta (the failure this arm guards) would miss
    // its own self-match. (A rebuild-vs-absorb top-10 overlap is NOT a
    // valid gate here: two independent KMeans fits over near-uniform
    // synthetic vectors legitimately disagree on near-equidistant
    // neighbor sets.)
    import spark.implicits._
    val queries = Snapshots.open(spark, root)
      .filter(col("vec_id") >= 1000000L && col("vec_id") < 1000020L)
      .select(col("vec_id").cast("int").as("qid"), col("embedding").as("q_vec"))
    val selfRecall = AnnIndex.search(idx, queries, "qid", "q_vec", 10,
        AnnIndex.SearchConfig())
      .collect().groupBy(_.getInt(0))
      .count { case (q, rs) => rs.exists(_.getLong(1).toInt == q) }
    System.err.println(f"[index-scale] clustered delta self-match recall: $selfRecall/20")
    assert(selfRecall === 20, s"absorbed delta rows unreachable: $selfRecall/20 self-matches")
  }
}
