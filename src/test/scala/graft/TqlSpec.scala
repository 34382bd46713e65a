package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.dialect.Tql
import graft.functions.gf

/** Test FileSystem: local passthrough behind a custom scheme that
  * REQUIRES a credential in the Hadoop conf it is initialized with —
  * proves per-query storage options reach the FS layer. */
class CredentialedLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    require(conf.get("graftfs.secret") == "letmein", "graftfs: missing credential")
    super.initialize(uri, conf)
  }
}

/** A second "cloud": same credential KEY (`graftfs.secret`) but a
  * different required value — two stores in one query can only both
  * open if each scan carries its own conf (per-alias storage options;
  * one query-wide map cannot hold two values for one key). */
class CredentialedLocalFsB extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfsb"
  override def getUri: java.net.URI = java.net.URI.create("graftfsb:///")
  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    require(conf.get("graftfs.secret") == "opensesame", "graftfsb: wrong credential")
    super.initialize(uri, conf)
  }
}

/** TQL dialect frontend: parse + compile + execute against sf0.001,
  * cross-checked with directly-built DataFrames. */
class TqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  private def tbl(name: String) = graft.sources.Tables(spark, dir, name)

  /** The ids of the `In`/`InSet` filters on `idCol` in the optimized
    * plan — the ANN route's candidate restriction (empty: none). */
  private def inIds(df: org.apache.spark.sql.DataFrame, idCol: String): Seq[Set[Any]] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, In, InSet}
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case In(a: Attribute, list) if a.name == idCol && list.forall(_.foldable) =>
        list.map(_.eval()).toSet
      case InSet(a: Attribute, set) if a.name == idCol => set
    }))
  }

  /** a collected value as the plan holds it (UTF8String, days, micros) */
  private def catalyst(v: Any): Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(v)

  /** the plan restricts `idCol` to exactly the ids the query returns */
  private def assertRoutedTo(df: org.apache.spark.sql.DataFrame, idCol: String): Unit = {
    val got = df.collect().map(r => catalyst(r.get(0))).toSet
    assert(inIds(df, idCol) === Seq(got), df.queryExecution.optimizedPlan.toString)
  }

  test("ANALYZE populates the stats catalog with exact MCV frequencies") {
    graft.plans.StatsCatalog.clear()
    val row = Tql.query(spark, dir, "ANALYZE documents (lang)").collect()(0)
    assert(row.getString(0) === "documents")
    val docs = tbl("documents")
    assert(row.getLong(1) === docs.count())
    assert(row.getLong(2) === 1L)
    val st = graft.plans.StatsCatalog.lookup(s"$dir/documents.parquet").get
    val top = docs.groupBy("lang").count().orderBy(col("count").desc).collect()(0)
    assert(st.cols("lang").mcvs(top.getString(0)) === top.getLong(1))
    graft.plans.StatsCatalog.clear()
  }

  test("projection + where + order + limit") {
    val got = Tql.query(spark, dir,
      """SELECT l_orderkey, l_quantity * l_extendedprice AS gross
        |FROM lineitem WHERE l_quantity > 45 ORDER BY gross DESC, l_orderkey LIMIT 5""".stripMargin)
    val want = tbl("lineitem").filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), (col("l_quantity") * col("l_extendedprice")).as("gross"))
      .orderBy(col("gross").desc, col("l_orderkey")).limit(5)
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("glob LIKE translation and IN / BETWEEN / IS NULL") {
    val got = Tql.query(spark, dir,
      """SELECT p_partkey FROM part
        |WHERE p_name LIKE '*a*' AND p_size BETWEEN 1 AND 15
        |AND p_brand NOT IN ('Brand#99') ORDER BY p_partkey""".stripMargin)
    val want = tbl("part")
      .filter(col("p_name").like("%a%") && col("p_size").between(1, 15) &&
        !col("p_brand").isin("Brand#99"))
      .select(col("p_partkey")).orderBy(col("p_partkey"))
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(got.count() > 0)
  }

  test("join ... on with qualified refs") {
    val got = Tql.query(spark, dir,
      """SELECT o.o_orderkey, c.c_name FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_totalprice > 300000 ORDER BY o.o_orderkey LIMIT 10""".stripMargin)
    assert(got.columns.toSeq == Seq("o_orderkey", "c_name"))
    assert(got.count() == 10)
  }

  test("array index, negative index, slice with step") {
    val got = Tql.query(spark, dir,
      """SELECT vec_id, embedding[0] AS first, embedding[-1] AS last,
        |SUM(embedding[0:8]) AS head_sum, SUM(embedding[::2]) AS even_sum
        |FROM embeddings ORDER BY vec_id LIMIT 20""".stripMargin).collect()
    val want = tbl("embeddings")
      .select(col("vec_id"),
        element_at(col("embedding"), 1).as("first"),
        element_at(col("embedding"), -1).as("last"),
        gf.tsum(slice(col("embedding"), 1, 8)).as("head_sum"),
        gf.tsum(filter(col("embedding"), (_, i) => i % 2 === 0)).as("even_sum"))
      .orderBy(col("vec_id")).limit(20).collect()
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0))
      assert(math.abs(g.getFloat(1) - w.getFloat(1)) < 1e-6)
      assert(math.abs(g.getFloat(2) - w.getFloat(2)) < 1e-6)
      assert(math.abs(g.getDouble(3) - w.getDouble(3)) < 1e-9)
      assert(math.abs(g.getDouble(4) - w.getDouble(4)) < 1e-9)
    }
  }

  test("elementwise arithmetic on arrays: L2_NORM(a - b)") {
    val got = Tql.query(spark, dir,
      """SELECT e.vec_id, L2_NORM(e.embedding - q.embedding) AS dist
        |FROM embeddings e JOIN embeddings q ON q.vec_id = e.vec_id
        |ORDER BY e.vec_id LIMIT 5""".stripMargin).collect()
    got.foreach(r => assert(math.abs(r.getDouble(1)) < 1e-6)) // distance to itself = 0
  }

  test("vector search: ORDER BY COSINE_SIMILARITY DESC LIMIT k") {
    val q = Tql.query(spark, dir,
      """SELECT e.vec_id, COSINE_SIMILARITY(e.embedding, q.embedding) AS score
        |FROM embeddings e JOIN embeddings q ON q.vec_id = 0
        |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin).collect()
    assert(q.length == 5)
    assert(q.head.getLong(0) == 0L) // self-match first
    assert(math.abs(q.head.getDouble(1) - 1.0) < 1e-6)
  }

  test("GROUP BY reshapes to sequences; reductions act per group") {
    val got = Tql.query(spark, dir,
      """SELECT user_id, SUM(value) AS total, AVG(value) AS mean
        |FROM events GROUP BY user_id ORDER BY user_id LIMIT 10""".stripMargin)
    val want = tbl("events").groupBy(col("user_id"))
      .agg(sum(col("value")).as("total"), avg(col("value")).as("mean"))
      .orderBy(col("user_id")).limit(10)
    val g = got.collect()
    val w = want.collect()
    g.zip(w).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-6)
      assert(math.abs(a.getDouble(2) - b.getDouble(2)) < 1e-6)
    }
  }

  test("GROUP BY + UNGROUP BY round-trips rows") {
    val grouped = Tql.query(spark, dir,
      "SELECT user_id, value FROM events GROUP BY user_id")
    assert(grouped.schema("value").dataType.typeName == "array")
    val ungrouped = Tql.query(spark, dir,
      "SELECT user_id, value FROM events GROUP BY user_id UNGROUP BY value")
    assert(ungrouped.count() == tbl("events").count())
  }

  test("set ops with per-branch limits") {
    val got = Tql.query(spark, dir,
      """SELECT o_orderkey FROM orders WHERE o_totalprice > 100000 ORDER BY o_orderkey LIMIT 5
        |UNION SELECT o_orderkey FROM orders WHERE o_totalprice < 50000 ORDER BY o_orderkey LIMIT 5""".stripMargin)
    val hi = math.min(5, tbl("orders").filter(col("o_totalprice") > 100000).count())
    val lo = math.min(5, tbl("orders").filter(col("o_totalprice") < 50000).count())
    assert(got.count() == hi + lo)
  }

  test("SAMPLE BY MAX_WEIGHT pairs consumes LIMIT as sample size") {
    val got = Tql.query(spark, dir,
      """SELECT event_id, event_type FROM events
        |SAMPLE BY MAX_WEIGHT(event_type == 'purchase': 10.0, TRUE: 1.0) LIMIT 50""".stripMargin)
    assert(got.count() == 50)
    // purchases are upweighted 10x, so they should be over-represented
    val purchaseShare = got.filter(col("event_type") === "purchase").count() / 50.0
    val baseShare = tbl("events").filter(col("event_type") === "purchase").count().toDouble /
      tbl("events").count()
    assert(purchaseShare > baseShare)
  }

  test("LIMIT PERCENT and OFFSET") {
    val total = tbl("region").count()
    val got = Tql.query(spark, dir,
      "SELECT r_regionkey FROM region ORDER BY r_regionkey LIMIT 40 PERCENT")
    assert(got.count() == (total * 40 / 100.0).toInt)
    val off = Tql.query(spark, dir,
      "SELECT r_regionkey FROM region ORDER BY r_regionkey LIMIT 2 OFFSET 1").collect()
    assert(off.map(_.getAs[Number](0).longValue).toSeq == Seq(1L, 2L))
  }

  test("positional params bind as literals") {
    val got = Tql.query(spark, dir,
      "SELECT o_orderkey FROM orders WHERE o_totalprice > ? ORDER BY o_orderkey LIMIT ?",
      params = Seq(350000.0, 3L))
    assert(got.count() <= 3)
  }

  test("JSON key access and KEYS()") {
    val got = Tql.query(spark, dir,
      """SELECT event_id, props['k'] AS k, KEYS(props) AS ks
        |FROM events ORDER BY event_id LIMIT 5""".stripMargin).collect()
    assert(got.forall(r => r.getString(1).toLong >= 0))
    assert(got.forall(r => r.getSeq[String](2) == Seq("k")))
  }

  test("scalar functions: ANY/ALL over predicates, SHAPE, subquery FROM") {
    val got = Tql.query(spark, dir,
      """SELECT vec_id, ANY(embedding > 0.3) AS has_big, SHAPE(embedding) AS shp
        |FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10)
        |ORDER BY vec_id""".stripMargin).collect()
    assert(got.length == 10)
    assert(got.forall(_.getSeq[Int](2) == Seq(64)))
  }

  test("EXPAND BY tiles the tensor column into patches (matches operator)") {
    val got = Tql.query(spark, dir,
      """SELECT vec_id, patch_idx, SUM(patch) AS s FROM embeddings
        |WHERE vec_id < 5 EXPAND BY 4 4 AS patch ORDER BY vec_id, patch_idx""".stripMargin)
    val want = graft.operators.Grouping.expandBy(
        tbl("embeddings").filter(col("vec_id") < 5), "embedding",
        rows = 8, cols = 8, h = 4, w = 4, keep = Seq("vec_id"))
      .select(col("vec_id"), col("patch_idx"), gf.tsum(col("patch")).as("s"))
      .orderBy(col("vec_id"), col("patch_idx"))
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(got.count() == 5 * 4) // 2x2 patches per 8x8 tensor
    // OVERLAP halves the stride: 3 patch rows per axis on 8x8/4x4
    val ov = Tql.query(spark, dir,
      """SELECT vec_id, patch_idx FROM embeddings
        |WHERE vec_id < 2 EXPAND BY 4 4 OVERLAP AS patch ORDER BY vec_id, patch_idx""".stripMargin)
    assert(ov.count() == 2 * 9)
  }

  test("EXPAND BY on a true 2-d tensor reads dims from the nested shape") {
    val spark2 = spark
    import spark2.implicits._
    // one 2x6 tensor: rows [1..6] and [7..12]; EXPAND BY 2 3 -> two 2x3
    // patches, left half and right half
    val df = Seq((1L, Array(Array(1d, 2d, 3d, 4d, 5d, 6d),
      Array(7d, 8d, 9d, 10d, 11d, 12d)))).toDF("id", "t")
    val got = Tql.queryDataset(df,
      "SELECT id, patch_idx, SUM(patch) AS s EXPAND BY 2 3 AS patch ORDER BY patch_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // left half 1+2+3+7+8+9, right half 4+5+6+10+11+12
    assert(got.toSeq == Seq((1L, 0, 30.0), (1L, 1, 48.0)))
  }

  test("UNGROUP BY ... SPLIT n and SPLIT [lengths]") {
    val byN = Tql.query(spark, dir,
      """SELECT vec_id, pos, SUM(embedding) AS s FROM embeddings
        |WHERE vec_id < 4 UNGROUP BY embedding SPLIT 4 ORDER BY vec_id, pos""".stripMargin)
    assert(byN.count() == 16)
    val whole = Tql.query(spark, dir,
      "SELECT vec_id, SUM(embedding) AS s FROM embeddings WHERE vec_id < 4 ORDER BY vec_id")
      .collect().map(r => (r.getAs[Number](0).intValue, r.getDouble(1))).toMap
    // chunk sums reassemble to the whole-row sum
    byN.groupBy(col("vec_id")).agg(sum(col("s")).as("t")).collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - whole(r.getAs[Number](0).intValue)) < 1e-6)
    }
    val byLen = Tql.query(spark, dir,
      """SELECT vec_id, pos, SHAPE(embedding)[0] AS len FROM embeddings
        |WHERE vec_id < 3 UNGROUP BY embedding SPLIT [8, 24, 32] ORDER BY vec_id, pos""".stripMargin)
    val lens = byLen.collect().map(r =>
      (r.getAs[Number](1).intValue, r.getAs[Number](2).intValue))
    assert(lens.toSeq.distinct.sorted == Seq((0, 8), (1, 24), (2, 32)))
  }

  test("DATA(col, i) binds the row-i value as a constant") {
    val got = Tql.query(spark, dir,
      """SELECT vec_id, L2_NORM(embedding - DATA(embedding, 3)) AS d
        |FROM embeddings WHERE vec_id < 10 ORDER BY vec_id""".stripMargin).collect()
    // the row the constant came from is at distance zero to itself
    assert(math.abs(got(3).getDouble(1)) < 1e-5)
    assert(got.count(r => math.abs(r.getDouble(1)) > 0.1) >= 8)
  }

  test("ROW_NUMBER is stamped pre-WHERE by a distributed (partitioned-window) plan") {
    val got = Tql.query(spark, dir,
      "SELECT event_id, ROW_NUMBER() AS rn FROM events WHERE ROW_NUMBER() < 7 ORDER BY rn")
    val rows = got.collect()
    // pre-filter semantics: offsets 0..6 of the dataset, in dataset order
    assert(rows.map(_.getLong(1)).toSeq == (0L until 7L))
    // and they correspond to the first 7 rows of the raw scan
    val firstIds = tbl("events").select(col("event_id")).limit(7)
      .collect().map(_.getLong(0)).toSeq
    assert(rows.map(_.getLong(0)).toSeq == firstIds)
    // the data-bearing row_number window must be partitioned (zipWithIndex
    // plan); only the tiny per-partition-count window may be global
    val plan = got.queryExecution.executedPlan.toString
    val rnWindowLines = plan.linesIterator.filter(l =>
      l.contains("row_number()") && l.contains("Window")).toSeq
    assert(rnWindowLines.nonEmpty, plan)
    rnWindowLines.foreach(l => assert(l.contains("_pid"), l))
  }

  test("LIMIT PERCENT compiles lazily (no eager count job)") {
    // the old bug was ONE EXTRA full count() job for PERCENT, so compare
    // against a plain-LIMIT compile of the same query; on a warm table
    // (its schema cached by sources.Tables) both compiles run no job
    tbl("orders")
    val plain = JobCount(spark) {
      Tql.query(spark, dir, "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10")
    }
    var df: org.apache.spark.sql.DataFrame = null
    val pct = JobCount(spark) {
      df = Tql.query(spark, dir,
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10 PERCENT")
    }
    assert(pct == plain, s"LIMIT PERCENT compile launched ${pct - plain} extra job(s)")
    assert(plain == 0, s"a warm plain-LIMIT compile launched $plain job(s)")
    // and the result still honors floor(total * pct / 100)
    val total = tbl("orders").count()
    assert(df.count() == (total * 10 / 100.0).toInt)
  }

  test("GROUP BY ACROSS SPACE concatenates; ACROSS TIME (default) stacks") {
    val time = Tql.query(spark, dir,
      "SELECT label, SHAPE(embedding) AS shp FROM embeddings GROUP BY label ACROSS TIME ORDER BY label")
    // sequence of 64-d rows: outer SHAPE = group size
    val space = Tql.query(spark, dir,
      "SELECT label, SHAPE(embedding) AS shp FROM embeddings GROUP BY label ACROSS SPACE ORDER BY label")
    val t = time.collect().map(r => r.getAs[Number](0).intValue -> r.getSeq[Int](1).head).toMap
    val sp = space.collect().map(r => r.getAs[Number](0).intValue -> r.getSeq[Int](1).head).toMap
    // spatial concat length = 64 * sequence length, for every label
    assert(t.nonEmpty && t.forall { case (l, n) => sp(l) == 64 * n })
  }

  test("FROM \"url\" resolves a path/URL dataset (executor.hpp:82 get_data_source)") {
    val got = Tql.query(spark, dir,
      s"""SELECT r_regionkey, r_name FROM "file://$dir/region.parquet"
         |ORDER BY r_regionkey""".stripMargin)
    val want = tbl("region").select(col("r_regionkey"), col("r_name"))
      .orderBy(col("r_regionkey"))
    assert(got.collect().toSeq == want.collect().toSeq)
    // bare absolute path works too
    val p = Tql.query(spark, dir,
      s"SELECT r_regionkey FROM '$dir/region.parquet'")
    assert(p.count() == want.count())
  }

  test("cross-source join: two dataset URLs in one query (tql.md:232-246)") {
    val d2 = "/root/testdata/sf0.01"
    val got = Tql.query(spark, dir,
      s"""SELECT a.r_regionkey, a.r_name, b.n_name
         |FROM "file://$dir/region.parquet" AS a
         |JOIN "file://$d2/nation.parquet" AS b ON a.r_regionkey == b.n_regionkey
         |ORDER BY a.r_regionkey, b.n_name""".stripMargin)
    val want = tbl("region").as("a")
      .join(graft.sources.Tables(spark, d2, "nation").as("b"),
        col("a.r_regionkey") === col("b.n_regionkey"))
      .select(col("a.r_regionkey"), col("a.r_name"), col("b.n_name"))
      .orderBy(col("a.r_regionkey"), col("b.n_name"))
    assert(got.collect().toSeq == want.collect().toSeq && got.count() == 25)
  }

  test("parenthesized set-op branches parse (tql.md:350-366 documented form)") {
    val got = Tql.query(spark, dir,
      """(SELECT n_name FROM nation WHERE n_regionkey == 0 ORDER BY n_name LIMIT 3)
        |UNION
        |(SELECT n_name FROM nation WHERE n_regionkey == 1 ORDER BY n_name LIMIT 2)""".stripMargin)
    assert(got.count() == 5)
  }

  test("SAMPLE BY constant fraction without LIMIT is a seeded Bernoulli sample (tql.md:641)") {
    val a = Tql.query(spark, "/root/testdata/sf0.01",
      "SELECT doc_id FROM documents SAMPLE BY 0.2").collect().map(_.getLong(0)).toSeq
    // plausibly-sized subset, deterministic across runs
    assert(a.length > 20 && a.length < 500 * 2 / 5)
    val b = Tql.query(spark, "/root/testdata/sf0.01",
      "SELECT doc_id FROM documents SAMPLE BY 0.2").collect().map(_.getLong(0)).toSeq
    assert(a == b)
    // weight-expression form still requires LIMIT
    intercept[IllegalArgumentException] {
      Tql.query(spark, dir, "SELECT n_name FROM nation SAMPLE BY n_nationkey").collect()
    }
  }

  test("GROUP BY with no sequence columns yields the distinct keys") {
    val got = Tql.query(spark, dir,
      "SELECT lang FROM documents GROUP BY lang ORDER BY lang")
      .collect().map(_.getString(0)).toSeq
    val want = tbl("documents").select("lang").distinct()
      .orderBy("lang").collect().map(_.getString(0)).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("concurrent queries: parallel TQL execution matches sequential (rag.md §4 query_async)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val texts = (0 until 8).map(i =>
      s"SELECT n_regionkey, n_name FROM nation WHERE n_nationkey > $i " +
        "ORDER BY n_name LIMIT 7")
    val sequential = texts.map(t =>
      Tql.query(spark, dir, t).collect().map(_.toSeq).toSeq)
    val parallel = Await.result(
      Future.sequence(texts.map(t => Future {
        Tql.query(spark, dir, t).collect().map(_.toSeq).toSeq
      })), 120.seconds)
    assert(parallel == sequential)
  }

  test("implicit FROM: ds.query form queries the dataset itself (tql.md:14-30)") {
    val docs = tbl("documents")
    val got = Tql.queryDataset(docs,
      "SELECT doc_id, n_chars WHERE n_chars > 500 ORDER BY doc_id LIMIT 7")
    val want = docs.select(col("doc_id"), col("n_chars"))
      .filter(col("n_chars") > 500).orderBy(col("doc_id")).limit(7)
    assert(got.collect().toSeq == want.collect().toSeq)
    // subqueries keep the implicit source (tql.md:266-276)
    val sub = Tql.queryDataset(docs,
      "SELECT doc_id FROM (SELECT * WHERE n_chars > 500) WHERE lang = 'en' ORDER BY doc_id")
    val wantSub = docs.filter(col("n_chars") > 500 && col("lang") === "en")
      .select(col("doc_id")).orderBy(col("doc_id"))
    assert(sub.collect().toSeq == wantSub.collect().toSeq)
    // a FROM-less query without a dataset context is a clear error
    val e = intercept[IllegalArgumentException](
      Tql.query(spark, dir, "SELECT doc_id WHERE n_chars > 500").collect())
    assert(e.getMessage.contains("queryDataset"))
  }

  test("open() handle: FROM-less queries keep identity — ANN/BM25 routes + dataset functions fire (pyi:700)") {
    import graft.operators.{AnnIndex, Bm25}
    val ds = Tql.open(spark, dir, "embeddings")
    val emb = ds.df
    val idx = AnnIndex.build(emb, "vec_id", "embedding", 8)
    AnnIndex.Catalog.register("embeddings", "embedding", "vec_id", idx)
    Tql.DatasetFunctions.clear()
    try {
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .collect()(0).getSeq[Float](0).map(_.toDouble)
      val arr = qv.mkString("ARRAY[", ", ", "]")
      // no FROM — the handle supplies both the frame and the route key
      val routed = ds.query(
        s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, $arr), 6) AS score
           |ORDER BY score DESC LIMIT 5""".stripMargin)
      assertRoutedTo(routed, "vec_id")
      val spark2 = spark
      import spark2.implicits._
      val direct = AnnIndex.search(idx,
          Seq((0, qv)).toDF("qid", "q_vec"), "qid", "q_vec", 5)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(routed.collect().map(_.getLong(0)).toSet === direct)
      // the raw-frame form (no identity) still takes the exact path
      val anon = Tql.queryDataset(emb,
        s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, $arr), 6) AS score
           |ORDER BY score DESC LIMIT 5""".stripMargin)
      assert(inIds(anon, "vec_id").isEmpty)
      // dataset-scoped functions resolve through the handle's dir
      Tql.DatasetFunctions.register(dir, "VEC_HEAD", args => args(0).getItem(0))
      val fn = ds.query("SELECT vec_id, VEC_HEAD(embedding) AS h ORDER BY vec_id LIMIT 3")
      assert(fn.collect().length === 3)
      // BM25 route fires FROM-less off a documents handle
      val docsDs = Tql.open(spark, dir, "documents")
      val bmIdx = Bm25.buildIndex(docsDs.df, "doc_id", "text")
      Bm25.Catalog.register("documents", "text", "doc_id", bmIdx)
      val bm = docsDs.query(
        """SELECT doc_id, ROUND(BM25_SIMILARITY(text, 'spark join'), 4) AS s
          |ORDER BY s DESC, doc_id LIMIT 5""".stripMargin)
      val bmDirect = Bm25.scoreWithIndex(bmIdx, Seq("spark", "join"))
        .orderBy(col("score").desc, col("doc_id")).limit(5)
        .collect().map(_.getLong(0)).toSeq
      assert(bm.collect().map(_.getLong(0)).toSeq === bmDirect)
      // sibling tables in the same dir stay addressable by name
      assert(ds.query("SELECT doc_id FROM documents LIMIT 3").count() === 3)
    } finally {
      AnnIndex.Catalog.clear(); Bm25.Catalog.clear(); Tql.DatasetFunctions.clear()
    }
  }

  test("dataset-provided functions resolve at query time, only for their dataset (functions_registry.hpp:15-33)") {
    Tql.DatasetFunctions.clear()
    try {
      Tql.DatasetFunctions.register(dir, "GROSS_VALUE",
        args => round(args(0) * args(1), 2))
      val got = Tql.query(spark, dir,
        """SELECT l_orderkey, GROSS_VALUE(l_quantity, l_extendedprice) AS g
          |FROM lineitem WHERE l_orderkey < 10 ORDER BY l_orderkey, g""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = tbl("lineitem").filter(col("l_orderkey") < 10)
        .select(col("l_orderkey"),
          round(col("l_quantity") * col("l_extendedprice"), 2).as("g"))
        .orderBy(col("l_orderkey"), col("g"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === want && got.nonEmpty)
      // the SAME text against a dataset that does NOT provide the
      // function fails to resolve
      val e = intercept[Exception] {
        Tql.query(spark, "/root/testdata/sf0.01",
          "SELECT GROSS_VALUE(l_quantity, l_extendedprice) AS g FROM lineitem")
          .collect()
      }
      assert(e.getMessage.toLowerCase.contains("gross_value"), e.getMessage)
    } finally Tql.DatasetFunctions.clear()
  }

  test("global TQL functions resolve everywhere; dataset functions shadow them") {
    Tql.DatasetFunctions.clear()
    try {
      // global: QUALITY_SCORE available with no registration at all
      val g = Tql.query(spark, dir,
        "SELECT doc_id, QUALITY_SCORE(text) AS q FROM documents WHERE doc_id < 5 ORDER BY doc_id")
        .collect()
      assert(g.length === 5 && g.forall(r => r.getDouble(1) >= 0 && r.getDouble(1) <= 1))
      // a dataset-scoped function of the same name wins for its dataset
      Tql.DatasetFunctions.register(dir, "QUALITY_SCORE", _ => lit(-1.0))
      val shadowed = Tql.query(spark, dir,
        "SELECT QUALITY_SCORE(text) AS q FROM documents WHERE doc_id < 5")
        .collect().map(_.getDouble(0))
      assert(shadowed.forall(_ == -1.0), shadowed.mkString(","))
      // other datasets still see the global
      val other = Tql.query(spark, "/root/testdata/sf0.01",
        "SELECT QUALITY_SCORE(text) AS q FROM documents WHERE doc_id < 5")
        .collect().map(_.getDouble(0))
      assert(other.forall(q => q >= 0 && q <= 1))
      // PII_REDACT is TQL-callable: scrub inline-built PII
      val red = Tql.query(spark, dir,
        """SELECT PII_REDACT(CONCAT(text, ' mail bob@x.io from 10.1.2.3')) AS t
          |FROM documents WHERE doc_id < 3""".stripMargin)
        .collect().map(_.getString(0))
      assert(red.forall(t => t.contains("<EMAIL>") && t.contains("<IP>")
        && !t.contains("bob@x.io")), red.mkString("\n"))
    } finally Tql.DatasetFunctions.clear()
  }

  test("FROM url opens a custom FS scheme with per-query credentials (executor.hpp:82)") {
    val url = "graftfs:///root/testdata/sf0.001/documents.parquet"
    val creds = Map(
      "fs.graftfs.impl" -> classOf[CredentialedLocalFs].getName,
      "fs.graftfs.impl.disable.cache" -> "true",
      "graftfs.secret" -> "letmein")
    val sql = s"""SELECT doc_id FROM "$url" ORDER BY doc_id"""
    val df = Tql.queryWithOptions(spark, dir, sql,
      Tql.Options(storageOptions = creds)).get
    val direct = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(df.count() === direct)
    // without the credential the same query can't open the scheme
    intercept[Exception] {
      Tql.queryWithOptions(spark, dir, sql,
        Tql.Options(storageOptions = creds - "graftfs.secret")).get.count()
    }
    // and the cluster-wide conf was never mutated
    assert(spark.sparkContext.hadoopConfiguration.get("fs.graftfs.impl") == null)
    assert(spark.sparkContext.hadoopConfiguration.get("graftfs.secret") == null)
  }

  test("cross-cloud join carries per-ALIAS credentials (tql.hpp:52-70, table.hpp:31)") {
    // two "clouds" = two schemes whose FS impls demand CONFLICTING values
    // for the SAME conf key (graftfs.secret): letmein vs opensesame. A
    // single query-wide storageOptions map cannot satisfy both sides of
    // the join; storageOptionsByAlias clones each alias its own scan conf.
    val urlA = "graftfs:///root/testdata/sf0.001/orders.parquet"
    val urlB = "graftfsb:///root/testdata/sf0.001/customer.parquet"
    val shared = Map(
      "fs.graftfs.impl" -> classOf[CredentialedLocalFs].getName,
      "fs.graftfsb.impl" -> classOf[CredentialedLocalFsB].getName,
      "fs.graftfs.impl.disable.cache" -> "true",
      "fs.graftfsb.impl.disable.cache" -> "true")
    val sql =
      s"""SELECT o_orderkey, c_name
         |FROM "$urlA" AS o JOIN "$urlB" AS c ON o.o_custkey == c.c_custkey
         |WHERE o_totalprice > 300000 ORDER BY o_orderkey LIMIT 20""".stripMargin
    val byAlias = Map(
      "o" -> Map("graftfs.secret" -> "letmein"),
      "c" -> Map("graftfs.secret" -> "opensesame"))
    val got = Tql.queryWithOptions(spark, dir, sql,
      Tql.Options(storageOptions = shared, storageOptionsByAlias = byAlias)).get
    val want = tbl("orders").join(tbl("customer"),
        col("o_custkey") === col("c_custkey"))
      .filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey"), col("c_name"))
      .orderBy("o_orderkey").limit(20)
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      want.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    assert(got.count() > 0)
    // swapped alias maps -> each side sees the OTHER cloud's credential
    intercept[Exception] {
      Tql.queryWithOptions(spark, dir, sql, Tql.Options(
        storageOptions = shared,
        storageOptionsByAlias = Map(
          "o" -> Map("graftfs.secret" -> "opensesame"),
          "c" -> Map("graftfs.secret" -> "letmein")))).get.count()
    }
    // one query-wide map is structurally unable to hold both values
    intercept[Exception] {
      Tql.queryWithOptions(spark, dir, sql, Tql.Options(
        storageOptions = shared + ("graftfs.secret" -> "letmein"))).get.count()
    }
    // per-alias overrides the query-wide value for that alias only
    val overridden = Tql.queryWithOptions(spark, dir, sql, Tql.Options(
      storageOptions = shared + ("graftfs.secret" -> "letmein"),
      storageOptionsByAlias = Map("c" -> Map("graftfs.secret" -> "opensesame")))).get
    assert(overridden.count() === want.count())
  }

  test("CREATE/DROP INDEX statements on a named table register and unregister routes (__init__.pyi:1678,1762)") {
    import graft.operators.Bm25
    import graft.plans.IndexCatalog
    Bm25.Catalog.clear()
    val r = Tql.query(spark, dir,
      "CREATE INDEX ON documents (text) TYPE bm25 ID doc_id").collect()(0)
    assert(r.getString(0) === "documents" && r.getString(2) === "bm25")
    assert(Bm25.Catalog.lookup("documents", "text").isDefined)
    // the routed TQL query serves from the DDL-created index
    val routed = Tql.query(spark, dir,
      """SELECT doc_id, ROUND(BM25_SIMILARITY(text, 'spark join'), 6) AS s
        |FROM documents ORDER BY s DESC, doc_id LIMIT 5""".stripMargin).collect()
    assert(routed.length === 5)
    Tql.query(spark, dir, "DROP INDEX ON documents (text) TYPE bm25").collect()
    assert(Bm25.Catalog.lookup("documents", "text").isEmpty)

    // inverted form keys the plan-level catalog by the table's parquet root
    Tql.query(spark, dir,
      "CREATE INDEX ON documents (text) TYPE inverted ID doc_id").collect()
    assert(IndexCatalog.lookup(s"$dir/documents.parquet", "text").isDefined)
    Tql.query(spark, dir, "DROP INDEX ON documents (text) TYPE inverted").collect()
    assert(IndexCatalog.lookup(s"$dir/documents.parquet", "text").isEmpty)
  }

  test("BM25_SIMILARITY routes through a registered index, composes with WHERE (index_search.cpp:135-169)") {
    import graft.operators.Bm25
    val docs = tbl("documents")
    val idx = Bm25.buildIndex(docs, "doc_id", "text")
    Bm25.Catalog.register("documents", "text", "doc_id", idx)
    try {
      val routed = Tql.query(spark, dir,
        """SELECT doc_id, ROUND(BM25_SIMILARITY(text, 'spark join'), 6) AS s
          |FROM documents ORDER BY s DESC, doc_id LIMIT 10""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val direct = Bm25.scoreWithIndex(idx, Seq("spark", "join"))
        .select(col("doc_id"), round(col("score"), 6).as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(routed === direct && routed.nonEmpty)

      // WHERE composes as a pre-filter on the scored ids
      val filtered = Tql.query(spark, dir,
        """SELECT doc_id, ROUND(BM25_SIMILARITY(text, 'spark join'), 6) AS s
          |FROM documents WHERE n_chars > 300 ORDER BY s DESC, doc_id LIMIT 10""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val directF = Bm25.scoreWithIndex(idx, Seq("spark", "join"),
          idFilter = Some(docs.filter(col("n_chars") > 300).select(col("doc_id"))))
        .select(col("doc_id"), round(col("score"), 6).as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(filtered === directF && filtered.nonEmpty)

      // without a registered index the function fails with a clear error
      Bm25.Catalog.clear()
      val e = intercept[IllegalArgumentException] {
        Tql.query(spark, dir,
          "SELECT doc_id, BM25_SIMILARITY(text, 'spark') AS s FROM documents ORDER BY s DESC LIMIT 5")
      }
      assert(e.getMessage.contains("BM25_SIMILARITY"))
    } finally Bm25.Catalog.clear()
  }

  /** `rows` (doc_id, n, text) as a parquet table; returns its path */
  private def docTable(rows: Seq[(Long, Int, String)]): String = {
    val spark2 = spark
    import spark2.implicits._
    val path = java.nio.file.Files.createTempDirectory("bm25_route").toString + "/t"
    rows.toDF("doc_id", "n", "text").write.parquet(path)
    path
  }

  /** a BM25 index saved and loaded like a table-owned one */
  private def savedBm25(docs: org.apache.spark.sql.DataFrame): graft.operators.Bm25.Index = {
    import graft.operators.Bm25
    val dir = java.nio.file.Files.createTempDirectory("bm25_index").toString
    Bm25.save(spark, docs, "doc_id", "text", dir)
    Bm25.load(spark, dir)
  }

  /** the routed top-k answer == scoreWithIndex's scores under the same
    * rounding, ORDER BY and LIMIT; `routed = false` expects the answer
    * through the scored-set join */
  private def assertBm25Route(path: String, idx: graft.operators.Bm25.Index, query: String,
      scale: Int, where: Option[String], k: Int, routed: Boolean = true): Seq[(Any, Double)] = {
    import graft.operators.Bm25
    val df = Tql.query(spark, dir,
      s"""SELECT doc_id, ROUND(BM25_SIMILARITY(text, '$query'), $scale) AS s FROM "$path"
         |${where.fold("")("WHERE " + _)} ORDER BY s DESC, doc_id LIMIT $k""".stripMargin)
    val got = df.collect().map(r => (r.get(0), r.getDouble(1))).toSeq
    // routed: no scored-set join, and the candidates hold the answer
    // plus the k-th's ties it left out
    val plan = df.queryExecution.optimizedPlan
    val joins = plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.isEmpty === routed, plan.toString)
    if (!routed) assert(inIds(df, "doc_id").isEmpty, plan.toString)
    else if (got.nonEmpty) assert(inIds(df, "doc_id") match {
      case Seq(cand) => got.map(g => catalyst(g._1)).toSet.subsetOf(cand)
      case _ => false
    }, plan.toString)
    val want = Bm25.scoreWithIndex(idx, query.split(" ").toSeq,
        idFilter = where.map(w => spark.read.parquet(path).filter(expr(w)).select(col("doc_id"))))
      .select(col("doc_id"), round(col("score"), scale).as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(k)
      .collect().map(r => (r.get(0), r.getDouble(1))).toSeq
    assert(got === want, s"'$query' ROUND $scale ${where.getOrElse("")} LIMIT $k")
    got
  }

  test("BM25 top-k route: the k best plus the k-th's ties at the statement's rounding, bound back as literals") {
    import graft.operators.Bm25
    // every doc holds the query term q once, so its idf is small; doc i
    // of the tied run adds 20000+i filler tokens, and its raw score
    // falls with i about 3e-7 apart: adjacent docs tie at 6 dp in runs
    // and at 4 dp in long runs. Ids rise with the raw score, so the
    // statement's doc_id tiebreak disagrees with the raw order.
    val n = 30
    val tied = (0 until n).map(i => ((n - i).toLong, i % 3, ("q " + "z " * (20000 + i)).trim))
    val other = Seq((100L, 0, "q w z"), (101L, 1, "q w w z"), (102L, 2, "q v"))
    val path = docTable(tied ++ other)
    val idx = savedBm25(spark.read.parquet(path))
    Bm25.Catalog.register(path, "text", "doc_id", idx)
    try {
      val raw = Bm25.scoreWithIndex(idx, Seq("q")).collect()
        .map(_.getDouble(1)).sorted(Ordering.Double.TotalOrdering.reverse).toSeq
      // a k whose k-th raw score differs from the next one's, but not
      // once both are rounded to `scale` decimals
      def straddle(scale: Int): Int = (1 until raw.length).find { k =>
        def r(x: Double) = BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
        raw(k - 1) != raw(k) && r(raw(k - 1)) == r(raw(k))
      }.get
      val k6 = straddle(6)
      assertBm25Route(path, idx, "q", 6, None, k6)
      assertBm25Route(path, idx, "q", 4, None, straddle(4))
      assertBm25Route(path, idx, "q", 4, Some("n == 1"), 5)
      assertBm25Route(path, idx, "q w", 6, Some("n < 2"), k6)
      // a term missing from the vocabulary drops out of the score
      assert(assertBm25Route(path, idx, "q nosuchterm", 6, None, 5).length === 5)
      // zero matching docs: no term in the vocabulary, or none past the WHERE
      assert(assertBm25Route(path, idx, "nosuchterm", 6, None, 5).isEmpty)
      assert(assertBm25Route(path, idx, "w", 6, Some("n == 2"), 5).isEmpty)
      // LIMIT past the number of matches returns every match
      assert(assertBm25Route(path, idx, "q w", 6, None, 100).length === n + 3)

      // without a LIMIT the statement answers through the scored-set join
      val joined = Tql.query(spark, dir,
        s"""SELECT doc_id, ROUND(BM25_SIMILARITY(text, 'w'), 6) AS s FROM "$path"
           |ORDER BY s DESC, doc_id""".stripMargin)
      assert(inIds(joined, "doc_id").isEmpty)
      assert(joined.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.nonEmpty)
      assert(joined.collect().map(_.getLong(0)).toSeq === Seq(101L, 100L))
    } finally Bm25.Catalog.clear()
  }

  test("BM25 top-k route answers through the join when its candidates would pass MaxCandidates: ROUND(.., 0), a large LIMIT") {
    import graft.operators.Bm25
    // every doc holds q once and its idf is near 0, so every score
    // rounds to 0 at 0 dp; at 6 dp only equal lengths tie. Unfiltered,
    // each of the candidate pass's reduce partitions ties more docs
    // than it keeps.
    val n = 5 * Bm25.MaxCandidates
    val path = docTable((0 until n).map(i => (i.toLong, i % 3, ("q " + "z " * (i % 50)).trim)))
    val idx = savedBm25(spark.read.parquet(path))
    Bm25.Catalog.register(path, "text", "doc_id", idx)
    try {
      assert(assertBm25Route(path, idx, "q", 0, None, 5, routed = false).length === 5)
      assert(assertBm25Route(path, idx, "q", 0, Some("n < 2"), 5, routed = false).length === 5)
      assertBm25Route(path, idx, "q", 6, None, 5)
      assert(assertBm25Route(path, idx, "q", 6, None, Bm25.MaxCandidates + 1,
        routed = false).length === Bm25.MaxCandidates + 1)
    } finally Bm25.Catalog.clear()
  }

  test("routes bind the candidates of a STRING or DATE id column as Catalyst values: ANN unfiltered and filtered, BM25") {
    import graft.operators.{AnnIndex, Bm25}
    val spark2 = spark
    import spark2.implicits._
    // the table of the ANN route-equivalence tests, with String ids
    val rnd = new scala.util.Random(11)
    val angles = Seq(0, 20, 40, 60, 80, 100, 180, 200)
    var next = -1L
    val rows = angles.zipWithIndex.flatMap { case (a, g) =>
      Seq.fill(if (a >= 180) 60 else 10) { next += 1; (f"v$next%03d", g, at(a, rnd, 0.01)) }
    }
    val vpath = java.nio.file.Files.createTempDirectory("ann_route").toString + "/t"
    rows.toDF("vec_id", "grp", "embedding").write.parquet(vpath)
    val aidx = AnnIndex.build(spark.read.parquet(vpath), "vec_id", "embedding", 8)
    val config = AnnIndex.SearchConfig(clusterSearchFactor = 0.3)
    AnnIndex.Catalog.register(vpath, "embedding", "vec_id", aidx, config)
    try {
      val q = at(5, rnd, 0.0).map(_.toDouble)
      // unfiltered; a filter that widens twice
      for (where <- Seq(None, Some("grp == 7 OR vec_id == 'v000'"))) {
        val routed = Tql.query(spark, dir, annTql(vpath, "cosine", q, where.fold("")("WHERE " + _), 5))
        val got = routed.collect().map(_.getString(0)).toSeq
        assertRoutedTo(routed, "vec_id")
        val want = AnnIndex.search(aidx, Seq((0, q)).toDF("qid", "q_vec"), "qid", "q_vec", 5,
            config, idFilter = where.map(w => spark.read.parquet(vpath).filter(expr(w))
              .select(col("vec_id"))))
          .orderBy(col("rank")).select(col("id")).collect().map(_.getString(0)).toSeq
        assert(got === want && got.length === 5, where.getOrElse("unfiltered"))
      }
    } finally AnnIndex.Catalog.clear()

    val docs = Seq((1, 0, "q a"), (2, 1, "q b b"), (3, 2, "q a c"), (4, 0, "a b"), (5, 1, "q"))
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    val byString = docs.map { case (i, n, t) => (s"d$i", n, t) }.toDF("doc_id", "n", "text")
    val byDate = docs.map { case (i, n, t) => (java.sql.Date.valueOf(day0.plusDays(i)), n, t) }
      .toDF("doc_id", "n", "text")
    for (frame <- Seq(byString, byDate)) {
      val path = java.nio.file.Files.createTempDirectory("bm25_route").toString + "/t"
      frame.write.parquet(path)
      val idx = savedBm25(spark.read.parquet(path))
      Bm25.Catalog.register(path, "text", "doc_id", idx)
      try {
        assert(assertBm25Route(path, idx, "q a", 6, None, 3).length === 3)
        assert(assertBm25Route(path, idx, "q a", 6, Some("n < 2"), 3).length === 3)
      } finally Bm25.Catalog.clear()
    }
  }

  test("a routed BM25 request runs 3 jobs on a warm table (df, candidates, answer)") {
    import graft.operators.Bm25
    Bm25.Catalog.register("documents", "text", "doc_id", savedBm25(tbl("documents")))
    try {
      val sql = """SELECT doc_id, ROUND(BM25_SIMILARITY(text, 'spark join'), 6) AS s
                  |FROM documents ORDER BY s DESC, doc_id LIMIT 10""".stripMargin
      def jobs(): Int = JobCount(spark)(Tql.query(spark, dir, sql).collect())
      jobs() // warm-up: table schema, n_docs and avgdl
      assert(jobs() === 3)
    } finally Bm25.Catalog.clear()
  }

  test("vector ? params bind as array literals in projections (expr.hpp:107-126)") {
    val emb = tbl("embeddings")
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0)
    val viaParam = Tql.query(spark, dir,
      "SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, ?), 6) AS score " +
        "FROM embeddings WHERE vec_id < 10 ORDER BY vec_id",
      params = Seq(qv))
    val direct = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        round(graft.functions.gf.cosine_similarity(col("embedding"),
          array(qv.map(x => lit(x)): _*)), 6).as("score"))
      .orderBy("vec_id")
    assert(viaParam.collect().map(_.toSeq).toSeq === direct.collect().map(_.toSeq).toSeq)
  }

  test("ANN route composes with a WHERE pre-filter (index_holder.hpp:33)") {
    import graft.operators.AnnIndex
    val emb = tbl("embeddings")
    val idx = AnnIndex.build(emb, "vec_id", "embedding", 8)
    AnnIndex.Catalog.register("embeddings", "embedding", "vec_id", idx)
    try {
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .collect()(0).getSeq[Float](0).map(_.toDouble)
      val arr = qv.mkString("ARRAY[", ", ", "]")
      val sql = s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, $arr), 6) AS score
                   |FROM embeddings WHERE vec_id % 5 == 0
                   |ORDER BY score DESC LIMIT 5""".stripMargin
      val routed = Tql.query(spark, dir, sql)
      // the route fired even with WHERE present: candidate ids in plan
      assertRoutedTo(routed, "vec_id")
      val rows = routed.collect()
      assert(rows.length === 5)
      // every result satisfies the predicate (filter gated the probe AND
      // still applies downstream)
      assert(rows.forall(_.getLong(0) % 5 === 0), rows.mkString(","))
      // identical to the direct filtered index search
      val spark2 = spark
      import spark2.implicits._
      val direct = AnnIndex.search(idx,
          Seq((0, qv)).toDF("qid", "q_vec"), "qid", "q_vec", 5,
          idFilter = Some(emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"))))
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(rows.map(_.getLong(0)).toSet === direct)
    } finally AnnIndex.Catalog.clear()
  }

  test("MATCH_KEYWORDS is TQL-reachable with a constant phrase array; non-constant lists reject") {
    val got = Tql.query(spark, dir,
      """SELECT doc_id, MATCH_KEYWORDS(text, ARRAY['slow', 'big order']) AS hits
        |FROM documents ORDER BY doc_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val direct = tbl("documents")
      .select(col("doc_id"),
        graft.functions.gf.match_keywords(col("text"),
          Seq("slow", "big order")).as("hits"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got === direct)
    assert(got.values.exists(_.nonEmpty), "fixture phrases must actually hit")
    // a non-literal phrase list cannot build the plan-time automaton
    val e = intercept[IllegalArgumentException] {
      Tql.query(spark, dir,
        "SELECT MATCH_KEYWORDS(text, text) AS hits FROM documents")
    }
    assert(e.getMessage.contains("constant phrase array"), e.getMessage)
  }

  test("MAXSIM routes through a pooled-vector index: semi-join plan, recall >= 0.8 vs exact") {
    import graft.operators.AnnIndex
    import graft.functions.gf
    val spark2 = spark
    import spark2.implicits._
    // clustered multi-vector corpus (the real shape of page/patch
    // embeddings — a pooled prefilter is meaningless on white noise):
    // 32 unit centers, each page = 4 noisy copies of its center
    val rnd = new scala.util.Random(7)
    val dim = 16
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(32)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val pages = (0 until 2000).map { p =>
      val c = centers(p % 32)
      val bag = Seq.fill(4)(c.map(x => (x + 0.25 * rnd.nextGaussian()).toFloat).toSeq)
      (p.toLong, bag)
    }
    val tmp = java.nio.file.Files.createTempDirectory("maxsim_route").toString
    pages.toDF("page_id", "bag")
      .withColumn("pooled", gf.mean_pool_rows(col("bag")))
      .write.mode("overwrite").parquet(s"$tmp/bags")
    val bags = spark.read.parquet(s"$tmp/bags")
    val idx = AnnIndex.build(bags, "page_id", "pooled", nClusters = 16)
    AnnIndex.Catalog.register(s"$tmp/bags", "bag", "page_id", idx)
    try {
      // 3-vector query bag near center 5
      val qbag = Seq.fill(3)(centers(5).map(x =>
        x + 0.25 * rnd.nextGaussian()).toSeq)
      val exact = bags
        .select(col("page_id"), gf.maxsim(col("bag"), typedlit(qbag)).as("s"))
        .orderBy(col("s").desc, col("page_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val arr = qbag.map(_.mkString("ARRAY[", ", ", "]"))
        .mkString("ARRAY[", ", ", "]")
      val routed = Tql.query(spark, dir,
        s"""SELECT page_id, ROUND(MAXSIM(bag, $arr), 6) AS score
           |FROM "$tmp/bags" ORDER BY score DESC, page_id LIMIT 10""".stripMargin)
      assert(routed.queryExecution.executedPlan.toString.contains("LeftSemi"),
        routed.queryExecution.executedPlan.toString)
      val got = routed.collect().map(_.getLong(0))
      assert(got.length === 10)
      // recall@10 through the first-class evaluation operator
      val runDf = got.zipWithIndex
        .map { case (id, i) => (1L, id, i + 1) }.toSeq.toDF("q", "id", "rank")
      val relDf = exact.toSeq.map(id => (1L, id)).toDF("q", "id")
      val recall = graft.operators.SearchMetrics.retrievalMetrics(
          runDf, "q", "id", "rank", relDf, "q", "id", k = 10)
        .head().getAs[Double]("recall_at_k")
      assert(recall >= 0.8, s"routed MAXSIM recall@10 = $recall vs exact $exact, got ${got.toSet}")
      // survivors are ranked by the EXACT multi-vector kernel: the
      // routed scores must be non-increasing
      val scores = routed.collect().map(_.getDouble(1))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    } finally AnnIndex.Catalog.clear()
  }

  test("EXPLAIN statement: plan text as a one-row result, query not executed") {
    val rows = Tql.query(spark, dir,
      "EXPLAIN SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45")
      .collect()
    assert(rows.length === 1 && rows(0).schema.fieldNames.toSeq === Seq("plan"))
    val plan = rows(0).getString(0)
    assert(plan.contains("Physical Plan") && plan.contains("PushedFilters"), plan)
    // mode words are plain identifiers, not reserved
    val json = Tql.query(spark, dir,
      "EXPLAIN JSON SELECT l_orderkey FROM lineitem").collect()(0).getString(0)
    assert(json.startsWith("[") && json.contains("\"class\""))
    val cost = Tql.query(spark, dir,
      "EXPLAIN COST SELECT l_orderkey FROM lineitem").collect()(0).getString(0)
    assert(cost.contains("Optimized Logical Plan"), cost)
    // a column named like a mode word still parses (not a keyword)
    val k = Tql.queryDataset(
      spark.range(3).toDF("json"), "SELECT json WHERE json > 0")
    assert(k.count() === 2)
  }

  test("explainQuery returns formatted plan + JSON tree without executing (pyi:837)") {
    val ex = Tql.explainQuery(spark, dir,
      "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45")
    assert(ex.result.contains("Physical Plan"))
    // pushdown is visible in the explain output — the point of the API
    assert(ex.result.contains("PushedFilters"), ex.result)
    assert(ex.resultJson.startsWith("[") && ex.resultJson.contains("\"class\""))
  }

  test("ORDER BY cosine DESC LIMIT k routes through a registered ANN index (tql.hpp:171)") {
    import graft.operators.AnnIndex
    val emb = tbl("embeddings")
    val idx = AnnIndex.build(emb, "vec_id", "embedding", 8)
    AnnIndex.Catalog.register("embeddings", "embedding", "vec_id", idx)
    try {
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .collect()(0).getSeq[Float](0).map(_.toDouble)
      val arr = qv.mkString("ARRAY[", ", ", "]")
      val sql = s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, $arr), 6) AS score
                   |FROM embeddings ORDER BY score DESC LIMIT 5""".stripMargin
      val routed = Tql.query(spark, dir, sql)
      // the scan is restricted to the candidate ids
      assertRoutedTo(routed, "vec_id")
      val spark2 = spark
      import spark2.implicits._
      val direct = AnnIndex.search(idx,
          Seq((0, qv)).toDF("qid", "q_vec"), "qid", "q_vec", 5)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(routed.collect().map(_.getLong(0)).toSet === direct)
      // without a registered index the same text takes the exact path
      AnnIndex.Catalog.clear()
      val exact = Tql.query(spark, dir, sql)
      assert(inIds(exact, "vec_id").isEmpty)
      assert(exact.count() === 5)
    } finally AnnIndex.Catalog.clear()
  }

  test("capability options gate query shapes (options.hpp:7-31)") {
    // filter_only: SELECT * + WHERE passes; a selection list is refused
    assert(Tql.queryWithOptions(spark, dir,
      "SELECT * FROM lineitem WHERE l_quantity > 45", Tql.Options.filterOnly)
      .get.count() > 0)
    val e1 = intercept[IllegalArgumentException](Tql.queryWithOptions(spark, dir,
      "SELECT l_orderkey FROM lineitem", Tql.Options.filterOnly))
    assert(e1.getMessage.contains("selection list"))
    // nested query refusal
    val e2 = intercept[IllegalArgumentException](Tql.queryWithOptions(spark, dir,
      "SELECT * FROM (SELECT * FROM lineitem WHERE l_quantity > 45)",
      Tql.Options.webEnvironment))
    assert(e2.getMessage.contains("nested"))
    // parsing_only: validates without compiling
    assert(Tql.queryWithOptions(spark, dir,
      "SELECT l_orderkey FROM lineitem",
      Tql.Options.allowEverything.copy(parsingOnly = true)).isEmpty)
    // linear_only: same indexed-top-k text compiles WITHOUT the route
    import graft.operators.AnnIndex
    AnnIndex.Catalog.register("embeddings", "embedding", "vec_id",
      AnnIndex.build(tbl("embeddings"), "vec_id", "embedding", 8))
    try {
      val qv = tbl("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0).getSeq[Float](0).map(_.toDouble)
      val sql = s"""SELECT vec_id FROM embeddings
                   |ORDER BY COSINE_SIMILARITY(embedding, ${qv.mkString("ARRAY[", ",", "]")}) DESC
                   |LIMIT 5""".stripMargin
      val linear = Tql.queryWithOptions(spark, dir, sql, Tql.Options.linearOnly).get
      assert(inIds(linear, "vec_id").isEmpty)
      val routed = Tql.queryWithOptions(spark, dir, sql, Tql.Options.allowEverything).get
      assertRoutedTo(routed, "vec_id")
    } finally AnnIndex.Catalog.clear()
  }

  test("prepare/runBatch: parse once, plan-cache per binding (tql.hpp:81-103)") {
    val text = """SELECT o_orderkey FROM orders WHERE o_totalprice > ?
                 |ORDER BY o_orderkey LIMIT ?""".stripMargin
    val p = Tql.prepare(spark, dir, text)
    val parsesAfterPrepare = Tql.parseCount.get()

    val first = p.runBatch(Seq(Seq(350000.0, 3L), Seq(100000.0, 5L)))
    val firstRows = first.map(_.collect().toSeq)
    val compilesAfterFirst = Tql.compileCount.get()

    // second batch with the same bindings: no re-parse, no re-compile,
    // and the very same DataFrame instances (analyzed plan reused)
    val second = p.runBatch(Seq(Seq(350000.0, 3L), Seq(100000.0, 5L)))
    assert(Tql.parseCount.get() == parsesAfterPrepare)
    assert(Tql.compileCount.get() == compilesAfterFirst)
    assert(first.zip(second).forall { case (a, b) => a eq b })
    assert(second.map(_.collect().toSeq) == firstRows)

    // preparing the same text again doesn't re-parse either
    Tql.prepare(spark, dir, text)
    assert(Tql.parseCount.get() == parsesAfterPrepare)

    // a new binding compiles exactly once more
    p.run(Seq(0.0, 1L))
    assert(Tql.compileCount.get() == compilesAfterFirst + 1)
  }

  test("materialized result cache: hit returns the same persisted frame (executor.hpp:107)") {
    Tql.ResultCache.invalidate()
    val text = "SELECT n_name, n_regionkey FROM nation WHERE n_regionkey < 3 ORDER BY n_name"
    val a = Tql.ResultCache.run(spark, dir, text)
    val rows = a.collect().toSeq
    val compiles = Tql.compileCount.get()
    // hit: same instance, no recompile, cached blocks present
    val b = Tql.ResultCache.run(spark, dir, text)
    assert(a eq b)
    assert(Tql.compileCount.get() == compiles)
    assert(a.storageLevel.useMemory || a.storageLevel.useDisk)
    assert(b.collect().toSeq == rows)
    // different params -> different entry
    val c = Tql.ResultCache.run(spark, dir,
      "SELECT n_name FROM nation WHERE n_regionkey = ? ORDER BY n_name", Seq(1))
    assert(!(c eq a) && Tql.ResultCache.entries == 2)
    // invalidate unpersists and empties
    Tql.ResultCache.invalidate()
    assert(Tql.ResultCache.entries == 0)
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("L2 ascending top-k routes to the index; cosine ASC does not") {
    import graft.operators.AnnIndex
    val emb = graft.sources.Tables(spark, dir, "embeddings")
    val idx = AnnIndex.build(emb, "vec_id", "embedding", 8)
    AnnIndex.Catalog.register("embeddings", "embedding", "vec_id", idx)
    try {
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .collect()(0).getSeq[Float](0).map(_.toDouble)
      val arr = qv.mkString("ARRAY[", ", ", "]")
      val routed = Tql.query(spark, dir,
        s"""SELECT vec_id, ROUND(L2_NORM(embedding - $arr), 6) AS dist
           |FROM embeddings ORDER BY dist ASC, vec_id LIMIT 5""".stripMargin)
      assertRoutedTo(routed, "vec_id")
      val spark2 = spark
      import spark2.implicits._
      val direct = AnnIndex.search(idx,
          Seq((0, qv)).toDF("qid", "q_vec"), "qid", "q_vec", 5, metric = "l2")
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(routed.collect().map(_.getLong(0)).toSet === direct)
      // a semantically-backwards shape (similarity ASC) must NOT route
      val backwards = Tql.query(spark, dir,
        s"""SELECT vec_id FROM embeddings
           |ORDER BY COSINE_SIMILARITY(embedding, $arr) ASC LIMIT 5""".stripMargin)
      assert(inIds(backwards, "vec_id").isEmpty)
    } finally AnnIndex.Catalog.clear()
  }

  test("DOT descending top-k routes to the index (MIPS); DOT ASC does not") {
    import graft.operators.AnnIndex
    val emb = graft.sources.Tables(spark, dir, "embeddings")
    val idx = AnnIndex.build(emb, "vec_id", "embedding", 8)
    AnnIndex.Catalog.register("embeddings", "embedding", "vec_id", idx)
    try {
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .collect()(0).getSeq[Float](0).map(_.toDouble)
      val arr = qv.mkString("ARRAY[", ", ", "]")
      val routed = Tql.query(spark, dir,
        s"""SELECT vec_id, ROUND(DOT(embedding, $arr), 6) AS ip
           |FROM embeddings ORDER BY ip DESC, vec_id LIMIT 5""".stripMargin)
      assertRoutedTo(routed, "vec_id")
      val spark2 = spark
      import spark2.implicits._
      val direct = AnnIndex.search(idx,
          Seq((0, qv)).toDF("qid", "q_vec"), "qid", "q_vec", 5, metric = "dot")
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(routed.collect().map(_.getLong(0)).toSet === direct)
      // inner product ASCENDING is not a MIPS query — must not route
      val backwards = Tql.query(spark, dir,
        s"""SELECT vec_id FROM embeddings
           |ORDER BY DOT(embedding, $arr) ASC LIMIT 5""".stripMargin)
      assert(inIds(backwards, "vec_id").isEmpty)
    } finally AnnIndex.Catalog.clear()
  }

  /** 2-d unit vectors at `deg` degrees plus seeded jitter in two more
    * dims (float, as an embedding column stores them) */
  private def at(deg: Double, rnd: scala.util.Random, jitter: Double): Seq[Float] = {
    val r = math.toRadians(deg)
    Seq(math.cos(r), math.sin(r), jitter * rnd.nextGaussian(), jitter * rnd.nextGaussian())
      .map(_.toFloat)
  }

  /** `rows` (vec_id, grp, embedding) as a parquet table; returns its path */
  private def vecTable(rows: Seq[(Long, Int, Seq[Float])]): String = {
    val spark2 = spark
    import spark2.implicits._
    val path = java.nio.file.Files.createTempDirectory("ann_route").toString + "/t"
    rows.toDF("vec_id", "grp", "embedding").write.parquet(path)
    path
  }

  /** TQL top-k over `path` by the unrounded score of `metric` */
  private def annTql(path: String, metric: String, q: Seq[Double], where: String,
      k: Int): String = {
    val arr = q.mkString("ARRAY[", ", ", "]")
    val (fn, dir) = metric match {
      case "cosine" => (s"COSINE_SIMILARITY(embedding, $arr)", "DESC")
      case "l2" => (s"L2_NORM(embedding - $arr)", "ASC")
      case _ => (s"DOT(embedding, $arr)", "DESC")
    }
    s"""SELECT vec_id, $fn AS s FROM "$path" $where ORDER BY s $dir, vec_id LIMIT $k"""
  }

  /** routed ids in answer order == AnnIndex.search's ids in rank order */
  private def assertSameAsSearch(path: String, idx: graft.operators.AnnIndex.Index,
      config: graft.operators.AnnIndex.SearchConfig, metric: String, q: Seq[Double],
      where: Option[String], k: Int): Seq[Long] = {
    import graft.operators.AnnIndex
    val spark2 = spark
    import spark2.implicits._
    val routed = Tql.query(spark, dir, annTql(path, metric, q, where.fold("")("WHERE " + _), k))
    val got = routed.collect().map(_.getLong(0)).toSeq
    assertRoutedTo(routed, "vec_id")
    val want = AnnIndex.search(idx, Seq((0, q)).toDF("qid", "q_vec"), "qid", "q_vec", k,
        config, idFilter = where.map(w => spark.read.parquet(path).filter(expr(w))
          .select(col("vec_id"))), metric = metric)
      .orderBy(col("rank")).select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(got === want, s"$metric ${where.getOrElse("unfiltered")}")
    got
  }

  test("single-query ANN route returns AnnIndex.search's ids in order: plain, int8- and PQ-gated indexes; cosine, l2, dot; unfiltered, full-probe filter, widening filter") {
    import graft.operators.AnnIndex
    // 8 tight clusters: six near ones at 0..100 degrees (10 rows each)
    // and two far ones at 180 and 200 degrees (60 rows each)
    val rnd = new scala.util.Random(11)
    val angles = Seq(0, 20, 40, 60, 80, 100, 180, 200)
    var next = -1L
    val rows = angles.zipWithIndex.flatMap { case (a, g) =>
      Seq.fill(if (a >= 180) 60 else 10) { next += 1; (next, g, at(a, rnd, 0.01)) }
    }
    val path = vecTable(rows)
    val emb = spark.read.parquet(path)
    // a gate serves cosine only: l2 and dot score a gated index's
    // candidates exactly, as on the plain index
    val indexes = Seq(
      "plain" -> (AnnIndex.build(emb, "vec_id", "embedding", 8), Seq("cosine", "l2", "dot")),
      "int8" -> (AnnIndex.build(emb, "vec_id", "embedding", 8, quantized = true), Seq("cosine")),
      "pq" -> (AnnIndex.buildPq(emb, "vec_id", "embedding", 8, m = 2, ksub = 8),
        Seq("cosine", "l2")))
    // one cluster probed unfiltered: ceil(sqrt(8) * 0.3) = 1; a gate
    // keeps only k candidates for the exact rerank, so its own order
    // shows in the answer (exact scoring in place of the gate fails here)
    val config = AnnIndex.SearchConfig(accuracyFactor = 1, clusterSearchFactor = 0.3)
    val q = at(5, rnd, 0.0).map(_.toDouble)
    val far = rows.filter(_._2 >= 6).map(_._1).toSet
    try for ((name, (idx, metrics)) <- indexes; metric <- metrics) {
      AnnIndex.Catalog.register(path, "embedding", "vec_id", idx, config)
      assertSameAsSearch(path, idx, config, metric, q, None, 5)
      // selectivity 20/180 is floored at 1/8, which scales the first
      // probe to all 8 clusters
      assertSameAsSearch(path, idx, config, metric, q, Some("grp < 2"), 5)
      // selectivity 122/180 starts at 2 clusters holding 2 survivors;
      // only widening reaches the far clusters' rows
      val widened = assertSameAsSearch(path, idx, config, metric, q,
        Some("grp >= 6 OR vec_id < 2"), 5)
      assert(widened.length === 5 && widened.count(far) === 3, s"$name $metric: $widened")
    } finally AnnIndex.Catalog.clear()
  }

  test("filtered ANN route replays the widening from one per-cluster pass: a filter that widens twice, one that keeps every row") {
    import graft.operators.AnnIndex
    // the table of the route-equivalence test above: six near clusters
    // (10 rows each) and two far ones (60 rows each)
    val rnd = new scala.util.Random(11)
    val angles = Seq(0, 20, 40, 60, 80, 100, 180, 200)
    var next = -1L
    val rows = angles.zipWithIndex.flatMap { case (a, g) =>
      Seq.fill(if (a >= 180) 60 else 10) { next += 1; (next, g, at(a, rnd, 0.01)) }
    }
    val path = vecTable(rows)
    val idx = AnnIndex.build(spark.read.parquet(path), "vec_id", "embedding", 8)
    val config = AnnIndex.SearchConfig(clusterSearchFactor = 0.3)
    AnnIndex.Catalog.register(path, "embedding", "vec_id", idx, config)
    try {
      val q = at(5, rnd, 0.0).map(_.toDouble)
      for (metric <- Seq("cosine", "l2", "dot")) {
        // selectivity 61/180 starts at ceil(1 / 0.339) = 3 clusters
        // holding one survivor, then widens to 6 and to all 8
        val widened = assertSameAsSearch(path, idx, config, metric, q,
          Some("grp == 7 OR vec_id == 0"), 5)
        assert(widened.length === 5 && widened.count(_ >= 120L) === 4, s"$metric: $widened")
        // every row survives: the first probe (one cluster) already holds k
        assertSameAsSearch(path, idx, config, metric, q, Some("vec_id >= 0"), 5)
      }
    } finally AnnIndex.Catalog.clear()
  }

  test("a routed filtered ANN request runs 3 jobs on a warm table (filter ids, cluster pass, answer)") {
    import graft.operators.AnnIndex
    val emb = tbl("embeddings")
    AnnIndex.Catalog.register("embeddings", "embedding", "vec_id",
      AnnIndex.build(emb, "vec_id", "embedding", 8))
    try {
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .collect()(0).getSeq[Float](0).map(_.toDouble)
      val sql = s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, ${qv.mkString("ARRAY[", ", ", "]")}), 6)
                   |AS score FROM embeddings WHERE vec_id % 5 == 0
                   |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
      def jobs(): Int = JobCount(spark)(Tql.query(spark, dir, sql).collect())
      jobs() // warm-up: the index's assignment row count
      assert(jobs() === 3)
    } finally AnnIndex.Catalog.clear()
  }

  test("a routed request through an int8- or PQ-gated index runs the plain index's jobs on a warm table: 2 unfiltered, 3 filtered") {
    import graft.operators.AnnIndex
    val emb = tbl("embeddings")
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(_.toDouble)
    def sql(where: String) =
      s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, ${qv.mkString("ARRAY[", ", ", "]")}), 6)
         |AS score FROM embeddings $where ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    def jobs(sql: String): Int = JobCount(spark)(Tql.query(spark, dir, sql).collect())
    try for (idx <- Seq(AnnIndex.build(emb, "vec_id", "embedding", 8, quantized = true),
        AnnIndex.buildPq(emb, "vec_id", "embedding", 8))) {
      AnnIndex.Catalog.register("embeddings", "embedding", "vec_id", idx)
      jobs(sql("")) // warm-up
      assert(jobs(sql("")) === 2, idx.gate)
      jobs(sql("WHERE vec_id % 5 == 0")) // warm-up: the index's assignment row count
      assert(jobs(sql("WHERE vec_id % 5 == 0")) === 3, idx.gate)
    } finally AnnIndex.Catalog.clear()
  }

  test("warm routed unfiltered ANN requests compile no new code: the probed cluster ids are a referenced literal") {
    import graft.operators.AnnIndex
    val emb = tbl("embeddings")
    AnnIndex.Catalog.register("embeddings", "embedding", "vec_id",
      AnnIndex.build(emb, "vec_id", "embedding", 16))
    try {
      // different queries probe different sets of 4 of the 16 clusters;
      // an `In` of the probed ids inlined them, one compile per set
      val vecs = emb.orderBy("vec_id").limit(14).select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble))
      def run(qv: Seq[Double]): Unit = Tql.query(spark, dir,
        s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, ${qv.mkString("ARRAY[", ", ", "]")}), 6)
           |AS score FROM embeddings ORDER BY score DESC, vec_id LIMIT 10""".stripMargin).collect()
      vecs.take(4).foreach(run) // warm-up
      val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      vecs.drop(4).foreach(run)
      assert(compiles.getCount - before === 0L)
    } finally AnnIndex.Catalog.clear()
  }

  test("single-query ANN route ties: equal centroids probe the lower cluster_id, equal scores keep the lower id") {
    import graft.operators.AnnIndex
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(3)
    // clusters 0 and 1 share one centroid; cluster 1 holds the better
    // matches, so probing it instead of cluster 0 would change the answer
    val rows = Seq((10L, 0, at(30, rnd, 0.0)), (11L, 0, at(35, rnd, 0.0)),
      (20L, 1, at(1, rnd, 0.0)), (21L, 1, at(2, rnd, 0.0)),
      (30L, 2, at(180, rnd, 0.0)))
    val path = vecTable(rows)
    val cents = Seq((0, at(20, rnd, 0.0)), (1, at(20, rnd, 0.0)), (2, at(180, rnd, 0.0)))
      .toDF("cluster_id", "centroid")
    val assign = spark.read.parquet(path)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("grp").as("cluster_id"))
    val idx = AnnIndex.of(cents, assign)
    // one cluster probed: ceil(sqrt(3) * 0.5) = 1
    val config = AnnIndex.SearchConfig(clusterSearchFactor = 0.5)
    AnnIndex.Catalog.register(path, "embedding", "vec_id", idx, config)
    val q = at(0, rnd, 0.0).map(_.toDouble)
    try for (metric <- Seq("cosine", "l2", "dot"))
      assert(assertSameAsSearch(path, idx, config, metric, q, None, 2) === Seq(10L, 11L))
    finally AnnIndex.Catalog.clear()

    // duplicate vectors: the score ties and the lower id ranks first
    val dup = at(10, rnd, 0.0)
    val path2 = vecTable(Seq((7L, 0, dup), (3L, 0, dup), (5L, 0, dup),
      (1L, 0, at(60, rnd, 0.0))))
    val one = Seq((0, at(10, rnd, 0.0))).toDF("cluster_id", "centroid")
    val idx2 = AnnIndex.of(one, spark.read.parquet(path2)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("grp").as("cluster_id")))
    AnnIndex.Catalog.register(path2, "embedding", "vec_id", idx2)
    try for (metric <- Seq("cosine", "l2", "dot"))
      assert(assertSameAsSearch(path2, idx2, AnnIndex.SearchConfig(), metric, q, None, 2) ===
        Seq(3L, 5L))
    finally AnnIndex.Catalog.clear()
  }

  test("a routed unfiltered ANN request runs 2 jobs on a warm table (candidates, answer), 3 on a cold one") {
    import graft.operators.AnnIndex
    val emb = tbl("embeddings")
    AnnIndex.Catalog.register("embeddings", "embedding", "vec_id",
      AnnIndex.build(emb, "vec_id", "embedding", 8))
    try {
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .collect()(0).getSeq[Float](0).map(_.toDouble)
      val sql = s"""SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, ${qv.mkString("ARRAY[", ", ", "]")}), 6)
                   |AS score FROM embeddings ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
      def jobs(): Int = JobCount(spark)(Tql.query(spark, dir, sql).collect())
      jobs() // warm-up
      assert(jobs() === 2)
      // a cold table adds its one schema-inference job
      graft.sources.Tables.schemas.keySet().removeIf(_.endsWith(s"$dir/embeddings.parquet"))
      assert(jobs() === 3)
      assert(jobs() === 2)
    } finally AnnIndex.Catalog.clear()
  }
}
