package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in SCALE gate for the relational path, the sibling of
  * AnnScaleSpec/DedupScaleSpec/SearchScaleSpec: the 1M gates cover the
  * index stacks, but TPC-H otherwise runs only at sf0.1 (~600k
  * lineitem) while the reference's own fixture posture is 15M rows
  * (`postgres/tests/sql/pubmed_table.sql:10-31`).
  *
  * TESTDATA is read-only, so the fixture replicates the sf0.1 FACT
  * tables in-plan: k shifted copies via a map-side explode (orderkeys
  * shift per copy so join integrity and per-order group sizes are
  * preserved; dimension tables deliberately stay fixed — dims grow
  * slower than facts). Both the base and the scaled run go through the
  * SAME generator (factor 1 vs 10) so the measured ratio isolates the
  * query work, not fixture construction.
  *
  * Gates, per q1/q9/q18 shape (scan-heavy agg, 5-way star join,
  * semi-join + re-join re-agg):
  *  - wall-time at 10x data grows ≤ ~linear (allow 20x for host noise;
  *    a quadratic shape would be ~100x)
  *  - the 10x physical plan introduces NO new Exchange over the 1x
  *    plan — scale must not change the shuffle structure
  *
  * Ignored by default; opt in with
  *   GRAFT_TPCH_SCALE=1 sbt "testOnly graft.TpchScaleSpec"
  * Measured numbers print to stderr for the round notes.
  */
class TpchScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(32)

  private val dir = "/root/testdata/sf0.1"

  private def scaleTest(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_TPCH_SCALE")) test(name)(body)
    else ignore(name)(body)

  /** k shifted copies of a fact table: every key in `shiftKeys` moves
    * by copy·span so copies never collide and joins stay 1:1 per copy */
  private def replicate(df: DataFrame, factor: Int,
      shiftKeys: Seq[String], span: Long): DataFrame = {
    val copies = explode(sequence(lit(0L), lit(factor - 1L))).as("__copy")
    shiftKeys.foldLeft(df.select(col("*"), copies)) { (acc, k) =>
      acc.withColumn(k, col(k) + col("__copy") * span)
    }.drop("__copy")
  }

  private case class Fixture(lineitem: DataFrame, orders: DataFrame,
      part: DataFrame, supplier: DataFrame, nation: DataFrame,
      customer: DataFrame)

  private def fixture(factor: Int, span: Long): Fixture = Fixture(
    replicate(graft.sources.Tables(spark, dir, "lineitem"), factor,
      Seq("l_orderkey"), span),
    replicate(graft.sources.Tables(spark, dir, "orders"), factor,
      Seq("o_orderkey"), span),
    graft.sources.Tables(spark, dir, "part"),
    graft.sources.Tables(spark, dir, "supplier"),
    graft.sources.Tables(spark, dir, "nation"),
    graft.sources.Tables(spark, dir, "customer"))

  private def q1Shape(f: Fixture): DataFrame =
    f.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private def q9Shape(f: Fixture): DataFrame =
    f.lineitem
      .join(f.part.filter(col("p_name").like("%blue%")),
        col("l_partkey") === col("p_partkey"))
      .join(f.orders, col("l_orderkey") === col("o_orderkey"))
      .join(f.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(f.nation, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)

  private def q18Shape(f: Fixture): DataFrame = {
    val big = f.lineitem.groupBy(col("l_orderkey").as("bk"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    f.orders
      .join(big, col("o_orderkey") === col("bk"), "left_semi")
      .join(f.customer, col("o_custkey") === col("c_custkey"))
      .join(f.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  scaleTest("q1/q9/q18 shapes at 10x lineitem: <= ~linear wall-time, no new Exchanges") {
    val span = graft.sources.Tables(spark, dir, "orders")
      .agg(max(col("o_orderkey"))).head().getLong(0) + 1
    val base = fixture(1, span)
    val big = fixture(10, span)
    val shapes: Seq[(String, Fixture => DataFrame)] =
      Seq("q1" -> q1Shape, "q9" -> q9Shape, "q18" -> q18Shape)

    def exchanges(df: DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.collect()
      (System.nanoTime() - t0) / 1e9
    }

    for ((name, shape) <- shapes) {
      shape(base).collect() // JIT/codegen warm-up rep
      val sB = time(shape(base))
      val sL = time(shape(big))
      val (eB, eL) = (exchanges(shape(base)), exchanges(shape(big)))
      System.err.println(
        f"[tpch-scale] $name: 1x=$sB%.2fs 10x=$sL%.2fs factor=${sL / sB}%.1fx exchanges=$eB%d->$eL%d")
      assert(eL <= eB,
        s"$name: 10x plan grew Exchanges $eB -> $eL — scale changed the shuffle structure")
      assert(sL < 20 * sB,
        f"$name: 10x data cost ${sL / sB}%.1fx (linear is ~10x, quadratic ~100x)")
    }
  }
}
