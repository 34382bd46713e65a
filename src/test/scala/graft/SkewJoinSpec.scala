package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.SkewJoin
import graft.sources.Tables

/** Salted joins/aggregations must be result-identical to their unsalted
  * forms — salt only changes the partitioning of the work. */
class SkewJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  // l_returnflag has 3 distinct values over thousands of rows — maximal
  // skew for an equi-join
  test("salted inner join equals plain join on a skewed key") {
    spark.sparkContext.setLogLevel("WARN")
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag").as("flag"), col("l_quantity"))
    val dim = li.select(col("flag")).distinct()
      .withColumn("flag_code", length(col("flag")) + lit(10))
    val plain = li.join(dim, Seq("flag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q")).collect()(0)
    val salted = SkewJoin.saltedJoin(li, dim, "flag", 8)
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q")).collect()(0)
    assert(salted.getLong(0) === plain.getLong(0))
    assert(math.abs(salted.getDouble(1) - plain.getDouble(1)) < 1e-6)
  }

  test("salted left join keeps unmatched big-side rows exactly once") {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag").as("flag"))
    val dim = spark.createDataFrame(Seq(("A", 1))).toDF("flag", "code")
    val plain = li.join(dim, Seq("flag"), "left")
    val salted = SkewJoin.saltedJoin(li, dim, "flag", 8, "left")
    assert(salted.count() === plain.count())
    assert(salted.filter(col("code").isNull).count() ===
      plain.filter(col("code").isNull).count())
  }

  test("salted two-phase aggregation equals direct aggregation") {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_quantity"))
    val direct = li.groupBy(col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .orderBy("flag").collect()
    val salted = SkewJoin.saltedAgg(li, "flag", 8,
        partial = Seq(count(lit(1)).as("pn"), sum(col("l_quantity")).as("pq")),
        finalMerge = Seq(sum(col("pn")).as("n"), sum(col("pq")).as("q")))
      .orderBy("flag").collect()
    assert(direct.length === salted.length)
    direct.zip(salted).foreach { case (d, s) =>
      assert(d.getString(0) === s.getString(0))
      assert(d.getLong(1) === s.getLong(1))
      assert(math.abs(d.getDouble(2) - s.getDouble(2)) < 1e-6)
    }
  }
}
