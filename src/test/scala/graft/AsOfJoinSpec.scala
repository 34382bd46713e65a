package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.AsOfJoin

/** As-of semantics on crafted data: ties take the equal-time right row,
  * unmatched lefts drop (inner) or carry null (outer). */
class AsOfJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  test("latest right row at-or-before each left time, per key") {
    spark.sparkContext.setLogLevel("WARN")
    val spark2 = spark
    import spark2.implicits._
    val left = Seq(("u1", 5L, "a"), ("u1", 10L, "b"), ("u1", 15L, "c"),
      ("u1", 25L, "d"), ("u2", 9L, "e")).toDF("k", "t", "tag")
    val right = Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0), ("u2", 9L, 9.0))
      .toDF("k", "t", "v")

    val inner = AsOfJoin.asOf(left, right, "k", "t", Seq("v"))
      .orderBy("k", "t").collect().map(r => (r.getString(2), r.getDouble(3)))
    // t=5 has no right row <= 5 and drops; t=10 ties to the t=10 right row
    assert(inner.toSeq === Seq(("b", 1.0), ("c", 1.0), ("d", 2.0), ("e", 9.0)))

    val outer = AsOfJoin.asOf(left, right, "k", "t", Seq("v"), keepUnmatched = true)
      .orderBy("k", "t").collect()
    assert(outer.length === 5)
    assert(outer(0).getString(2) === "a" && outer(0).isNullAt(3))
  }

  test("a right row with a NULL value matches and yields NULL (DuckDB ASOF semantics)") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq(("u1", 12L, "x"), ("u1", 22L, "y")).toDF("k", "t", "tag")
    // t=20 right row exists but its value is NULL: the t=22 left row must
    // match IT (null result), not reach back to the t=10 value
    val right = Seq(("u1", 10L, Some(1.0)), ("u1", 20L, None))
      .toDF("k", "t", "v")
    val inner = AsOfJoin.asOf(left, right, "k", "t", Seq("v"))
      .orderBy("t").collect()
    // both left rows matched a right ROW, so inner keeps both
    assert(inner.length === 2)
    assert(inner(0).getString(2) === "x" && inner(0).getDouble(3) === 1.0)
    assert(inner(1).getString(2) === "y" && inner(1).isNullAt(3))
  }

  test("rightValueCols colliding with left columns are rejected") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq(("u1", 1L, "x")).toDF("k", "t", "tag")
    val right = Seq(("u1", 1L, "r")).toDF("k", "t", "tag")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOf(left, right, "k", "t", Seq("tag"))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("forward direction takes the earliest at-or-after row; ties inclusive") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq(("u1", 5L, "a"), ("u1", 10L, "b"), ("u1", 21L, "c"),
      ("u2", 1L, "d")).toDF("k", "t", "tag")
    val right = Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0)).toDF("k", "t", "v")
    val got = AsOfJoin.asOf(left, right, "k", "t", Seq("v"),
        direction = "forward")
      .collect().map(r => r.getString(2) -> r.getDouble(3)).toMap
    // a(5)->10, b(10)->10 (inclusive tie), c(21)-> none, u2 none
    assert(got === Map("a" -> 1.0, "b" -> 1.0))
    val outer = AsOfJoin.asOf(left, right, "k", "t", Seq("v"),
        keepUnmatched = true, direction = "forward")
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)))).toMap
    assert(outer("c") == null && outer("d") == null && outer("a") == 1.0)
  }

  test("tolerance turns too-distant matches into non-matches, both directions") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq(("u1", 100L, "a"), ("u1", 200L, "b")).toDF("k", "t", "tag")
    val right = Seq(("u1", 95L, 1.0), ("u1", 260L, 2.0)).toDF("k", "t", "v")
    // backward, tol 10: a matches 95 (gap 5); b's nearest earlier row is
    // 95 (gap 105) -> dropped, NOT promoted to a farther-but-in-tol row
    val back = AsOfJoin.asOf(left, right, "k", "t", Seq("v"),
        tolerance = Some(10L))
      .collect().map(r => r.getString(2) -> r.getDouble(3)).toMap
    assert(back === Map("a" -> 1.0))
    // forward, tol 70: b matches 260 (lead 60); a's nearest later row is
    // 260 (lead 160) -> no match
    val fwd = AsOfJoin.asOf(left, right, "k", "t", Seq("v"),
        direction = "forward", tolerance = Some(70L))
      .collect().map(r => r.getString(2) -> r.getDouble(3)).toMap
    assert(fwd === Map("b" -> 2.0))
  }
}
