package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{Tables, ZOrder}

/** Z-ordered layout must (a) preserve the data exactly and (b) cluster
  * BOTH dimensions: a selective range predicate on either column touches
  * a small fraction of the files. */
class ZOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  test("z-ordered rewrite clusters both columns for file skipping") {
    spark.sparkContext.setLogLevel("WARN")
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val out = new java.io.File("target/zorder-test").getAbsolutePath
    val nFiles = 16
    ZOrder.writeZOrdered(li, out, "l_partkey", "l_suppkey", nFiles)

    val z = spark.read.parquet(out)
    assert(z.count() === li.count())

    // a ~10%-range predicate on EITHER clustered column should hit only a
    // minority of the files (unclustered layout touches nearly all)
    def filesHit(cond: org.apache.spark.sql.Column): Long =
      z.filter(cond).select(input_file_name()).distinct().count()
    val nWritten = z.select(input_file_name()).distinct().count()
    val (pkLo, pkHi) = (1, 20)   // l_partkey spans ~1..200 at sf0.001
    val (skLo, skHi) = (1, 2)    // l_suppkey spans ~1..10
    val hitPk = filesHit(col("l_partkey").between(pkLo, pkHi))
    val hitSk = filesHit(col("l_suppkey").between(skLo, skHi))
    assert(hitPk <= nWritten / 2, s"partkey range hit $hitPk of $nWritten files")
    assert(hitSk <= nWritten / 2, s"suppkey range hit $hitSk of $nWritten files")
  }

  test("3-column z-order clusters every dimension") {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val out = new java.io.File("target/zorder-test3").getAbsolutePath
    ZOrder.writeZOrdered(li, out, Seq("l_partkey", "l_suppkey", "l_quantity"), 16)

    val z = spark.read.parquet(out)
    assert(z.count() === li.count())
    // row identity, not just counts
    assert(z.exceptAll(li).count() === 0 && li.exceptAll(z).count() === 0)

    // baseline: the same data written unclustered with the same file
    // count — a range predicate there touches (nearly) every file. Each
    // clustered dimension must beat it; with 3 interleaved dimensions
    // each controls fewer top z-bits than in the 2-column case, so the
    // per-dimension bound is "strictly fewer files than unclustered",
    // not the 2-column half bound.
    val plain = new java.io.File("target/zorder-test3-plain").getAbsolutePath
    li.repartition(16).write.mode("overwrite").parquet(plain)
    val p = spark.read.parquet(plain)
    def filesHit(df: org.apache.spark.sql.DataFrame,
        cond: org.apache.spark.sql.Column): Long =
      df.filter(cond).select(input_file_name()).distinct().count()
    val nWritten = z.select(input_file_name()).distinct().count()
    Seq(
      ("l_partkey", col("l_partkey").between(1, 20)),
      ("l_suppkey", col("l_suppkey").between(1, 2)),
      ("l_quantity", col("l_quantity").between(1, 5))
    ).foreach { case (name, cond) =>
      val hitZ = filesHit(z, cond)
      val hitP = filesHit(p, cond)
      assert(hitZ < hitP,
        s"$name: z-ordered hit $hitZ files vs $hitP unclustered (of $nWritten)")
      assert(hitZ <= (nWritten * 3) / 4, s"$name hit $hitZ of $nWritten files")
    }
  }
}
