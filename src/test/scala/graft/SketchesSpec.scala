package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Sketches
import graft.sources.Tables

/** Sketch statistics must land within their documented error bounds of
  * the exact answers. */
class SketchesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  test("HLL distinct and approx percentiles track the exact values") {
    spark.sparkContext.setLogLevel("WARN")
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val sk = Sketches.profile(li, Nil, "l_extendedprice").collect()(0)
    val exact = li.agg(
      countDistinct(col("l_extendedprice")).as("d"),
      expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))").as("ps"))
      .collect()(0)
    val d = exact.getLong(0).toDouble
    assert(math.abs(sk.getLong(1) - d) / d < 0.10,
      s"HLL ${sk.getLong(1)} vs exact $d")
    val approxPs = sk.getSeq[Double](2)
    val exactPs = exact.getSeq[Double](1)
    approxPs.zip(exactPs).foreach { case (a, e) =>
      assert(math.abs(a - e) / e < 0.02, s"approx $a vs exact $e")
    }
    // sketches merge: the grouped profile's partials union to the global
    val grouped = Sketches.profile(li, Seq("l_returnflag"), "l_extendedprice")
    assert(grouped.count() === 3)
  }

  test("Misra-Gries two-pass heavy hitters are exact under a vocab far larger than k") {
    import spark.implicits._
    // 4 planted heavy items (>= 500 each) + 2000-item uniform tail (~5 each),
    // shuffled across 8 partitions; k=64 counters << 2004 distinct items
    val heavy = Seq.tabulate(4)(i => Seq.fill(500 + 37 * i)(s"hot_$i")).flatten
    val tail = Seq.tabulate(2000)(i => Seq.fill(5)(s"cold_$i")).flatten
    val df = scala.util.Random.shuffle(heavy ++ tail).toDF("token").repartition(8)
    val n = df.count()
    val threshold = 400L
    assert(threshold > n / 65, "threshold must exceed the sketch guarantee bound")
    val got = Sketches.heavyHitters(df, "token", threshold, k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exact, s"got $got vs exact $exact")
    assert(got.keySet === Set("hot_0", "hot_1", "hot_2", "hot_3"))
  }

  test("Misra-Gries summary never exceeds k counters and keeps true heavies") {
    val mg = new Sketches.MisraGries(8)
    val stream = scala.util.Random.shuffle(
      Seq.fill(300)("big") ++ (1 to 500).map(i => s"small_${i % 100}"))
    val b = stream.foldLeft(mg.zero)(mg.reduce)
    assert(b.size <= 8, s"summary grew to ${b.size}")
    assert(b.contains("big"), "item with freq > n/(k+1) must survive")
    // merge path: two half-streams merged == bounded too
    val (l, r) = stream.splitAt(stream.length / 2)
    val merged = mg.merge(l.foldLeft(mg.zero)(mg.reduce), r.foldLeft(mg.zero)(mg.reduce))
    assert(merged.size <= 8 && merged.contains("big"))
  }

  test("BottomK: sorted/distinct/capped state; merge order never matters; KMV count tracks truth") {
    val bk = new Sketches.BottomK(16)
    val rnd = new scala.util.Random(5)
    val stream = Seq.fill(500)(rnd.nextLong()) ++ Seq.fill(500)(42L) // heavy dup
    val b = stream.foldLeft(bk.zero)(bk.reduce)
    assert(b.length === 16 && b.toSeq === b.sorted.toSeq && b.distinct.length === 16)
    assert(b.toSeq === stream.distinct.sorted.take(16), "must be the 16 smallest distinct")
    // merge == single-stream fold, regardless of split point
    Seq(1, 137, 499).foreach { cut =>
      val (l, r) = stream.splitAt(cut)
      val m = bk.merge(l.foldLeft(bk.zero)(bk.reduce), r.foldLeft(bk.zero)(bk.reduce))
      assert(m.toSeq === b.toSeq, s"merge at $cut diverged")
    }
    // KMV distinct estimate: exact below k, within ~4/sqrt(k) above it
    val k = 256
    val big = new Sketches.BottomK(k)
    val small = (1 to 100).map(i => s"v$i".hashCode.toLong).distinct
    val sSig = small.foldLeft(big.zero)(big.reduce)
    assert(Sketches.kmvDistinctEstimate(sSig, k) === small.length.toDouble)
    // KMV assumes hashes uniform over the full 64-bit range — use a
    // splitmix64 finalizer like the engine's xxhash64 keys
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val n = 20000
    val bSig = (1 to n).map(i => mix64(i.toLong)).foldLeft(big.zero)(big.reduce)
    val est = Sketches.kmvDistinctEstimate(bSig, k)
    assert(math.abs(est - n) / n < 4.0 / math.sqrt(k), s"KMV estimate $est vs $n")
  }

  test("corpusOverlapSketch: exact at covering k, tolerant estimate at small k") {
    import spark.implicits._
    import graft.operators.Dedup
    // covering-k regime reproduces the exact operator bit-for-bit
    val tiny = Seq((1L, "s1", "a b c d"), (2L, "s2", "a b c"), (3L, "s3", "x y z w"))
      .toDF("doc_id", "source", "text")
    val sk = Dedup.corpusOverlapSketch(tiny, "source", "text", k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(sk(("s1", "s2")) === ((2L, 1L, 0.5)))
    assert(sk(("s1", "s3"))._3 === 0.0 && sk(("s2", "s3"))._3 === 0.0)
    // a source with NO shingles (all sub-3-token docs) still gets its
    // full set of matrix rows, with an empty signature (n=0, jac=0)
    val withEmpty = tiny.unionByName(
      Seq((4L, "s4", "too short")).toDF("doc_id", "source", "text"))
    val sk4 = Dedup.corpusOverlapSketch(withEmpty, "source", "text", k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(sk4.size === 6, s"full 4-source matrix expected: ${sk4.keySet}")
    assert(sk4(("s1", "s4")) === ((0L, 0.0)))
    // estimation regime: planted ~1/3 overlap, k far below distinct count
    val words = (1 to 900).map(i => s"w$i")
    val big = Seq(
      (1L, "a", words.take(600).mkString(" ")),
      (2L, "b", words.slice(300, 900).mkString(" "))).toDF("doc_id", "source", "text")
    val exact = Dedup.corpusOverlap(big, "source", "text").head()
    val trueJac = exact.getDouble(5)
    val got = Dedup.corpusOverlapSketch(big, "source", "text", k = 256).head()
    assert(math.abs(got.getDouble(4) - trueJac) < 0.1,
      s"sketch ${got.getDouble(4)} vs exact $trueJac")
    assert(math.abs(got.getLong(2) - exact.getLong(2)).toDouble / exact.getLong(2) < 0.25)
  }
}
