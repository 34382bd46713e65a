package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{IncrementalAgg, MaterializedAgg}
import graft.sources.Tables

/** The maintained-aggregate contract: merging any batching of deltas
  * reproduces the full recompute exactly (counts/min/max bit-equal, sums
  * to float tolerance). */
class IncrementalAggSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  test("three-way delta merge equals the one-pass state") {
    spark.sparkContext.setLogLevel("WARN")
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val keys = Seq("l_returnflag")
    def part(r: Int) = li.filter(col("l_orderkey") % 3 === r)
    val merged = IncrementalAgg.merge(
      IncrementalAgg.merge(
        IncrementalAgg.state(part(0), keys, "l_quantity"),
        IncrementalAgg.state(part(1), keys, "l_quantity"), keys),
      IncrementalAgg.state(part(2), keys, "l_quantity"), keys)
      .orderBy("l_returnflag").collect()
    val full = IncrementalAgg.state(li, keys, "l_quantity")
      .orderBy("l_returnflag").collect()
    assert(merged.length === full.length)
    merged.zip(full).foreach { case (m, f) =>
      assert(m.getString(0) === f.getString(0))
      assert(m.getLong(1) === f.getLong(1))                       // n
      assert(math.abs(m.getDouble(2) - f.getDouble(2)) < 1e-6)    // sum
      assert(m.getDouble(3) === f.getDouble(3))                   // min
      assert(m.getDouble(4) === f.getDouble(4))                   // max
    }
  }

  test("materialized view: O(delta) refreshes equal a full recompute; compaction folds") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("matview").toString + "/v"
    val keys = Seq("g")
    def rows(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "x")
    MaterializedAgg.create(rows(0, 100), keys, "x", dir)
    MaterializedAgg.refresh(rows(100, 250), keys, "x", dir)
    MaterializedAgg.refresh(rows(250, 300), keys, "x", dir)
    def readout(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
        .toMap
    val got = readout(MaterializedAgg.read(spark, dir, keys))
    val full = readout(IncrementalAgg.readout(
      IncrementalAgg.state(rows(0, 300), keys, "x"), keys))
    assert(got === full, "maintained view must equal a full recompute")
    // segments accumulated (1 create + 2 refresh writes); compaction
    // folds them and preserves the readout
    MaterializedAgg.compact(spark, dir, keys)
    assert(readout(MaterializedAgg.read(spark, dir, keys)) === full)
    // post-compaction refreshes keep working
    MaterializedAgg.refresh(rows(300, 330), keys, "x", dir)
    val got2 = readout(MaterializedAgg.read(spark, dir, keys))
    val full2 = readout(IncrementalAgg.readout(
      IncrementalAgg.state(rows(0, 330), keys, "x"), keys))
    assert(got2 === full2)
    // a SECOND compaction must fold the first one's compacted-* output
    // too (not just raw part-* appends): the live-segment pile stays
    // bounded across repeated compactions instead of growing
    def liveSegs(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) &&
          (n.startsWith("part-") || n.startsWith("compacted-"))
      }.toList finally w.close()
    }
    MaterializedAgg.compact(spark, dir, keys)
    val afterSecond = liveSegs()
    MaterializedAgg.compact(spark, dir, keys)
    assert(liveSegs().size <= afterSecond.size,
      "repeated compaction must not grow the segment pile")
    assert(liveSegs().forall(_.getFileName.toString.startsWith("compacted-")),
      "after compaction every live segment is a compaction output")
    assert(readout(MaterializedAgg.read(spark, dir, keys)) === full2)
  }

  test("materialized view: interrupted compaction is replayed, never double-counted") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("matcrash").toString + "/v"
    val keys = Seq("g")
    def rows(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "x")
    MaterializedAgg.create(rows(0, 100), keys, "x", dir)
    MaterializedAgg.refresh(rows(100, 200), keys, "x", dir)
    def readout() = MaterializedAgg.read(spark, dir, keys)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = readout()
    // simulate a crash mid-compaction: merged state staged and journal
    // committed, but no file was moved in and nothing was deleted —
    // exactly the state compact() leaves if it dies right after its
    // atomic journal rename
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val snapshot = {
      val w = Files.walk(Paths.get(dir))
      try w.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")
      }.toList finally w.close()
    }
    val txid = "deadbeef-0000-0000-0000-000000000000"
    val tmp = s"$dir.compacting-$txid"
    val segs = spark.read.parquet(snapshot.map(_.toString): _*)
    IncrementalAgg.merge(segs.limit(0), segs, keys)
      .write.mode("overwrite").parquet(tmp)
    Files.write(Paths.get(dir).resolve(s"_compact-$txid"),
      (tmp +: snapshot.map(_.toString)).mkString("\n").getBytes("UTF-8"))
    // the next read replays the journal: same totals, no doubling, and
    // the snapshot the journal names is gone
    assert(readout() === truth, "replayed compaction must not double-count")
    assert(!Files.exists(Paths.get(dir).resolve(s"_compact-$txid")))
    assert(snapshot.forall(!Files.exists(_)),
      "journaled snapshot files must be dropped by replay")
    assert(readout() === truth)
  }

  /** three 100-row input files under `tmp/in`, streamed one per
    * micro-batch into the view at `tmp/view` */
  private def streamInput(): String = {
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("matstream").toString
    (0 until 3).foreach { b =>
      (b * 100 until (b + 1) * 100).map(i => (s"g${i % 4}", i.toDouble))
        .toDF("g", "x").write.mode("append").parquet(s"$tmp/in")
    }
    tmp
  }

  private def runStream(tmp: String): Unit = {
    val q = MaterializedAgg.maintain(
      spark.readStream.schema("g STRING, x DOUBLE")
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in"),
      Seq("g"), "x", s"$tmp/view", s"$tmp/ck")
    q.processAllAvailable(); q.stop()
  }

  private def streamCounts(tmp: String): Map[String, Long] =
    MaterializedAgg.read(spark, s"$tmp/view", Seq("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private val streamTruth = (0 until 300).groupBy(i => s"g${i % 4}")
    .map { case (k, v) => k -> v.size.toLong }

  test("streaming view maintenance: micro-batches fold into the same state files") {
    val tmp = streamInput()
    runStream(tmp)
    assert(streamCounts(tmp) === streamTruth, "streamed view must equal the batch truth")
  }

  test("streaming view maintenance: a replayed micro-batch is not double-counted") {
    val tmp = streamInput()
    runStream(tmp)
    // forget the last batch's commit, as a crash between the sink write
    // and the commit does: the restarted query replays that batch
    val commits = new java.io.File(s"$tmp/ck/commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Seq(s"$last", s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
    runStream(tmp)
    assert(new java.io.File(commits, s"$last").exists, "the batch was replayed and committed")
    assert(streamCounts(tmp) === streamTruth, "a replayed batch must not land twice")
  }
}
