package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, Bm25, InvertedIndex}

/** Incremental index maintenance: appending new rows must be O(delta) —
  * never a full rebuild — and (for text indexes) EXACTLY equal to the
  * rebuild. Mirrors the reference's WAL-sync index maintenance
  * (`cpp/deeplake_pg/sync_worker.cpp`). */
class IndexMaintenanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  private val dir = "/root/testdata/sf0.001"
  private def docs = graft.sources.Tables(spark, dir, "documents")
  private def emb = graft.sources.Tables(spark, dir, "embeddings")

  test("streaming ANN maintenance: absorbed micro-batches become searchable") {
    val tmp = java.nio.file.Files.createTempDirectory("annstream").toString
    val idxDir = s"$tmp/index"; val inDir = s"$tmp/in"; val ck = s"$tmp/ck"
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val fresh = emb.filter(col("vec_id") % 5 === 0)
    AnnIndex.save(AnnIndex.build(old, "vec_id", "embedding", 8), idxDir)
    fresh.write.parquet(inDir)
    val stream = spark.readStream.schema(fresh.schema).parquet(inDir)
    val q = graft.streaming.StreamingAnn.maintain(
      stream, idxDir, "vec_id", "embedding", ck)
    q.processAllAvailable(); q.stop()
    val idx = graft.streaming.StreamingAnn.current(spark, idxDir)
    assert(idx.assignments.count() === emb.count())
    // with every cluster probed, a streamed row's top-1 is itself
    val res = AnnIndex.search(idx, fresh.limit(3), "vec_id", "embedding", 1,
      AnnIndex.SearchConfig(clusterSearchFactor = 8.0)).collect()
    assert(res.length === 3)
    assert(res.forall(r => r.getAs[Long]("qid") == r.getAs[Long]("id")), res.mkString(";"))
  }

  test("streaming text-index maintenance: appended segments merge to the full rebuild") {
    import graft.streaming.StreamingText
    val tmp = java.nio.file.Files.createTempDirectory("textstream").toString
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    // batch-built base; the stream appends segments on top of it
    Bm25.save(spark, old, "doc_id", "text", s"$tmp/bm25")
    // base postings seed as a batch=base segment — the streamed dir's layout
    graft.streaming.Lsm.absorbSegment(
      InvertedIndex.build(old, "doc_id", "text"), s"$tmp/inv/postings", "base")
    fresh.write.parquet(s"$tmp/in")
    val q1 = StreamingText.maintainBm25(
      spark.readStream.schema(fresh.schema).parquet(s"$tmp/in"),
      s"$tmp/bm25", "doc_id", "text", s"$tmp/ck1")
    q1.processAllAvailable(); q1.stop()
    val q2 = StreamingText.maintainInverted(
      spark.readStream.schema(fresh.schema).parquet(s"$tmp/in"),
      s"$tmp/inv", "doc_id", "text", s"$tmp/ck2")
    q2.processAllAvailable(); q2.stop()

    val inc = StreamingText.currentInverted(spark, s"$tmp/inv")
    val full = InvertedIndex.build(docs, "doc_id", "text")
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)

    val terms = Seq("spark", "join", "data")
    def scores(ix: Bm25.Index) = Bm25.scoreWithIndex(ix, terms)
      .select(col("doc_id"), round(col("score"), 9).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(scores(StreamingText.currentBm25(spark, s"$tmp/bm25")) ===
      scores(Bm25.buildIndex(docs, "doc_id", "text")))
  }

  test("streaming heavy hitters: merged segments keep true heavies within the MG bound") {
    import graft.streaming.StreamingSketch
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hhstream").toString
    val k = 16
    // three "batches" of planted-heavy + uniform-tail traffic
    val mkBatch = (b: Int) =>
      (Seq.fill(300)(s"hot_a") ++ Seq.fill(200)(s"hot_b") ++
        (1 to 500).map(i => s"cold_${b}_${i % 250}")).map(Tuple1(_))
    (0 until 3).foreach { b =>
      mkBatch(b).toDF("item").write.mode("append").parquet(s"$tmp/in")
    }
    val q = StreamingSketch.maintainHeavyHitters(
      spark.readStream.schema("item STRING")
        .option("maxFilesPerTrigger", 2).parquet(s"$tmp/in"),
      s"$tmp/hh", "item", k, s"$tmp/ck")
    q.processAllAvailable(); q.stop()

    val got = StreamingSketch.currentHeavyHitters(spark, s"$tmp/hh", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size <= k)
    val n = 3L * (300 + 200 + 500)
    val bound = 2 * n / (k + 1)
    // true heavies (900, 600 >> bound) must survive with counts in
    // [true - bound, true]
    Seq("hot_a" -> 900L, "hot_b" -> 600L).foreach { case (item, truth) =>
      assert(got.contains(item), s"$item missing from $got")
      assert(got(item) <= truth && got(item) >= truth - bound,
        s"$item estimate ${got(item)} outside [${truth - bound}, $truth]")
    }
    // compaction preserves the merged summary
    StreamingSketch.compact(spark, s"$tmp/hh", k)
    val after = StreamingSketch.currentHeavyHitters(spark, s"$tmp/hh", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == got)
    // crash between swapIn's two moves (live dir gone, __compact fully
    // written): the next READER must complete the swap, not throw
    // PATH_NOT_FOUND forever
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$tmp/hh"),
      java.nio.file.Paths.get(s"$tmp/hh__compact"))
    val recovered = StreamingSketch.currentHeavyHitters(spark, s"$tmp/hh", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(recovered == got, "reader did not recover the interrupted swap")
  }

  test("streaming percentiles: merged summaries track exact quantiles within 1/B") {
    import graft.streaming.StreamingSketch
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pctstream").toString
    val B = 64
    // three batches from DIFFERENT ranges, so no single batch's summary
    // can answer alone: [0,1000), [1000,3000), [3000,6000)
    val batches = Seq(
      (0 until 1000).map(_.toDouble),
      (0 until 2000).map(i => 1000.0 + i),
      (0 until 3000).map(i => 3000.0 + i))
    batches.foreach(b =>
      b.map(Tuple1(_)).toDF("v").write.mode("append").parquet(s"$tmp/in"))
    val q = StreamingSketch.maintainPercentiles(
      spark.readStream.schema("v DOUBLE")
        .option("maxFilesPerTrigger", 2).parquet(s"$tmp/in"),
      s"$tmp/pct", "v", B, s"$tmp/ck")
    q.processAllAvailable(); q.stop()

    val all = batches.flatten.sorted
    val n = all.length
    def trueRank(v: Double): Double = all.count(_ <= v).toDouble / n
    val ps = Seq(0.1, 0.5, 0.9, 0.99)
    val got = StreamingSketch.currentPercentiles(spark, s"$tmp/pct", ps)
    // rank error bound: 1/B equi-depth discretization + sketch slack
    val eps = 2.0 / B
    ps.foreach { p =>
      val r = trueRank(got(p))
      assert(math.abs(r - p) <= eps,
        s"p=$p returned ${got(p)} at true rank $r (|err| > $eps)")
    }
    // compaction folds B x batches rows back to B, same answers within bound
    StreamingSketch.compactPercentiles(spark, s"$tmp/pct", B)
    assert(spark.read.parquet(s"$tmp/pct").count() == B)
    val after = StreamingSketch.currentPercentiles(spark, s"$tmp/pct", ps)
    ps.foreach { p =>
      val r = trueRank(after(p))
      assert(math.abs(r - p) <= 2 * eps,
        s"post-compaction p=$p at true rank $r (|err| > ${2 * eps})")
    }
  }

  test("streaming KMV corpus overlap: maintained matrix == batch sketch; compaction preserves") {
    import graft.streaming.StreamingSketch
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("kmvstream").toString
    val k = 64
    // write the corpus as three arrival batches, split ACROSS sources
    // so no single batch sees a whole source's shingle set
    (0 until 3).foreach { b =>
      docs.filter(col("doc_id") % 3 === b)
        .select(col("source"), col("text"))
        .write.mode("append").parquet(s"$tmp/in")
    }
    val q = StreamingSketch.maintainKmvOverlap(
      spark.readStream.schema("source STRING, text STRING")
        .option("maxFilesPerTrigger", 2).parquet(s"$tmp/in"),
      s"$tmp/kmv", "source", "text", k, s"$tmp/ck")
    q.processAllAvailable(); q.stop()

    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val streamed = m(StreamingSketch.currentKmvOverlap(spark, s"$tmp/kmv", k))
    val batch = m(Dedup.corpusOverlapSketch(docs, "source", "text", k))
    assert(streamed === batch,
      s"diverged on ${batch.keySet.filter(p => streamed.get(p) != batch.get(p)).take(3)}")
    // compaction folds segments to |sources| x k rows, same matrix
    StreamingSketch.compactKmvOverlap(spark, s"$tmp/kmv", k)
    assert(m(StreamingSketch.currentKmvOverlap(spark, s"$tmp/kmv", k)) === batch)
  }

  test("inverted index: append equals full rebuild") {
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val incremental = InvertedIndex.append(
      InvertedIndex.build(old, "doc_id", "text"), fresh, "doc_id", "text")
    val full = InvertedIndex.build(docs, "doc_id", "text")
    assert(incremental.exceptAll(full).isEmpty && full.exceptAll(incremental).isEmpty)
  }

  test("bm25 index: append merges stats exactly (scores match full rebuild)") {
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val incremental = Bm25.appendToIndex(
      Bm25.buildIndex(old, "doc_id", "text"), fresh, "doc_id", "text")
    val full = Bm25.buildIndex(docs, "doc_id", "text")
    val terms = Seq("spark", "join", "data")
    def scores(ix: Bm25.Index) = Bm25.scoreWithIndex(ix, terms)
      .select(col("doc_id"), round(col("score"), 9).as("score"))
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(scores(incremental) === scores(full))
  }

  test("ann index: absorbed vectors are findable at full recall for self-queries") {
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val fresh = emb.filter(col("vec_id") % 5 === 0)
    val idx = AnnIndex.appendAssign(
      AnnIndex.build(old, "vec_id", "embedding", nClusters = 8),
      fresh, "vec_id", "embedding")
    assert(idx.assignments.count() === emb.count())
    // a self-query's nearest neighbor is itself (cos = 1): every absorbed
    // vector must surface in its own top-1
    val queries = fresh.limit(20).select(col("vec_id"), col("embedding"))
    val top1 = AnnIndex.search(idx, queries, "vec_id", "embedding", k = 1)
      .select(col("qid"), col("id")).collect()
    assert(top1.nonEmpty)
    assert(top1.forall(r => r.getLong(0) === r.getLong(1)))
  }

  test("inverted index: delete equals rebuild without the deleted docs") {
    val dead = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
    val pruned = InvertedIndex.delete(
      InvertedIndex.build(docs, "doc_id", "text"), dead, "doc_id")
    val rebuilt = InvertedIndex.build(
      docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
    assert(pruned.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(pruned).isEmpty)
  }

  test("bm25 index: delete un-mixes stats exactly (scores match rebuild)") {
    val survivors = docs.filter(col("doc_id") % 5 =!= 0)
    val dead = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
    val pruned = Bm25.deleteFromIndex(
      Bm25.buildIndex(docs, "doc_id", "text"), dead, "doc_id")
    val rebuilt = Bm25.buildIndex(survivors, "doc_id", "text")
    val terms = Seq("spark", "join", "data")
    def scores(ix: Bm25.Index) = Bm25.scoreWithIndex(ix, terms)
      .select(col("doc_id"), round(col("score"), 9).as("score"))
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(scores(pruned) === scores(rebuilt))
    // the dictionary drops terms that lived only in deleted docs
    val prunedTerms = pruned.termDf.select("term")
    val rebuiltTerms = rebuilt.termDf.select("term")
    assert(prunedTerms.exceptAll(rebuiltTerms).isEmpty &&
      rebuiltTerms.exceptAll(prunedTerms).isEmpty)
  }

  test("ann index: deleted vectors never surface; survivors keep self-recall") {
    val idx = AnnIndex.build(emb, "vec_id", "embedding", nClusters = 8)
    val dead = emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
    val pruned = AnnIndex.deleteAssign(idx, dead, "vec_id")
    assert(pruned.assignments.count() ===
      emb.filter(col("vec_id") % 5 =!= 0).count())
    // deleted ids are gone from every probe, even exhaustive ones
    val deadQueries = emb.filter(col("vec_id") % 5 === 0).limit(10)
      .select(col("vec_id"), col("embedding"))
    val res = AnnIndex.search(pruned, deadQueries, "vec_id", "embedding", k = 3,
      AnnIndex.SearchConfig(clusterSearchFactor = 8.0)).collect()
    assert(res.nonEmpty)
    assert(res.forall(r => r.getAs[Long]("id") % 5 != 0))
    // survivors still find themselves at rank 1
    val alive = emb.filter(col("vec_id") % 5 =!= 0).limit(10)
      .select(col("vec_id"), col("embedding"))
    val self = AnnIndex.search(pruned, alive, "vec_id", "embedding", k = 1,
      AnnIndex.SearchConfig(clusterSearchFactor = 8.0)).collect()
    assert(self.forall(r => r.getAs[Long]("qid") == r.getAs[Long]("id")))
  }

  test("streaming near-dup: accumulated pairs equal the single-shot batch LSH") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("neardupstream").toString
    // planted corpus: doc i and doc 100+i share 40 words except the
    // last (3-shingle jaccard ~ 0.854 >= 0.8); vocab is per-pair so
    // unrelated docs share nothing. The two halves land in separate
    // micro-batches, so every true pair is CROSS-batch; a third file
    // adds batch-INTERNAL pairs (ids 200/201 duplicate each other).
    def words(i: Int, n: Int) = (1 to n).map(j => s"d${i}_w$j")
    val half1 = (1 to 15).map(i => (i.toLong, words(i, 40).mkString(" ")))
    val half2 = (1 to 15).map(i =>
      ((100 + i).toLong, (words(i, 39) :+ s"d${i}_CHANGED").mkString(" ")))
    val half3 = Seq(
      (200L, words(999, 40).mkString(" ")),
      (201L, (words(999, 39) :+ "d999_CHANGED").mkString(" ")))
    half1.toDF("doc_id", "text").repartition(1).write.parquet(s"$tmp/in/f=1")
    half2.toDF("doc_id", "text").repartition(1).write.parquet(s"$tmp/in/f=2")
    half3.toDF("doc_id", "text").repartition(1).write.parquet(s"$tmp/in/f=3")
    val all = (half1 ++ half2 ++ half3).toDF("doc_id", "text")

    val q = graft.streaming.StreamingDedup.maintainNearDup(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*"),
      s"$tmp/nd", "doc_id", "text", threshold = 0.8, s"$tmp/ck")
    q.processAllAvailable(); q.stop()

    val got = graft.streaming.StreamingDedup.currentPairs(spark, s"$tmp/nd")
      .select("id_a", "id_b", "jac").distinct()
    val want = graft.operators.Dedup
      .minhashLshPairs(all, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b", "jac")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"stream=${got.collect().toSeq} batch=${want.collect().toSeq}")
    // and the planted pairs really are found
    assert(got.count() >= 10)
    // stream-accumulated components equal the batch components
    val gotCc = graft.streaming.StreamingDedup
      .currentComponents(spark, s"$tmp/nd")
    val wantCc = graft.operators.Dedup.connectedComponents(want, "id_a", "id_b")
    assert(gotCc.exceptAll(wantCc).isEmpty && wantCc.exceptAll(gotCc).isEmpty)
  }

  test("streaming exact dedup: history-wide, first arrival wins, no state store") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("exdedupstream").toString
    // duplicate texts WITHIN a file and ACROSS files
    Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("doc_id", "text").repartition(1).write.parquet(s"$tmp/in/f=1")
    Seq((10L, "beta"), (11L, "gamma"), (12L, "gamma"))
      .toDF("doc_id", "text").repartition(1).write.parquet(s"$tmp/in/f=2")
    val q = graft.streaming.StreamingDedup.maintainExactDedup(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*"),
      s"$tmp/xd", "doc_id", "text", s"$tmp/ck")
    q.processAllAvailable(); q.stop()
    val uniq = graft.streaming.StreamingDedup.currentUnique(spark, s"$tmp/xd")
      .collect().map(r => r.getAs[String]("text") -> r.getAs[Long]("doc_id"))
    // one survivor per distinct text, and the keeper is the min id of
    // its earliest batch (within-batch keeper = min id)
    assert(uniq.map(_._1).sorted.toSeq == Seq("alpha", "beta", "gamma"))
    assert(uniq.toMap.get("alpha").contains(1L))
    assert(uniq.toMap.get("gamma").contains(11L))
  }

  test("streaming text-index delete: mid-stream tombstones == rebuild without; compaction drops them") {
    import graft.streaming.StreamingText
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("textdel").toString
    val b1 = docs.filter(col("doc_id") % 3 === 0)
    val b2 = docs.filter(col("doc_id") % 3 === 1)
    def run(in: String, ck: String): Unit = {
      val s1 = StreamingText.maintainBm25(
        spark.readStream.schema(b1.schema).parquet(in),
        s"$tmp/bm25", "doc_id", "text", s"$ck/bm")
      s1.processAllAvailable(); s1.stop()
      val s2 = StreamingText.maintainInverted(
        spark.readStream.schema(b1.schema).parquet(in),
        s"$tmp/inv", "doc_id", "text", s"$ck/inv")
      s2.processAllAvailable(); s2.stop()
    }
    b1.write.parquet(s"$tmp/in1"); run(s"$tmp/in1", s"$tmp/ck1")
    // MID-STREAM delete: some batch-1 docs + a non-existent id (no-op)
    val dead = docs.filter(col("doc_id") % 6 === 0).select(col("doc_id"))
      .unionByName(Seq(-999L).toDF("doc_id"))
    StreamingText.delete(spark, s"$tmp/bm25", dead, "doc_id")
    StreamingText.delete(spark, s"$tmp/inv", dead, "doc_id")
    b2.write.parquet(s"$tmp/in2"); run(s"$tmp/in2", s"$tmp/ck2")

    val survivors = docs.filter(
      (col("doc_id") % 3 === 0 || col("doc_id") % 3 === 1) &&
        col("doc_id") % 6 =!= 0)
    val wantInv = InvertedIndex.build(survivors, "doc_id", "text")
    def checkBoth(): Unit = {
      val gotInv = StreamingText.currentInverted(spark, s"$tmp/inv")
      assert(gotInv.exceptAll(wantInv).isEmpty && wantInv.exceptAll(gotInv).isEmpty)
      val terms = Seq("spark", "join", "data")
      def scores(ix: Bm25.Index) = Bm25.scoreWithIndex(ix, terms)
        .select(col("doc_id"), round(col("score"), 9).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(scores(StreamingText.currentBm25(spark, s"$tmp/bm25")) ===
        scores(Bm25.buildIndex(survivors, "doc_id", "text")))
    }
    checkBoth()
    // compaction folds segments + tombstones into one and drops them
    StreamingText.compactInverted(spark, s"$tmp/inv")
    StreamingText.compactBm25(spark, s"$tmp/bm25")
    assert(!new java.io.File(s"$tmp/inv/tombstones").exists())
    assert(!new java.io.File(s"$tmp/bm25/tombstones").exists())
    checkBoth()
  }

  test("maintainer state on a file:// URI: full lifecycle through Hadoop FileSystem (no java.nio path remains)") {
    // the whole LSM protocol — absorb, tombstone existence checks,
    // swap/recover/commit-marker moves — addressed by URI, which
    // java.io.File/java.nio cannot resolve: any leftover local-path
    // assumption fails this test loudly instead of silently no-oping
    // (the pre-port hazard requireLocal existed to guard)
    import graft.streaming.{Lsm, StreamingText}
    import spark.implicits._
    val local = java.nio.file.Files.createTempDirectory("uristate")
    val tmp = "file://" + local.toString
    val b1 = docs.filter(col("doc_id") % 3 === 0)
    b1.write.parquet(s"$tmp/in1")
    val q = StreamingText.maintainBm25(
      spark.readStream.schema(b1.schema).parquet(s"$tmp/in1"),
      s"$tmp/bm25", "doc_id", "text", s"$tmp/ck")
    q.processAllAvailable(); q.stop()
    val dead = b1.filter(col("doc_id") % 6 === 0).select(col("doc_id"))
    StreamingText.delete(spark, s"$tmp/bm25", dead, "doc_id")
    assert(Lsm.exists(s"$tmp/bm25/tombstones"),
      "tombstone existence must resolve through the URI")
    StreamingText.compactBm25(spark, s"$tmp/bm25")
    assert(!Lsm.exists(s"$tmp/bm25/tombstones"),
      "compaction must drop tombstones through the URI")
    val survivors = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 6 =!= 0)
    val terms = Seq("spark", "join", "data")
    def scores(ix: Bm25.Index) = Bm25.scoreWithIndex(ix, terms)
      .select(col("doc_id"), round(col("score"), 9).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(scores(StreamingText.currentBm25(spark, s"$tmp/bm25")) ===
      scores(Bm25.buildIndex(survivors, "doc_id", "text")))
    // bare swap/recover protocol on URIs: interrupted-swap repair works
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$tmp/seg__compact/batch=compact")
    Lsm.recover(s"$tmp", "seg") // live missing + compact present -> completes
    assert(Lsm.exists(s"$tmp/seg") && !Lsm.exists(s"$tmp/seg__compact"))
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$tmp/seg__compact/batch=compact")
    Lsm.swapIn(s"$tmp", "seg") // live present -> trash dance, then replace
    assert(Lsm.readSegments(spark, s"$tmp/seg").as[(Long, String)].collect()
      .toSeq === Seq((2L, "b")))
    assert(!Lsm.exists(s"$tmp/seg__trash"))
    Lsm.resetDir(tmp)
    assert(!Lsm.exists(tmp))
  }

  test("streaming ANN delete: tombstoned vectors never surface; compaction drops them") {
    val tmp = java.nio.file.Files.createTempDirectory("anndel").toString
    val idxDir = s"$tmp/index"
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val fresh = emb.filter(col("vec_id") % 5 === 0)
    AnnIndex.save(AnnIndex.build(old, "vec_id", "embedding", 8), idxDir)
    fresh.write.parquet(s"$tmp/in")
    val q = graft.streaming.StreamingAnn.maintain(
      spark.readStream.schema(fresh.schema).parquet(s"$tmp/in"),
      idxDir, "vec_id", "embedding", s"$tmp/ck")
    q.processAllAvailable(); q.stop()
    // delete spans BOTH the base build and the absorbed stream
    val dead = emb.filter(col("vec_id") % 10 === 0).select(col("vec_id"))
    graft.streaming.StreamingAnn.delete(spark, idxDir, dead, "vec_id")
    def check(): Unit = {
      val idx = graft.streaming.StreamingAnn.current(spark, idxDir)
      assert(idx.assignments.count() ===
        emb.filter(col("vec_id") % 10 =!= 0).count())
      val deadQ = emb.filter(col("vec_id") % 10 === 0).limit(10)
        .select(col("vec_id"), col("embedding"))
      val res = AnnIndex.search(idx, deadQ, "vec_id", "embedding", k = 3,
        AnnIndex.SearchConfig(clusterSearchFactor = 8.0)).collect()
      assert(res.nonEmpty)
      assert(res.forall(r => r.getAs[Long]("id") % 10 != 0))
    }
    check()
    graft.streaming.StreamingAnn.compact(spark, idxDir)
    assert(!new java.io.File(s"$idxDir/tombstones").exists())
    check()
  }

  test("streaming CDC view: any batch split == batch latestSnapshot; as-of delete forgets then re-opens") {
    import graft.streaming.StreamingCdc
    import graft.operators.EventAnalytics
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cdc").toString
    def run(rows: Seq[(Long, String, Long, String)], in: String, ck: String): Unit = {
      rows.toDF("id", "key", "ord", "state").write.parquet(in)
      val q = StreamingCdc.maintain(
        spark.readStream.schema("id LONG, key STRING, ord LONG, state STRING").parquet(in),
        s"$tmp/v", Seq("key"), "ord", "id", ck)
      q.processAllAvailable(); q.stop()
    }
    run(Seq((1L, "a", 10L, "a1"), (2L, "b", 10L, "b1"), (3L, "a", 20L, "a2")),
      s"$tmp/in1", s"$tmp/ck1")
    run(Seq((4L, "b", 30L, "b2"), (5L, "c", 5L, "c1")), s"$tmp/in2", s"$tmp/ck2")
    def view(): Map[String, String] =
      StreamingCdc.current(spark, s"$tmp/v", Seq("key"), "ord", "id")
        .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("state")).toMap
    assert(view() === Map("a" -> "a2", "b" -> "b2", "c" -> "c1"))
    // forget 'a' up to ord 25: vanishes now...
    StreamingCdc.delete(spark, s"$tmp/v", Seq("a").toDF("key"), "key", asOf = 25L)
    assert(view() === Map("b" -> "b2", "c" -> "c1"))
    // ...but a LATER arrival re-opens it with only the new state
    run(Seq((6L, "a", 30L, "a3")), s"$tmp/in3", s"$tmp/ck3")
    assert(view() === Map("a" -> "a3", "b" -> "b2", "c" -> "c1"))
    // compaction folds segments + tombstones into one and drops them
    StreamingCdc.compact(spark, s"$tmp/v", Seq("key"), "ord", "id")
    assert(!new java.io.File(s"$tmp/v/tombstones").exists())
    assert(view() === Map("a" -> "a3", "b" -> "b2", "c" -> "c1"))
    // the streamed view == the batch operator over the surviving log
    val batch = EventAnalytics.latestSnapshot(
      Seq((2L, "b", 10L, "b1"), (4L, "b", 30L, "b2"), (5L, "c", 5L, "c1"),
        (6L, "a", 30L, "a3")).toDF("id", "key", "ord", "state"),
      Seq("key"), "ord", "id")
      .collect().map(r => r.getAs[String]("key") -> r.getAs[String]("state")).toMap
    assert(view() === batch)
  }

  test("streaming exact-dedup delete: tombstoned keeper re-opens its hash (== rebuild without)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("exdel").toString
    def run(in: String, ck: String): Unit = {
      val q = graft.streaming.StreamingDedup.maintainExactDedup(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(in),
        s"$tmp/xd", "doc_id", "text", ck)
      q.processAllAvailable(); q.stop()
    }
    Seq((1L, "alpha"), (2L, "beta"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/in1")
    run(s"$tmp/in1", s"$tmp/ck1")
    // forget doc 1 mid-stream: its hash must re-open
    graft.streaming.StreamingDedup.deleteFromExactDedup(
      spark, s"$tmp/xd", Seq(1L).toDF("doc_id"), "doc_id")
    Seq((10L, "alpha"), (11L, "beta"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/in2")
    run(s"$tmp/in2", s"$tmp/ck2")
    def check(): Unit = {
      val uniq = graft.streaming.StreamingDedup
        .currentUnique(spark, s"$tmp/xd", "doc_id")
        .collect().map(r => r.getAs[String]("text") -> r.getAs[Long]("doc_id"))
        .toMap
      // rebuild-without(1): alpha re-admitted as 10, beta keeps 2 (11 dropped)
      assert(uniq === Map("alpha" -> 10L, "beta" -> 2L))
    }
    check()
    graft.streaming.StreamingDedup.compactExactDedup(spark, s"$tmp/xd", "doc_id")
    assert(!new java.io.File(s"$tmp/xd/tombstones").exists())
    check()
  }

  test("streaming KN counts: mid-corpus split scores == inline over the full corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("knstream").toString
    val vocab = Seq("the", "cat", "sat", "on", "mat", "a", "dog", "ran")
    def sent(i: Int) = (0 until 6).map(j => vocab((i * 7 + j * 3) % vocab.size)).mkString(" ")
    val half1 = (1 to 40).map(i => (i.toLong, sent(i)))
    val half2 = (41 to 70).map(i => (i.toLong, sent(i * 11)))
    half1.toDF("doc_id", "text").repartition(1).write.parquet(s"$tmp/in/f=1")
    half2.toDF("doc_id", "text").repartition(1).write.parquet(s"$tmp/in/f=2")
    val probes = (1 to 15).map(i => (i.toLong, sent(i * 5 + 2))).toDF("doc_id", "text")

    val q = graft.streaming.StreamingLm.maintainKnCounts(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*"),
      "text", s"$tmp/kn", s"$tmp/ck")
    q.processAllAvailable(); q.stop()

    val streamed = graft.streaming.StreamingLm
      .currentScores(spark, s"$tmp/kn", probes, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("kn_bits")).toMap
    val inline = graft.operators.TextAnalysis.knBigramLmScore(
      (half1 ++ half2).toDF("doc_id", "text"), probes, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("kn_bits")).toMap
    assert(streamed.keySet === inline.keySet)
    streamed.foreach { case (id, b) =>
      assert(math.abs(b - inline(id)) < 1e-9, s"doc $id: $b vs ${inline(id)}")
    }
  }

  test("at-least-once replay: re-delivered batches leave every maintainer's state EXACTLY unchanged") {
    import spark.implicits._
    // foreachBatch is at-least-once: a crash between the sink write and
    // the offset commit re-delivers the batch. Every absorb is keyed by
    // batch id, so the replay must REWRITE its own segment — algebraic
    // state (counts, stats, sketches) would otherwise double silently.
    val tmp = java.nio.file.Files.createTempDirectory("replay").toString

    // near-dup LSH: batch 0 then batch 1, then batch 1 REPLAYED
    val b0 = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "totally unrelated content about spark plans and shuffles here"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "fresh unique text that matches nothing else in the corpus"))
      .toDF("doc_id", "text")
    def lshState = (
      graft.streaming.StreamingDedup.currentPairs(spark, s"$tmp/lsh")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      spark.read.parquet(s"$tmp/lsh/postings").count(),
      spark.read.parquet(s"$tmp/lsh/shingles").count())
    graft.streaming.StreamingDedup.absorbNearDupBatch(
      b0, "b0", s"$tmp/lsh", "doc_id", "text", 0.5, 8, 2)
    graft.streaming.StreamingDedup.absorbNearDupBatch(
      b1, "b1", s"$tmp/lsh", "doc_id", "text", 0.5, 8, 2)
    val lshOnce = lshState
    assert(lshOnce._1.contains((1L, 3L)), "planted cross-batch pair found")
    graft.streaming.StreamingDedup.absorbNearDupBatch(
      b1, "b1", s"$tmp/lsh", "doc_id", "text", 0.5, 8, 2) // replay
    assert(lshState === lshOnce, "near-dup replay changed state")

    // chunk dedup: the replay must NOT see its own hashes as "seen"
    // (that would rebuild every doc empty) nor duplicate doc rows
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val c0 = Seq((1L, s"$boiler alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val c1 = Seq((2L, s"$boiler iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "text")
    def chunker(b: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.chunkTokens(b, "doc_id", "text", 4, 0)
        .select(col("doc_id").as("id"), col("chunk_idx"), col("chunk_text"))
    def chunkState = graft.streaming.StreamingDedup
      .currentChunkDeduped(spark, s"$tmp/chunks")
      .collect().map(r => (r.getLong(0), r.getAs[String]("text_clean"),
        r.getLong(r.fieldIndex("n_kept")))).sortBy(_._1).toSeq
    graft.streaming.StreamingDedup.absorbChunkBatch(c0, "b0", s"$tmp/chunks", chunker, " ")
    graft.streaming.StreamingDedup.absorbChunkBatch(c1, "b1", s"$tmp/chunks", chunker, " ")
    val chunkOnce = chunkState
    assert(chunkOnce.length === 2 && chunkOnce(1)._2 != null
      && !chunkOnce(1)._2.contains("b1 b2 b3 b4"), "doc 2 lost the shared boilerplate chunks")
    graft.streaming.StreamingDedup.absorbChunkBatch(c1, "b1", s"$tmp/chunks", chunker, " ") // replay
    assert(chunkState === chunkOnce, "chunk-dedup replay changed state")

    // exact dedup: replay must not duplicate dir/unique (the seen-set
    // view excludes the replay's own segment, so survivors recompute
    // identically and REWRITE, never append a second copy)
    val e0 = Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text")
    val e1 = Seq((4L, "same text"), (5L, "brand new text")).toDF("doc_id", "text")
    def xdState = graft.streaming.StreamingDedup
      .currentUnique(spark, s"$tmp/xd", "doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    graft.streaming.StreamingDedup.absorbExactDedupBatch(e0, "b0", s"$tmp/xd", "doc_id", "text")
    graft.streaming.StreamingDedup.absorbExactDedupBatch(e1, "b1", s"$tmp/xd", "doc_id", "text")
    val xdOnce = xdState
    assert(xdOnce === Seq(1L, 3L, 5L), "first-arrival keepers")
    graft.streaming.StreamingDedup.absorbExactDedupBatch(e1, "b1", s"$tmp/xd", "doc_id", "text") // replay
    assert(xdState === xdOnce, "exact-dedup replay changed state")
    // crash BETWEEN the unique and hashes writes: batch 1's hashes
    // segment is lost, the batch re-delivers, state must converge
    graft.streaming.Lsm.rmTree(new org.apache.hadoop.fs.Path(s"$tmp/xd/hashes/batch=b1"))
    graft.streaming.StreamingDedup.absorbExactDedupBatch(e1, "b1", s"$tmp/xd", "doc_id", "text")
    assert(xdState === xdOnce, "partial-crash replay changed state")

    // near-dup batch-0 wedge: a first delivery that crashed AFTER the
    // postings absorb but BEFORE the shingles absorb leaves postings
    // without shingles — the replay must not PATH_NOT_FOUND forever
    val w0 = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "totally unrelated content about spark plans and shuffles here"))
      .toDF("doc_id", "text")
    graft.streaming.StreamingDedup.absorbNearDupBatch(
      w0, "b0", s"$tmp/wedge", "doc_id", "text", 0.5, 8, 2)
    val wedgeOnce = spark.read.parquet(s"$tmp/wedge/postings").count()
    graft.streaming.Lsm.rmTree(new org.apache.hadoop.fs.Path(s"$tmp/wedge/shingles"))
    graft.streaming.StreamingDedup.absorbNearDupBatch(
      w0, "b0", s"$tmp/wedge", "doc_id", "text", 0.5, 8, 2) // replay
    assert(spark.read.parquet(s"$tmp/wedge/postings").count() === wedgeOnce
      && spark.read.parquet(s"$tmp/wedge/shingles").count() > 0,
      "batch-0 partial-crash replay did not converge")

    // streaming boilerplate dedup: cross-batch df accumulation with
    // arrival-time semantics, and replay-exactness
    {
      val banner = "accept all cookies to continue reading this site"
      def chunker(b: org.apache.spark.sql.DataFrame) =
        graft.operators.TextAnalysis.chunkTokens(b, "doc_id", "text", 8, 0)
          .select(col("doc_id").as("id"), col("chunk_idx"), col("chunk_text"))
      def docs(ids: Seq[Long]) =
        ids.map(i => (i, s"$banner unique tail for document number $i here x$i y$i z$i"))
          .toDF("doc_id", "text")
      // regime 1: every batch alone reaches minDf -> streamed == batch op
      val bb0 = docs(Seq(1L, 2L)); val bb1 = docs(Seq(3L, 4L))
      def bState(dir: String) = graft.streaming.StreamingDedup
        .currentBoilerplateDeduped(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[String]("text_clean"))).sortBy(_._1).toSeq
      graft.streaming.StreamingDedup.absorbBoilerplateBatch(
        bb0, "b0", s"$tmp/bp", chunker, " ", 2)
      graft.streaming.StreamingDedup.absorbBoilerplateBatch(
        bb1, "b1", s"$tmp/bp", chunker, " ", 2)
      val streamed = bState(s"$tmp/bp")
      val batchOp = graft.operators.Dedup.boilerplateDedupFrom(
          chunker(docs(Seq(1L, 2L, 3L, 4L))), " ", 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[String]("text_clean"))).sortBy(_._1).toSeq
      assert(streamed === batchOp, "per-batch-saturated streamed != batch operator")
      assert(streamed.forall(r => r._4 == null || !r._4.contains("accept all")),
        "banner must be gone from every doc")
      // replay-exactness
      graft.streaming.StreamingDedup.absorbBoilerplateBatch(
        bb1, "b1", s"$tmp/bp", chunker, " ", 2)
      assert(bState(s"$tmp/bp") === streamed, "boilerplate replay changed state")
      // regime 2: arrival-time — the first arrival keeps the chunk, the
      // one that crosses the threshold loses it
      graft.streaming.StreamingDedup.absorbBoilerplateBatch(
        docs(Seq(10L)), "b0", s"$tmp/bp2", chunker, " ", 2)
      graft.streaming.StreamingDedup.absorbBoilerplateBatch(
        docs(Seq(11L)), "b1", s"$tmp/bp2", chunker, " ", 2)
      val arr = bState(s"$tmp/bp2").map { case (id, _, _, t) => id -> t }.toMap
      assert(arr(10L).contains("accept all"), "pre-threshold doc keeps the chunk")
      assert(!arr(11L).contains("accept all"), "threshold-crossing doc loses it")
      // exempt chunks (blank lines = structure) survive even past minDf,
      // mirroring the batch operator's lineDedup posture
      val lineChunker = (b: org.apache.spark.sql.DataFrame) =>
        b.select(col("doc_id").as("id"),
          posexplode(split(col("text"), "\n")).as(Seq("chunk_idx", "chunk_text")))
      graft.streaming.StreamingDedup.absorbBoilerplateBatch(
        Seq((20L, "cookie notice\n\nunique a"), (21L, "cookie notice\n\nunique b"))
          .toDF("doc_id", "text"),
        "b0", s"$tmp/bp3", lineChunker, "\n", 2,
        exempt = trim(col("chunk_text")) === "")
      val ln = bState(s"$tmp/bp3").map { case (id, _, _, t) => id -> t }.toMap
      assert(ln(20L) === "\nunique a" && ln(21L) === "\nunique b",
        s"blank line must survive, banner must not: $ln")
    }

    // KN counts: algebraic sums — replay must not double (also gated in
    // AuditSpec; here against the streaming maintainer's reader)
    graft.operators.TextAnalysis.writeKnCounts(c0, "text", s"$tmp/kn")
    graft.operators.TextAnalysis.absorbKnCounts(c1, "text", s"$tmp/kn", "b1")
    val knOnce = graft.operators.TextAnalysis.readKnCounts(spark, s"$tmp/kn")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    graft.operators.TextAnalysis.absorbKnCounts(c1, "text", s"$tmp/kn", "b1") // replay
    assert(graft.operators.TextAnalysis.readKnCounts(spark, s"$tmp/kn")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
      === knOnce, "KN replay double-counted")

    // add-α LM counts (bigram + unigram sub-dirs): scoring from the
    // maintained state equals the one-shot inline form EXACTLY —
    // q_ccnet_buckets serves from this artifact on that guarantee —
    // and cross-batch absorbs + replay converge to the whole-corpus
    // write
    {
      val TA = graft.operators.TextAnalysis
      val full = c0.unionByName(c1)
      TA.writeLmCounts(full, "text", s"$tmp/lm")
      def scored(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
      val fromState = scored(TA.bigramLmFromCounts(
        TA.readLmBigrams(spark, s"$tmp/lm"), TA.readLmUnigrams(spark, s"$tmp/lm"),
        full, "doc_id", "text"))
      val inline = scored(TA.bigramLmScore(full, full, "doc_id", "text"))
      assert(fromState === inline, "maintained-state add-α scores != inline")
      // split absorb + at-least-once replay converge to the same state
      TA.writeLmCounts(c0, "text", s"$tmp/lm2")
      TA.absorbLmCounts(c1, "text", s"$tmp/lm2", "b1")
      TA.absorbLmCounts(c1, "text", s"$tmp/lm2", "b1") // replay
      val split = scored(TA.bigramLmFromCounts(
        TA.readLmBigrams(spark, s"$tmp/lm2"), TA.readLmUnigrams(spark, s"$tmp/lm2"),
        full, "doc_id", "text"))
      assert(split === inline, "split-absorb add-α state diverged (or replay double-counted)")
    }
  }

  test("streaming uniform sample: merged reservoir == batch bottom-k for any split; replay + compaction exact; append-stable") {
    import spark.implicits._
    val S = graft.streaming.StreamingSketch
    val tmp = java.nio.file.Files.createTempDirectory("urstream").toString
    val all = (0L until 500L).map(i => (i, s"payload-$i")).toDF("doc_id", "text")
    def batchSample(df: org.apache.spark.sql.DataFrame, k: Int) = df
      .withColumn("__u", graft.operators.Sampling.hashUniform(
        concat_ws(":", lit("urs42"), col("doc_id").cast("string"))))
      .orderBy(col("__u"), col("doc_id")).limit(k).drop("__u")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def streamed(dir: String, k: Int) =
      S.currentUniformSample(spark, dir, k, "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // three uneven batches == the whole-corpus bottom-k
    val b = Seq(all.filter(col("doc_id") < 100),
      all.filter(col("doc_id") >= 100 && col("doc_id") < 150),
      all.filter(col("doc_id") >= 150))
    b.zipWithIndex.foreach { case (df, i) =>
      S.absorbUniformSampleBatch(df, s"b$i", s"$tmp/urs", "doc_id", 20) }
    val got = streamed(s"$tmp/urs", 20)
    assert(got === batchSample(all, 20), "streamed reservoir != batch bottom-k")
    // at-least-once replay rewrites, never duplicates
    S.absorbUniformSampleBatch(b(1), "b1", s"$tmp/urs", "doc_id", 20)
    assert(streamed(s"$tmp/urs", 20) === got, "replay changed the sample")
    // compaction refolds to k rows and preserves the sample
    S.compactUniformSample(spark, s"$tmp/urs", 20, "doc_id")
    assert(streamed(s"$tmp/urs", 20) === got, "compaction changed the sample")
    assert(graft.streaming.Lsm.readSegments(spark, s"$tmp/urs").count() === 20L)
    // append-stability: a new batch can only REPLACE members with
    // lower-key arrivals — the union of before/after members differs by
    // exactly the swapped rows, and survivors keep their payload
    val extra = (1000L until 1100L).map(i => (i, s"payload-$i")).toDF("doc_id", "text")
    S.absorbUniformSampleBatch(extra, "b3", s"$tmp/urs", "doc_id", 20)
    val after = streamed(s"$tmp/urs", 20)
    assert(after === batchSample(all.unionByName(extra), 20),
      "post-append sample != batch over the grown corpus")
    assert(after.toSet.intersect(got.toSet).size >= 20 - extra.count().toInt,
      "append replaced more rows than it contributed")
  }

  test("streaming decontamination: streamed tags == batch Bloom operator for any split; read-time df cap; replay-exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("deconstream").toString
    // train: 60 synthetic docs; eval: 2 verbatim train copies + 2 disjoint
    def word(doc: Long, j: Int) = s"w${(doc * 31 + j * 7) % 97}"
    def text(doc: Long) = (0 until 20).map(word(doc, _)).mkString(" ")
    val train = (0L until 60L).map(i => (i, text(i))).toDF("doc_id", "text")
    val evalDf = Seq(
      (1000L, text(7L)), (1001L, text(42L)),
      (1002L, (0 until 20).map(j => s"z$j").mkString(" ")),
      (1003L, (0 until 20).map(j => s"y$j").mkString(" "))).toDF("doc_id", "text")
    graft.streaming.StreamingDedup.writeDecontaminationEval(
      evalDf, "doc_id", "text", s"$tmp/decon")
    val b0 = train.filter(col("doc_id") < 30)
    val b1 = train.filter(col("doc_id") >= 30)
    graft.streaming.StreamingDedup.absorbDecontaminationBatch(
      b0, "b0", s"$tmp/decon", "doc_id", "text")
    graft.streaming.StreamingDedup.absorbDecontaminationBatch(
      b1, "b1", s"$tmp/decon", "doc_id", "text")
    def tags(df: org.apache.spark.sql.DataFrame) =
      df.select("eval_id", "train_id", "containment").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val streamed = tags(graft.streaming.StreamingDedup.currentContaminated(
      spark, s"$tmp/decon"))
    val batchOp = tags(graft.operators.Dedup.crossCorpusContainmentBloom(
      train, "doc_id", "text", evalDf, "doc_id", "text"))
    assert(streamed === batchOp, s"streamed $streamed != batch $batchOp")
    assert(streamed.map(_._2).toSet.intersect(Set(7L, 42L)) === Set(7L, 42L),
      "planted contamination must surface")
    // at-least-once replay: re-absorbing b1 rewrites its segment
    graft.streaming.StreamingDedup.absorbDecontaminationBatch(
      b1, "b1", s"$tmp/decon", "doc_id", "text")
    assert(tags(graft.streaming.StreamingDedup.currentContaminated(
      spark, s"$tmp/decon")) === streamed, "replay changed decon state")
    // ingest-time tagging: onlyIds over batch 0 == the full answer
    // restricted to batch-0 docs
    val only0 = tags(graft.streaming.StreamingDedup.currentContaminated(
      spark, s"$tmp/decon", onlyIds = Some(b0.select("doc_id"))))
    assert(only0 === streamed.filter(_._2 < 30), "onlyIds tags diverged")
    // the stop-shingle df cap is a READ-TIME whole-corpus property:
    // with a cap that only binds once both batches accumulate, the
    // streamed answer still equals the batch operator (an arrival-time
    // cap would differ depending on the split)
    val capStreamed = tags(graft.streaming.StreamingDedup.currentContaminated(
      spark, s"$tmp/decon", maxShingleDf = 1L))
    val capBatch = tags(graft.operators.Dedup.crossCorpusContainmentBloom(
      train, "doc_id", "text", evalDf, "doc_id", "text", maxShingleDf = 1L))
    assert(capStreamed === capBatch, "read-time df cap diverged from batch")
  }

  test("JM scoring from maintained counts: split absorbs == single build; backoff math hand-checked") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val a = Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("doc_id", "text")
    val b = Seq((3L, "a dog sat"), (4L, "the dog ran far")).toDF("doc_id", "text")
    val one = java.nio.file.Files.createTempDirectory("jmone").toString
    val split = java.nio.file.Files.createTempDirectory("jmsplit").toString
    TextAnalysis.writeLmCounts(a.unionByName(b), "text", one)
    TextAnalysis.writeLmCounts(a, "text", split)
    TextAnalysis.absorbLmCounts(b, "text", split, "b1")
    val eval = Seq((10L, "the cat sat"), (11L, "zz the cat")).toDF("doc_id", "text")
    def score(dir: String) = TextAnalysis.jmFromCounts(
        TextAnalysis.readLmBigrams(spark, dir),
        TextAnalysis.readLmUnigrams(spark, dir),
        eval, "doc_id", "text", lambda = 0.75)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sOne = score(one)
    assert(score(split) === sOne, "split-absorbed counts diverged from single build")
    // hand math: corpus = 13 tokens; "the cat" c=2, c(the·)=3, U(cat)=2
    // p(cat|the) = .75*2/3 + .25*2/13; "cat sat" c=1, c(cat·)=2, U(sat)=2
    // p(sat|cat) = .75*1/2 + .25*2/13; doc 10 bits = avg(-log2 p)
    val p1 = 0.75 * 2.0 / 3 + 0.25 * 2.0 / 13
    val p2 = 0.75 * 1.0 / 2 + 0.25 * 2.0 / 13
    val want = BigDecimal((-math.log(p1) / math.log(2) - math.log(p2) / math.log(2)) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(sOne(10L)._1 === 2L && math.abs(sOne(10L)._2 - want) < 2e-6,
      s"${sOne(10L)} vs $want")
    // "zz the": unseen context zz backs off entirely to .25*U(the)/N
    val pz = 0.25 * 3.0 / 13
    val pc = 0.75 * 2.0 / 3 + 0.25 * 2.0 / 13 // "the cat" again
    val wantZ = BigDecimal((-math.log(pz) / math.log(2) - math.log(pc) / math.log(2)) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(sOne(11L)._2 - wantZ) < 2e-6, s"${sOne(11L)} vs $wantZ")
  }

  test("streaming graph maintenance: absorbed edge micro-batches == batch rebuild; ranks stay fresh; replay-exact") {
    import graft.operators.{GraphStore, Graphs}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graphstream").toString
    val raw = (0 until 300).map(i =>
      (i.toLong % 17, (i.toLong * 5 + 2) % 17)).toDF("src", "dst")
    // half lands at build, half arrives as a stream
    GraphStore.build(raw.filter(col("src") % 2 === 0), "src", "dst", s"$tmp/g")
    raw.filter(col("src") % 2 =!= 0).write.parquet(s"$tmp/in")
    val q = graft.streaming.StreamingGraph.maintain(
      spark.readStream.schema(raw.schema).parquet(s"$tmp/in"),
      s"$tmp/g", "src", "dst", s"$tmp/ck")
    q.processAllAvailable(); q.stop()
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val full = java.nio.file.Files.createTempDirectory("graphfull2").toString
    GraphStore.build(raw, "src", "dst", full)
    val streamed = graft.streaming.StreamingGraph.current(spark, s"$tmp/g")
    assert(edgeSet(streamed) === edgeSet(GraphStore.read(spark, full)),
      "streamed artifact != batch rebuild")
    // the analytics family serves fresh state: pageRank over the
    // streamed artifact == pageRank over the raw multigraph
    def ranks(df: org.apache.spark.sql.DataFrame, wc: Option[String]) =
      Graphs.pageRank(df, "src", "dst", iterations = 3, weightCol = wc)
        .select(col("id"), round(col("rank"), 9).as("r")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(ranks(streamed, Some("w")) === ranks(raw, None))
  }

  test("graph artifact: absorb == rebuild; node deletes fold; compact preserves; weighted read == raw multigraph") {
    import graft.operators.{GraphStore, Graphs}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graphstore").toString
    // a deterministic multigraph WITH parallel edges (weights matter)
    val raw = (0 until 400).map { i =>
      (i.toLong % 23, (i.toLong * 7 + 3) % 23)
    }.toDF("src", "dst")
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq

    // absorb == rebuild: half at build, two quarter-segments appended
    val half = raw.filter(col("src") % 2 === 0)
    val q1 = raw.filter(col("src") % 2 =!= 0 && col("dst") % 2 === 0)
    val q2 = raw.filter(col("src") % 2 =!= 0 && col("dst") % 2 =!= 0)
    GraphStore.build(half, "src", "dst", tmp)
    GraphStore.absorb(q1, "src", "dst", tmp, "b1")
    GraphStore.absorb(q2, "src", "dst", tmp, "b2")
    val full = java.nio.file.Files.createTempDirectory("graphfull").toString
    GraphStore.build(raw, "src", "dst", full)
    assert(edgeSet(GraphStore.read(spark, tmp)) ===
      edgeSet(GraphStore.read(spark, full)), "absorbed state != rebuild")
    // replay idempotence: re-absorbing b2 rewrites its own segment
    GraphStore.absorb(q2, "src", "dst", tmp, "b2")
    assert(edgeSet(GraphStore.read(spark, tmp)) ===
      edgeSet(GraphStore.read(spark, full)), "replayed absorb double-counted")

    // weighted operator equivalence: pageRank over the artifact's
    // collapsed weights == pageRank over the raw multigraph
    def ranks(df: org.apache.spark.sql.DataFrame, wc: Option[String]) =
      Graphs.pageRank(df, "src", "dst", iterations = 4, weightCol = wc)
        .select(col("id"), round(col("rank"), 9).as("r")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(ranks(GraphStore.read(spark, tmp), Some("w")) === ranks(raw, None),
      "weighted artifact read diverged from the raw multigraph")

    // node deletes fold at read on both endpoints
    GraphStore.deleteNodes(Seq(3L, 11L).toDF("id"), "id", tmp)
    val expectAfterDelete = edgeSet(GraphStore.read(spark, full))
      .filterNot(e => Set(3L, 11L).contains(e._1) || Set(3L, 11L).contains(e._2))
    assert(edgeSet(GraphStore.read(spark, tmp)) === expectAfterDelete,
      "tombstoned nodes survived the read")

    // compaction folds segments + tombstones into one src-partitioned
    // segment and the answer is unchanged
    GraphStore.compact(spark, tmp)
    assert(edgeSet(GraphStore.read(spark, tmp)) === expectAfterDelete,
      "compaction changed the merged state")
    assert(graft.streaming.Lsm.readSegments(spark, s"$tmp/edges")
      .groupBy(col("src"), col("dst")).count()
      .filter(col("count") > 1).isEmpty, "compaction left duplicate keys")
  }

  test("graph artifact: warm-started ranks reconverge after an append (and beat a cold start at equal iterations)") {
    import graft.operators.{GraphStore, Graphs}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graphwarm").toString
    // ~2000 nodes so a 4-edge append is a GENUINELY small delta (the
    // teleport base (1-d)/n barely moves); damping 0.5 so 35 iterations
    // contract any init error below 1e-10 (0.5^35 ~ 3e-11)
    val d05 = 0.5
    // quadratic dst skews in-degrees hard, so the fixpoint is far from
    // uniform and a cold start genuinely has distance to cover
    val base = (0 until 8000).map(i =>
      (i.toLong % 1997, (i.toLong * i.toLong * 7 + 13) % 1997)).toDF("src", "dst")
    GraphStore.build(base, "src", "dst", tmp)
    // converge cold on the base graph and persist the fixpoint
    GraphStore.saveRanks(Graphs.pageRank(GraphStore.read(spark, tmp),
      "src", "dst", iterations = 35, damping = d05, weightCol = Some("w")), tmp)
    // planted O(delta) append: a few edges touching two new nodes
    GraphStore.absorb(Seq((1997L, 1998L), (1998L, 3L), (7L, 1997L), (1997L, 3L))
      .toDF("src", "dst"), "src", "dst", tmp, "delta")
    def ranks(iters: Int, warm: Boolean): Map[Long, Double] =
      Graphs.pageRank(GraphStore.read(spark, tmp), "src", "dst",
          iterations = iters, damping = d05, weightCol = Some("w"),
          init = if (warm) GraphStore.loadRanks(spark, tmp) else None)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def dist(a: Map[Long, Double], b: Map[Long, Double]): Double = {
      assert(a.keySet === b.keySet)
      a.map { case (k, v) => math.abs(v - b(k)) }.max
    }
    // the post-append fixpoint, cold
    val fix = ranks(35, warm = false)
    // the warm path converges to the SAME unique fixpoint (init
    // plumbing, new-node fill, and renormalization are all sound)
    assert(dist(ranks(35, warm = true), fix) < 1e-9,
      "warm start must reconverge to the post-append fixpoint")
    // iteration economy — the maintenance value proposition: at EQUAL
    // (small) budget, starting from the pre-append fixpoint lands far
    // closer to the post-append fixpoint than a cold uniform start
    // (the contraction shrinks INITIAL error; the planted delta left
    // the warm init orders of magnitude nearer than uniform)
    val warm6 = dist(ranks(6, warm = true), fix)
    val cold6 = dist(ranks(6, warm = false), fix)
    assert(warm6 < cold6 / 10,
      s"warm-6 ($warm6) should beat cold-6 ($cold6) by >=10x")
    // the refresh hook persists its own output: after a deep refresh,
    // a 2-iteration warm read serves the fixpoint
    GraphStore.refreshPageRank(spark, tmp, iterations = 35, damping = d05)
    assert(dist(ranks(2, warm = true), fix) < 1e-9,
      "refreshed artifact serves the fixpoint (2 warm iterations hold it)")

    // the personalized sibling: seed-set-keyed rank slot reconverges
    val seeds = Seq(3L, 7L, 11L).toDF("id")
    def pprRanks(iters: Int, init: Option[org.apache.spark.sql.DataFrame]) =
      Graphs.personalizedPageRank(GraphStore.read(spark, tmp), "src", "dst",
          seeds, "id", iterations = iters, damping = d05,
          weightCol = Some("w"), init = init)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pprFix = pprRanks(35, None)
    GraphStore.refreshPpr(spark, tmp, seeds, "id", "s3_7_11", iterations = 35,
      damping = d05)
    assert(dist(pprRanks(4,
        GraphStore.loadRanks(spark, tmp, "ppr_s3_7_11")), pprFix) < 1e-9,
      "PPR warm slot serves its seed set's fixpoint")

    // the HITS sibling: warm-starting from a saved run CONTINUES it —
    // k warm iterations from the persisted 60-iteration hub equal one
    // cold 60+k run (scale invariance absorbs both the end
    // normalization the artifact stores and the mean-1 init rescale)
    def hitsVecs(iters: Int, init: Option[org.apache.spark.sql.DataFrame]) =
      Graphs.hits(GraphStore.read(spark, tmp), "src", "dst",
          iterations = iters, weightCol = Some("w"), init = init)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    GraphStore.refreshHits(spark, tmp, iterations = 60)
    val warmHits = hitsVecs(8, GraphStore.loadRanks(spark, tmp, "hits_hub"))
    val cold68 = hitsVecs(68, None)
    val hubErr = cold68.map { case (k, (h, _)) =>
      math.abs(h - warmHits(k)._1) }.max
    val authErr = cold68.map { case (k, (_, a)) =>
      math.abs(a - warmHits(k)._2) }.max
    assert(hubErr < 1e-9 && authErr < 1e-9,
      s"HITS warm continuation must equal the cold 68-run: hub $hubErr auth $authErr")
  }

  test("graph artifact: reading a dir with no absorbed segments returns the empty edge frame") {
    import graft.operators.GraphStore
    import spark.implicits._
    // fresh dir: nothing ever written
    val fresh = java.nio.file.Files.createTempDirectory("graphempty").toString
    val r0 = GraphStore.read(spark, fresh)
    assert(r0.columns.toSeq === Seq("src", "dst", "w") && r0.isEmpty)
    // deleteNodes before any build: tombstones exist, segments don't —
    // still the empty frame, not an AnalysisException on the missing path
    val tombed = java.nio.file.Files.createTempDirectory("graphtomb").toString
    GraphStore.deleteNodes(Seq(1L, 2L).toDF("id"), "id", tombed)
    val r1 = GraphStore.read(spark, tombed)
    assert(r1.columns.toSeq === Seq("src", "dst", "w") && r1.isEmpty)
  }
}
