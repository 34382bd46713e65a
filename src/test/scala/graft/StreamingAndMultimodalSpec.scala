package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Multimodal
import graft.streaming.EventStream

class StreamingAndMultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("streaming hourly counts match the batch computation exactly") {
    val q = EventStream.runToMemorySink(spark, dir, "stream_hourly")
    try {
      val streamed = spark.table("stream_hourly")
        .orderBy(col("hour"), col("event_type")).collect()
      val batch = graft.sources.Tables(spark, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("hour"), col("event_type")).collect()
      assert(streamed.length === batch.length)
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("streaming session windows match the batch sessionization exactly") {
    val q = EventStream.runToMemorySink(
      EventStream.userSessions(
        EventStream.readEvents(spark, dir).filter(col("user_id") < 20)),
      "stream_sessions", "complete")
    try {
      val streamed = spark.table("stream_sessions")
        .orderBy(col("user_id"), col("start_us")).collect()
      val batch = EventStream.userSessions(
          graft.sources.Tables(spark, dir, "events").filter(col("user_id") < 20))
        .orderBy(col("user_id"), col("start_us")).collect()
      assert(streamed.length === batch.length)
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
      // sessions are genuinely gap-split: some user has more than one
      assert(batch.map(_.getLong(0)).distinct.length < batch.length)
    } finally q.stop()
  }

  test("streaming sliding windows match the batch computation exactly") {
    val q = EventStream.runToMemorySink(
      EventStream.slidingCounts(EventStream.readEvents(spark, dir)),
      "stream_sliding", "complete")
    try {
      val streamed = spark.table("stream_sliding")
        .orderBy(col("win_start"), col("event_type")).collect()
      val batch = EventStream.slidingCounts(
          graft.sources.Tables(spark, dir, "events"))
        .orderBy(col("win_start"), col("event_type")).collect()
      assert(streamed.length === batch.length)
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    // simulate at-least-once delivery: the same events file lands twice
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_dedup").toFile
    try {
      val src = new java.io.File(s"$dir/events.parquet").toPath
      java.nio.file.Files.copy(src, new java.io.File(tmp, "a.parquet").toPath)
      java.nio.file.Files.copy(src, new java.io.File(tmp, "b.parquet").toPath)
      val deduped = EventStream.dedupEvents(
        EventStream.readEvents(spark, tmp.toString, glob = "*.parquet"))
      val q = EventStream.runToMemorySink(deduped.select(col("event_id")),
        "stream_dedup", "append")
      try {
        val n = spark.table("stream_dedup").count()
        val expected = spark.read.parquet(s"$dir/events.parquet")
          .select("event_id").distinct().count()
        assert(n === expected)
      } finally q.stop()
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  test("streaming anomaly scores equal the batch operator across a mid-series batch split") {
    import graft.streaming.StreamingAnomaly
    val winNs = 30L * 86400L * 1000000000L
    val batchEv = graft.sources.Tables(spark, dir, "events")
      .filter(col("user_id") < 15)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_ns"), col("value"))
    val expected = graft.operators.EventAnalytics.anomalies(batchEv,
        Seq("user_id", "event_type"), "ts_ns", "value", winNs, 5, 2.0)
      .select("event_id", "baseline_n", "baseline_mean", "z", "is_anomaly")
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))).toMap
    // split the corpus at the time median so every active series is cut
    // mid-window, land the halves as two files, drive two micro-batches
    val raw = spark.read.parquet(s"$dir/events.parquet")
    // numeric time for the split point (ts is NTZ here; long in old corpora)
    val tsNum = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts").cast("double")
      case _ => unix_micros(col("ts").cast("timestamp")).cast("double")
    }
    val cut = raw.select(percentile_approx(tsNum, lit(0.5), lit(10000)))
      .head.getDouble(0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_anom").toFile
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(tmp, s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(tmp, s"$name.parquet").toPath)
    }
    try {
      land(raw.filter(tsNum <= cut), "a")
      val streamed = StreamingAnomaly.score(
        graft.streaming.EventStream.readEvents(spark, tmp.toString,
            glob = "[ab].parquet")
          .filter(col("user_id") < 15),
        Seq("user_id", "event_type"), "event_id", "ts_ns", "value",
        winNs, 5, 2.0).toDF()
      val q = graft.streaming.EventStream.runToMemorySink(
        streamed, "stream_anom", "append")
      try {
        land(raw.filter(tsNum > cut), "b")
        q.processAllAvailable()
        val got = spark.table("stream_anom")
          .collect().map(r => r.getLong(0) -> (r.getLong(1),
            Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))).toMap
        assert(got.size === expected.size)
        // at least one series actually straddles the split (state carried)
        assert(spark.table("stream_anom").count() === expected.size.toLong)
        expected.foreach { case (id, (n, m, z, flag)) =>
          val (gn, gm, gz, gflag) = got(id)
          assert(gn === n, s"baseline_n for event $id")
          assert(gflag === flag, s"is_anomaly for event $id")
          assert(m.isDefined === gm.isDefined && z.isDefined === gz.isDefined)
          m.foreach(e => assert(math.abs(e - gm.get) < 1e-8, s"mean for $id"))
          z.foreach(e => assert(math.abs(e - gz.get) < 1e-6, s"z for $id"))
        }
        // the second chunk contains scored events whose baselines span
        // the split — i.e. baseline_n larger than chunk-b-only history
        val bIds = spark.read.parquet(s"$tmp/b.parquet")
          .filter(col("user_id") < 15).select("event_id")
          .collect().map(_.getLong(0)).toSet
        assert(bIds.exists(id => got.get(id).exists(_._1 >= 5)))
      } finally q.stop()
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(tmp)
    }
  }

  test("streaming chunk dedup equals the batch operator for id-ordered arrival") {
    import graft.streaming.StreamingDedup
    // boilerplate-enriched corpus (the q_dedup_chunks fixture) so
    // cross-document chunk dupes actually exist
    val p1 = "standard boilerplate disclaimer repeated across many documents verbatim"
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), concat(
        when(col("doc_id") % 3 === 0, lit(p1 + " ")).otherwise(lit("")),
        col("text")).as("text"))
    val expected = graft.operators.Dedup.chunkDedup(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    val mid = docs.select(percentile_approx(col("doc_id"), lit(0.5), lit(100000)))
      .head.get(0).toString.toDouble
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_chunk").toFile
    val landDir = new java.io.File(tmp, "in"); landDir.mkdirs()
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(tmp, s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(landDir, s"$name.parquet").toPath)
    }
    try {
      land(docs.filter(col("doc_id") <= mid), "a")
      val stream = spark.readStream.schema(docs.schema).parquet(landDir.toString)
      val q = StreamingDedup.maintainChunkDedup(stream, s"$tmp/state",
        "doc_id", "text", 8, s"$tmp/ckpt")
      try {
        q.processAllAvailable()
        land(docs.filter(col("doc_id") > mid), "b")
        q.processAllAvailable()
      } finally q.stop()
      val got = StreamingDedup.currentChunkDeduped(spark, s"$tmp/state")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
      assert(got.size === expected.size)
      assert(got === expected)
      // the dedup actually bit: some doc lost its boilerplate chunk
      assert(expected.values.exists { case (n, k, _) => k < n })
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(tmp)
    }
  }

  test("streaming CDC chunk dedup equals the batch composition for id-ordered arrival") {
    import graft.streaming.StreamingDedup
    val p1 = "standard boilerplate disclaimer repeated across many documents verbatim"
    val docs = graft.sources.Tables(spark, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), concat(
        when(col("doc_id") % 3 === 0, lit(p1 + " ")).otherwise(lit("")),
        col("text")).as("text"))
    def cdc(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.cdcChunks(df, "doc_id", "text", 16, "0")
        .select(col("id"), col("chunk_idx"), col("chunk").as("chunk_text"))
    val expected = graft.operators.Dedup.chunkDedupFrom(cdc(docs), sep = "")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_cdc").toFile
    val landDir = new java.io.File(tmp, "in"); landDir.mkdirs()
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(tmp, s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(landDir, s"$name.parquet").toPath)
    }
    try {
      land(docs.filter(col("doc_id") <= 100), "a")
      val stream = spark.readStream.schema(docs.schema).parquet(landDir.toString)
      val q = StreamingDedup.maintainChunkDedupFrom(stream, s"$tmp/state",
        cdc, sep = "", s"$tmp/ckpt")
      try {
        q.processAllAvailable()
        land(docs.filter(col("doc_id") > 100), "b")
        q.processAllAvailable()
      } finally q.stop()
      val got = StreamingDedup.currentChunkDeduped(spark, s"$tmp/state")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
      assert(got === expected)
      // the CDC dedup actually bit across documents
      assert(expected.values.exists { case (n, k, _) => k < n })
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(tmp)
    }
  }

  test("streaming PSI drift equals the batch operator across micro-batches") {
    import graft.streaming.StreamingDrift
    val ev = graft.sources.Tables(spark, dir, "events")
    val ref = ev.filter(col("user_id") % 2 === 0).select(col("value"))
    val cur = ev.filter(col("user_id") % 2 === 1)
      .select(col("event_id"), col("value"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_psi").toFile
    val stateDir = s"$tmp/state"
    val landDir = new java.io.File(tmp, "in"); landDir.mkdirs()
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(tmp, s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(landDir, s"$name.parquet").toPath)
    }
    try {
      val edges = StreamingDrift.freezeReference(ref, "value", stateDir)
      assert(StreamingDrift.loadEdges(spark, stateDir).toSeq === edges.toSeq)
      val mid = cur.select(percentile_approx(col("event_id"), lit(0.5), lit(100000)))
        .head.get(0).toString.toDouble
      land(cur.filter(col("event_id") <= mid), "a")
      val stream = spark.readStream.schema(cur.schema).parquet(landDir.toString)
      val q = StreamingDrift.maintainPsi(stream, "value", edges, stateDir,
        s"$tmp/ckpt")
      try {
        q.processAllAvailable()
        land(cur.filter(col("event_id") > mid), "b")
        q.processAllAvailable()
      } finally q.stop()
      val streamed = StreamingDrift.currentPsiBins(spark, stateDir)
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(5))).toMap
      val batch = graft.operators.Drift.psiBins(ref, cur.select(col("value")), "value")
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(5))).toMap
      assert(streamed.keySet === batch.keySet)
      batch.foreach { case (bin, (nr, nc, term)) =>
        val (snr, snc, sterm) = streamed(bin)
        assert(snr === nr && snc === nc, s"bin $bin counts")
        assert(math.abs(sterm - term) < 1e-12, s"bin $bin psi term")
      }
      val batchPsi = graft.operators.Drift.psi(ref, cur.select(col("value")), "value")
      assert(math.abs(StreamingDrift.currentPsi(spark, stateDir) - batchPsi) < 1e-12)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(tmp)
    }
  }

  test("streaming JS mix timeline equals the batch operator, split MID-bucket") {
    import graft.streaming.StreamingDrift
    val ev = graft.sources.Tables(spark, dir, "events")
      .withColumn("day", to_date(col("ts")))
      .select(col("event_id"), col("day"), col("event_type"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_mix").toFile
    val landDir = new java.io.File(tmp, "in"); landDir.mkdirs()
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(tmp, s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(landDir, s"$name.parquet").toPath)
    }
    try {
      // split on event_id PARITY: every day's rows straddle both batches
      land(ev.filter(col("event_id") % 2 === 0), "a")
      val stream = spark.readStream.schema(ev.schema).parquet(landDir.toString)
      val q = StreamingDrift.maintainMix(stream, "day", "event_type",
        s"$tmp/state", s"$tmp/ckpt")
      try {
        q.processAllAvailable()
        land(ev.filter(col("event_id") % 2 === 1), "b")
        q.processAllAvailable()
      } finally q.stop()
      def key(r: org.apache.spark.sql.Row) = r.get(0).toString
      val streamed = StreamingDrift.currentJsTimeline(spark, s"$tmp/state")
        .collect().map(r => key(r) ->
          (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"), r.getAs[Double]("js"))).toMap
      val batch = graft.operators.Drift.jsTimeline(ev, "day", "event_type")
        .collect().map(r => key(r) ->
          (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"), r.getAs[Double]("js"))).toMap
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(tmp)
    }
  }

  test("stream-static dimension enrichment matches the batch join exactly") {
    import spark.implicits._
    val dim = (0L until 50L).map(u => (u, s"seg${u % 3}")).toDF("user_id", "segment")
    val enriched = EventStream.enrich(
      EventStream.readEvents(spark, dir).filter(col("user_id") < 50),
      dim, Seq("user_id"))
    val q = EventStream.runToMemorySink(
      enriched.select(col("event_id"), col("segment")), "stream_enrich", "append")
    try {
      val got = spark.table("stream_enrich").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = EventStream.enrich(
          graft.sources.Tables(spark, dir, "events").filter(col("user_id") < 50),
          dim, Seq("user_id"))
        .select(col("event_id"), col("segment")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("custom-state user profiles: streaming updates converge to the batch result") {
    val q = EventStream.runToMemorySink(
      EventStream.userProfiles(
        EventStream.readEvents(spark, dir).filter(col("user_id") < 20)).toDF(),
      "stream_profiles", "update")
    try {
      // Update mode emits one row per touched user per micro-batch;
      // profiles are cumulative (n_events strictly grows), so the final
      // state per user is its max-n_events row
      val streamed = spark.table("stream_profiles")
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("n_events").desc)))
        .filter(col("__rk") === 1).drop("__rk")
        .orderBy(col("user_id")).collect()
      val batch = EventStream.userProfiles(
          graft.sources.Tables(spark, dir, "events").filter(col("user_id") < 20))
        .toDF().orderBy(col("user_id")).collect()
      assert(streamed.length === batch.length)
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
      // the state actually accumulated: someone saw more than one event type
      assert(batch.exists(_.getInt(3) > 1))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch computation exactly") {
    def sides(src: org.apache.spark.sql.DataFrame) = (
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "purchase"))
    val (sc, sp) = sides(EventStream.readEvents(spark, dir))
    val q = EventStream.runToMemorySink(
      EventStream.purchaseClickJoin(sc, sp), "stream_rjoin", "append")
    try {
      val streamed = spark.table("stream_rjoin")
        .orderBy("purchase_id", "click_id").collect()
      val (bc, bp) = sides(graft.sources.Tables(spark, dir, "events"))
      val batch = EventStream.purchaseClickJoin(bc, bp)
        .orderBy("purchase_id", "click_id").collect()
      assert(batch.nonEmpty)
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("medical headers: NIfTI-1 (both endiannesses) and DICOM explicit/implicit VR parse; corrupt yields sentinels") {
    import java.nio.{ByteBuffer, ByteOrder}
    def nifti(order: ByteOrder): Array[Byte] = {
      val b = ByteBuffer.allocate(352).order(order)
      b.putInt(0, 348)
      b.putShort(40, 3.toShort)            // dim[0] = 3 dims
      b.putShort(42, 64.toShort)           // dim[1]
      b.putShort(44, 96.toShort)           // dim[2]
      b.putShort(46, 32.toShort)           // dim[3]
      b.putShort(72, 16.toShort)           // bitpix
      b.putFloat(80, 1.5f)                 // pixdim[1]
      b.putFloat(84, 1.25f)                // pixdim[2]
      b.putFloat(88, 3.0f)                 // pixdim[3]
      b.position(344); b.put("n+1".getBytes); b.put(0.toByte)
      b.array()
    }
    for (o <- Seq(ByteOrder.LITTLE_ENDIAN, ByteOrder.BIG_ENDIAN))
      assert(Multimodal.parseNifti(nifti(o)) ===
        (("nifti", "", 64, 96, 32, 16, 1.5, 1.25, 3.0)), o.toString)
    // bad magic / bad sizeof_hdr / short buffer -> sentinel
    val badMagic = nifti(ByteOrder.LITTLE_ENDIAN); badMagic(344) = 'x'.toByte
    assert(Multimodal.parseNifti(badMagic)._1 === "unknown")
    assert(Multimodal.parseNifti(new Array[Byte](100))._1 === "unknown")

    def dicomExplicit(transferSyntax: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(new Array[Byte](128)); out.write("DICM".getBytes)
      def el16(g: Int, e: Int, vr: String, v: Array[Byte]): Unit = {
        val b = ByteBuffer.allocate(8 + v.length).order(ByteOrder.LITTLE_ENDIAN)
        b.putShort(g.toShort).putShort(e.toShort)
        b.put(vr.getBytes).putShort(v.length.toShort).put(v)
        out.write(b.array())
      }
      def us(x: Int) = ByteBuffer.allocate(2)
        .order(ByteOrder.LITTLE_ENDIAN).putShort(x.toShort).array()
      val ts = (transferSyntax + (if (transferSyntax.length % 2 == 1) "\u0000" else "")).getBytes
      el16(0x0002, 0x0010, "UI", ts)
      val implicitDs = transferSyntax == "1.2.840.10008.1.2"
      if (implicitDs) {
        def imp(g: Int, e: Int, v: Array[Byte]): Unit = {
          val b = ByteBuffer.allocate(8 + v.length).order(ByteOrder.LITTLE_ENDIAN)
          b.putShort(g.toShort).putShort(e.toShort).putInt(v.length).put(v)
          out.write(b.array())
        }
        imp(0x0008, 0x0060, "MR".getBytes)
        imp(0x0028, 0x0010, us(512))
        imp(0x0028, 0x0011, us(256))
        imp(0x0028, 0x0100, us(12))
      } else {
        el16(0x0008, 0x0060, "CS", "CT".getBytes)
        el16(0x0028, 0x0008, "IS", "12".getBytes)
        el16(0x0028, 0x0010, "US", us(512))
        el16(0x0028, 0x0011, "US", us(256))
        el16(0x0028, 0x0030, "DS", "0.5\\0.75".getBytes)
        el16(0x0028, 0x0100, "US", us(16))
        // PixelData with a long-VR header terminates the walk
        val pd = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
        pd.putShort(0x7FE0.toShort).putShort(0x0010.toShort)
        pd.put("OW".getBytes).putShort(0.toShort).putInt(0)
        out.write(pd.array())
      }
      out.toByteArray
    }
    assert(Multimodal.parseDicom(dicomExplicit("1.2.840.10008.1.2.1")) ===
      (("dicom", "CT", 256, 512, 12, 16, 0.75, 0.5, 0.0)))
    assert(Multimodal.parseDicom(dicomExplicit("1.2.840.10008.1.2")) ===
      (("dicom", "MR", 256, 512, 1, 12, 0.0, 0.0, 0.0)))
    assert(Multimodal.parseDicom("nope".getBytes)._1 === "unknown")
    // NIfTI payloads must not false-positive as DICOM and vice versa
    assert(Multimodal.parseDicom(nifti(ByteOrder.LITTLE_ENDIAN))._1 === "unknown")
    assert(Multimodal.parseNifti(dicomExplicit("1.2.840.10008.1.2.1"))._1 === "unknown")

    // the distributed metadata op + the TQL SAMPLE_INFO surface
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, nifti(ByteOrder.LITTLE_ENDIAN)),
      (2L, dicomExplicit("1.2.840.10008.1.2.1")),
      (3L, "garbage".getBytes)).toDF("doc_id", "payload")
    val rows = Multimodal.medicalInfo(df, "doc_id")
      .orderBy("id").collect()
    assert(rows.map(r => (r.getAs[Long]("id"), r.getAs[String]("format"),
      r.getAs[Int]("width"), r.getAs[Int]("depth"))).toSeq ===
      Seq((1L, "nifti", 64, 32), (2L, "dicom", 256, 12), (3L, "unknown", -1, -1)))
    val info = df.select(col("doc_id"), org.apache.spark.sql.graft.Bridge.column(
        graft.functions.SampleInfo(
          org.apache.spark.sql.graft.Bridge.expression(col("payload")))).as("i"))
      .orderBy("doc_id")
      .select(col("i.format"), col("i.width"), col("i.depth"),
        col("i.bits"), col("i.modality"))
      .collect().map(_.toSeq)
    assert(info(0) === Seq("nifti", 64, 32, 16, null))
    assert(info(1) === Seq("dicom", 256, 12, 16, "CT"))
    assert(info(2) === Seq("unknown", null, null, null, null))
  }

  test("geometry headers: PLY ascii/binary + STL binary/ascii parse; the solid-prefixed binary STL trap; corrupt yields sentinels") {
    import java.nio.{ByteBuffer, ByteOrder}
    def ply(encoding: String, vertices: Long, faces: Long): Array[Byte] = {
      val sb = new StringBuilder
      sb ++= "ply\n"
      sb ++= s"format $encoding 1.0\n"
      sb ++= "comment made by hand\n"
      sb ++= s"element vertex $vertices\n"
      sb ++= "property float x\nproperty float y\nproperty float z\n"
      if (faces > 0) {
        sb ++= s"element face $faces\n"
        sb ++= "property list uchar int vertex_indices\n"
      }
      sb ++= "end_header\n"
      // payload bytes are opaque to the header walk — arbitrary filler
      sb.toString.getBytes("US-ASCII") ++ Array.fill(32)(0x7F.toByte)
    }
    assert(Multimodal.parsePly(ply("ascii", 8, 12)) ===
      (("ply", "ascii", 8L, 12L)))
    assert(Multimodal.parsePly(ply("binary_little_endian", 1000000, 0)) ===
      (("ply", "binary_little_endian", 1000000L, 0L)))
    // corruption: truncated before end_header; wrong magic
    assert(Multimodal.parsePly("ply\nformat ascii 1.0\nelement vertex 5\n"
      .getBytes)._1 === "unknown")
    assert(Multimodal.parsePly("plx\nend_header\n".getBytes)._1 === "unknown")

    def stlBinary(tris: Int, headerText: String): Array[Byte] = {
      val b = ByteBuffer.allocate(84 + 50 * tris).order(ByteOrder.LITTLE_ENDIAN)
      b.put(headerText.getBytes.take(80))
      b.position(80); b.putInt(tris)
      b.array()
    }
    // the classic trap: binary STL whose 80-byte header begins "solid"
    assert(Multimodal.parseStl(stlBinary(7, "solid exported-from-cad")) ===
      (("stl", "binary", 21L, 7L)))
    assert(Multimodal.parseStl(stlBinary(0, "empty")) === (("stl", "binary", 0L, 0L)))
    val stlAscii =
      """solid cube
        |facet normal 0 0 1
        | outer loop
        |  vertex 0 0 0
        |  vertex 1 0 0
        |  vertex 0 1 0
        | endloop
        |endfacet
        |facet normal 0 0 -1
        | outer loop
        |  vertex 0 0 0
        |  vertex 0 1 0
        |  vertex 1 0 0
        | endloop
        |endfacet
        |endsolid cube
        |""".stripMargin.getBytes("US-ASCII")
    assert(Multimodal.parseStl(stlAscii) === (("stl", "ascii", 6L, 2L)))
    // truncated binary (length equation fails) and ascii without endsolid
    assert(Multimodal.parseStl(stlBinary(7, "x").dropRight(3))._1 === "unknown")
    assert(Multimodal.parseStl("solid cube\nfacet normal 0 0 1\n".getBytes)._1
      === "unknown")
    // cross-format guards
    assert(Multimodal.parseStl(ply("ascii", 3, 1))._1 === "unknown")
    assert(Multimodal.parsePly(stlBinary(2, "solid"))._1 === "unknown")

    // the distributed metadata op + the TQL SAMPLE_INFO surface
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, ply("binary_little_endian", 5000, 9000)),
      (2L, ply("ascii", 250, 0)),             // vertex-only -> point cloud
      (3L, stlBinary(4, "solid part")),
      (4L, "garbage".getBytes)).toDF("doc_id", "payload")
    val rows = Multimodal.geometryInfo(df, "doc_id").orderBy("id").collect()
    assert(rows.map(r => (r.getAs[Long]("id"), r.getAs[String]("format"),
      r.getAs[String]("kind"), r.getAs[Long]("n_vertices"),
      r.getAs[Long]("n_faces"))).toSeq === Seq(
      (1L, "ply", "mesh", 5000L, 9000L),
      (2L, "ply", "point_cloud", 250L, 0L),
      (3L, "stl", "mesh", 12L, 4L),
      (4L, "unknown", "", -1L, -1L)))
    val info = df.select(col("doc_id"), org.apache.spark.sql.graft.Bridge.column(
        graft.functions.SampleInfo(
          org.apache.spark.sql.graft.Bridge.expression(col("payload")))).as("i"))
      .orderBy("doc_id")
      .select(col("i.format"), col("i.vertices"), col("i.faces"))
      .collect().map(_.toSeq)
    assert(info(0) === Seq("ply", 5000L, 9000L))
    assert(info(1) === Seq("ply", 250L, 0L))
    assert(info(2) === Seq("stl", 12L, 4L))
    assert(info(3) === Seq("unknown", null, null))
  }

  test("multimodal: real header parsing extracts format + dimensions from bytes") {
    def png(w: Int, h: Int): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      b.write(Array(0, 0, 0, 13).map(_.toByte)); b.write("IHDR".getBytes)
      b.write(java.nio.ByteBuffer.allocate(8).putInt(w).putInt(h).array())
      b.toByteArray
    }
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x11, 0x08,
      0x01, 0xE0, 0x02, 0x80, 0x03).map(_.toByte) // SOF0: 640x480
    val gif = "GIF89a".getBytes ++ Array(0x80, 0x02, 0xE0, 0x01, 0, 0).map(_.toByte)
    val bmp = "BM".getBytes ++ new Array[Byte](16) ++
      java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(640).putInt(480).array() ++ new Array[Byte](4)
    assert(Multimodal.parseImageHeader(png(640, 480)) === (("png", 640, 480)))
    assert(Multimodal.parseImageHeader(jpeg) === (("jpeg", 640, 480)))
    assert(Multimodal.parseImageHeader(gif) === (("gif", 640, 480)))
    assert(Multimodal.parseImageHeader(bmp) === (("bmp", 640, 480)))
    assert(Multimodal.parseImageHeader("hello".getBytes) === (("unknown", -1, -1)))
    // 0xFF fill bytes pad until the real marker: FF FF C0 must still
    // find the SOF (advance-by-2 would land on C0 and desync)
    val jpegFill = Array(0xFF, 0xD8, 0xFF, 0xFF, 0xC0, 0x00, 0x11, 0x08,
      0x01, 0xE0, 0x02, 0x80, 0x03).map(_.toByte)
    assert(Multimodal.parseImageHeader(jpegFill) === (("jpeg", 640, 480)))
    // EOI terminates the walk (no frame header -> unknown dimensions)
    val jpegEoi = Array(0xFF, 0xD8, 0xFF, 0xD9, 0xFF, 0xC0, 0x00, 0x11, 0x08,
      0x01, 0xE0, 0x02, 0x80, 0x03).map(_.toByte)
    assert(Multimodal.parseImageHeader(jpegEoi) === (("jpeg", -1, -1)))

    // WebP, all three payload flavors (hand-built per the container spec)
    def riffWebp(cc: String, payload: Array[Byte]): Array[Byte] =
      "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WEBP".getBytes ++
        cc.getBytes ++ Array[Byte](0, 0, 0, 0) ++ payload
    val vp8 = riffWebp("VP8 ", Array(0, 0, 0, 0x9D, 0x01, 0x2A, // frame tag + sync
      0x80, 0x02, 0xE0, 0x01).map(_.toByte)) // 640 x 480, 14-bit LE
    assert(Multimodal.parseImageHeader(vp8) === (("webp", 640, 480)))
    // VP8L: 0x2F sig, width-1=639 (14 bits), height-1=479 (next 14 bits)
    val wl = 639; val hl = 479
    val vp8l = riffWebp("VP8L", Array[Byte](0x2F,
      (wl & 0xFF).toByte,
      (((wl >> 8) & 0x3F) | ((hl & 0x03) << 6)).toByte,
      ((hl >> 2) & 0xFF).toByte,
      ((hl >> 10) & 0x0F).toByte))
    assert(Multimodal.parseImageHeader(vp8l) === (("webp", 640, 480)))
    val vp8x = riffWebp("VP8X", Array[Byte](0, 0, 0, 0,
      ((640 - 1) & 0xFF).toByte, (((640 - 1) >> 8) & 0xFF).toByte, 0,
      ((480 - 1) & 0xFF).toByte, (((480 - 1) >> 8) & 0xFF).toByte, 0))
    assert(Multimodal.parseImageHeader(vp8x) === (("webp", 640, 480)))
    // corrupt VP8 (bad sync code): format recognized, dims unknown
    val vp8bad = riffWebp("VP8 ", Array(0, 0, 0, 0x11, 0x22, 0x33,
      0x80, 0x02, 0xE0, 0x01).map(_.toByte))
    assert(Multimodal.parseImageHeader(vp8bad) === (("webp", -1, -1)))

    // TIFF, both byte orders: IFD with ImageWidth(256) SHORT and
    // ImageLength(257) LONG
    def tiff(le: Boolean): Array[Byte] = {
      val ord = if (le) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN
      val bb = java.nio.ByteBuffer.allocate(8 + 2 + 24 + 4).order(ord)
      if (le) bb.put('I'.toByte).put('I'.toByte).putShort(42)
      else bb.put('M'.toByte).put('M'.toByte).putShort(42)
      bb.putInt(8)        // IFD at offset 8
      bb.putShort(2)      // two entries
      bb.putShort(256).putShort(3).putInt(1).putShort(640).putShort(0) // SHORT width
      bb.putShort(257).putShort(4).putInt(1).putInt(480)               // LONG height
      bb.putInt(0)        // next IFD
      bb.array()
    }
    assert(Multimodal.parseImageHeader(tiff(le = true)) === (("tiff", 640, 480)))
    assert(Multimodal.parseImageHeader(tiff(le = false)) === (("tiff", 640, 480)))
    // truncated TIFF (IFD offset beyond the buffer): format only
    assert(Multimodal.parseImageHeader(
      tiff(le = true).take(8)) === (("tiff", -1, -1)))

    // and through the distributed path
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, png(12, 34)), (2L, "nope".getBytes)).toDF("id", "payload")
    val info = Multimodal.imageInfo(df, "id").orderBy("id").collect()
    assert(info(0).getString(1) === "png" && info(0).getInt(2) === 12 && info(0).getInt(3) === 34)
    assert(info(1).getString(1) === "unknown")
  }

  test("multimodal containers: PDF pages + compressed-format magics, SAMPLE_INFO fallback") {
    // minimal classic (uncompressed page tree) 2-page PDF skeleton
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R >> endobj\n" +
      "4 0 obj << /Type/Page /Parent 2 0 R >> endobj\n" + // no-space spelling
      "trailer << /Root 1 0 R >>\n%%EOF").getBytes("US-ASCII")
    assert(Multimodal.parseContainer(pdf) === (("pdf", 2)))
    // object-stream PDFs hide the tree: honest -1, never a wrong 0
    assert(Multimodal.parseContainer("%PDF-1.7\nbinary junk".getBytes)
      === (("pdf", -1)))
    assert(Multimodal.parseContainer(Array(0x1F, 0x8B, 8, 0).map(_.toByte))
      === (("gzip", -1)))
    assert(Multimodal.parseContainer(Array(0x28, 0xB5, 0x2F, 0xFD).map(_.toByte))
      === (("zstd", -1)))
    assert(Multimodal.parseContainer(
      "PK".getBytes ++ Array[Byte](3, 4) ++ "rest".getBytes) === (("zip", -1)))
    // bare "PK" text is NOT a zip
    assert(Multimodal.parseContainer("PKrest".getBytes) === (("unknown", -1)))
    assert(Multimodal.parseContainer(
      Array[Byte](0xFD.toByte) ++ "7zXZ".getBytes ++ Array[Byte](0))
      === (("xz", -1)))
    assert(Multimodal.parseContainer("BZh9block".getBytes) === (("bzip2", -1)))
    val tarish = new Array[Byte](512)
    "ustar".getBytes.copyToArray(tarish, 257)
    assert(Multimodal.parseContainer(tarish) === (("tar", -1)))
    assert(Multimodal.parseContainer("plain text".getBytes) === (("unknown", -1)))
    // SAMPLE_INFO surfaces the format, with PDF pages in `depth`
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, pdf), (2L, Array(0x1F, 0x8B, 8, 0).map(_.toByte)))
      .toDF("id", "payload")
    val info = df.select(col("id"), org.apache.spark.sql.graft.Bridge.column(
        graft.functions.SampleInfo(
          org.apache.spark.sql.graft.Bridge.expression(col("payload")))).as("i"))
      .orderBy("id")
      .select(col("i.format"), col("i.depth"))
      .collect().map(_.toSeq)
    assert(info(0) === Seq("pdf", 2))
    assert(info(1) === Seq("gzip", null))
    // and through the distributed containerInfo path
    val ci = Multimodal.containerInfo(df, "id").orderBy("id").collect()
    assert(ci(0).getString(1) === "pdf" && ci(0).getInt(2) === 2)
    assert(ci(1).getString(1) === "gzip" && ci(1).getInt(2) === -1)
  }

  test("PDF pages: object streams inflate, content streams never count, delimiter-checked names") {
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes("US-ASCII")); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    // PDF-1.5 object-stream layout: the page dicts live ONLY inside a
    // FlateDecode /ObjStm payload — the modern default the old walk
    // reported as -1
    val objStmBody = "3 0 4 64 5 96 " +
      "<< /Type /Pages /Kids [4 0 R 5 0 R] /Count 2 >> " +
      "<< /Type /Page /Parent 3 0 R >> << /Type/Page /Parent 3 0 R >>"
    val z = deflate(objStmBody)
    val objStmPdf = "%PDF-1.5\n1 0 obj << /Type /Catalog /Pages 3 0 R >> endobj\n".getBytes("US-ASCII") ++
      s"2 0 obj << /Type /ObjStm /N 3 /First 14 /Filter /FlateDecode /Length ${z.length} >> stream\n".getBytes("US-ASCII") ++
      z ++ "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF".getBytes("US-ASCII")
    assert(Multimodal.parseContainer(objStmPdf) === (("pdf", 2)))
    // literal "/Type /Page" inside a CONTENT stream must not count,
    // and "/PageXyz" (delimiter check) must not count either
    val contentPdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R /Misc /PageXyz >> endobj\n" +
      "4 0 obj << /Length 34 >> stream\n" +
      "BT (/Type /Page /Type /Page) Tj ET\n" +
      "endstream endobj\n" +
      "trailer << /Root 1 0 R >>\n%%EOF").getBytes("US-ASCII")
    assert(Multimodal.parseContainer(contentPdf) === (("pdf", 1)))
    // no visible leaf but a /Pages /Count survives: cross-check wins
    val countOnly = ("%PDF-1.5\n" +
      "2 0 obj << /Type /Pages /Kids [9 0 R] /Count 7 >> endobj\n" +
      "%%EOF").getBytes("US-ASCII")
    assert(Multimodal.parseContainer(countOnly) === (("pdf", 7)))
    // corrupt Flate payload in an ObjStm: walk survives, honest -1
    val corrupt = "%PDF-1.5\n2 0 obj << /Type /ObjStm /Filter /FlateDecode >> stream\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4) ++ "\nendstream endobj\n%%EOF".getBytes("US-ASCII")
    assert(Multimodal.parseContainer(corrupt) === (("pdf", -1)))
  }

  /** encode a deterministic w×h RGB test image with the given format
    * through ImageIO (the spec's ground truth comes from reading the
    * same bytes back on the driver) */
  private def testImage(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 37 + y) % 256 << 16) | ((y * 53 + x) % 256 << 8) | ((x * y + 7) % 256))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out), s"ImageIO can't write $format")
    out.toByteArray
  }

  test("ssimPairs: identical=1, brightness shift < 1, unrelated ~ low, size mismatch and junk degrade") {
    val spark2 = spark
    import spark2.implicits._
    val base = testImage(16, 12, "png")
    // +16/255 brightness shift of the same structure
    val brighter = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
      val out = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16) {
        val rgb = img.getRGB(x, y)
        def cl(v: Int) = math.min(255, v + 16)
        out.setRGB(x, y, (cl((rgb >> 16) & 0xFF) << 16) |
          (cl((rgb >> 8) & 0xFF) << 8) | cl(rgb & 0xFF))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos); bos.toByteArray
    }
    // unrelated: inverted-gradient checkerboard, same size
    val unrelated = {
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16)
        img.setRGB(x, y, if ((x + y) % 2 == 0) 0xFFFFFF else 0)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val small = testImage(8, 8, "png")
    val df = Seq(
      (1L, base, base), (2L, base, brighter),
      (3L, base, unrelated), (4L, base, small),
      (5L, base, "junk".getBytes)).toDF("id", "a", "b")
    val r = Multimodal.ssimPairs(df, "id", "a", "b").collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) === 1.0, s"self-SSIM must be exactly 1: ${r(1L)}")
    assert(r(2L) > 0.5 && r(2L) < 1.0,
      s"brightness shift keeps structure: ${r(2L)}")
    assert(r(3L) < r(2L), s"unrelated must score below the shifted copy: $r")
    assert(r(4L) === -2.0 && r(5L) === -2.0, "mismatch/junk take the sentinel")
  }

  test("multimodal: real decode (javax.imageio) matches ImageIO ground truth pixel-for-pixel") {
    val spark2 = spark
    import spark2.implicits._
    val pngBytes = testImage(6, 4, "png")
    val bmpBytes = testImage(5, 3, "bmp")
    val df = Seq((1L, pngBytes), (2L, bmpBytes), (3L, "not an image".getBytes))
      .toDF("id", "payload")
    val rows = Multimodal.decodeImages(df, "id").orderBy("id").collect()
    assert(rows.length === 3)
    // undecodable payload degrades to an empty row, never a task failure
    assert(rows(2).getAs[Int]("width") === -1 &&
      rows(2).getAs[scala.collection.Seq[Float]]("pixels").isEmpty)
    Seq((rows(0), pngBytes, 6, 4), (rows(1), bmpBytes, 5, 3)).foreach {
      case (r, bytes, w, h) =>
        assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
        assert(r.getAs[Int]("channels") === 3)
        val px = r.getAs[scala.collection.Seq[Float]]("pixels")
        assert(px.length === w * h * 3)
        // ground truth: same bytes through ImageIO on the driver
        val truth = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        for (y <- 0 until h; x <- 0 until w) {
          val rgb = truth.getRGB(x, y)
          val base = (y * w + x) * 3
          assert(math.abs(px(base) - ((rgb >> 16) & 0xFF) / 255.0f) < 1e-6, s"R at ($x,$y)")
          assert(math.abs(px(base + 1) - ((rgb >> 8) & 0xFF) / 255.0f) < 1e-6, s"G at ($x,$y)")
          assert(math.abs(px(base + 2) - (rgb & 0xFF) / 255.0f) < 1e-6, s"B at ($x,$y)")
        }
    }
  }

  test("multimodal: Link columns resolve through Hadoop FS and decode == direct decode") {
    val spark2 = spark
    import spark2.implicits._
    // linked payload files on disk (the Link htype stores a URL/path;
    // resolution dereferences it to bytes at read time)
    val dir = java.nio.file.Files.createTempDirectory("links")
    val pngBytes = testImage(6, 4, "png")
    val bmpBytes = testImage(5, 3, "bmp")
    val p1 = dir.resolve("a.png"); java.nio.file.Files.write(p1, pngBytes)
    val p2 = dir.resolve("b.bmp"); java.nio.file.Files.write(p2, bmpBytes)
    val links = Seq(
      (1L, "x", p1.toUri.toString),
      (2L, "y", p2.toString),                     // bare path works too
      (3L, "z", dir.resolve("missing.png").toString), // absent -> NULL payload
      (4L, "w", null.asInstanceOf[String]))       // NULL link -> NULL payload
      .toDF("id", "tag", "img_link")
    val resolved = Multimodal.resolveLinks(links, "img_link")
    // original columns survive, payload appends
    assert(resolved.columns.toSeq === Seq("id", "tag", "img_link", "payload"))
    val byId = resolved.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(byId(1L).toSeq === pngBytes.toSeq)
    assert(byId(2L).toSeq === bmpBytes.toSeq)
    assert(byId(3L) == null && byId(4L) == null)
    // resolve -> decode equals direct decode of the same bytes;
    // unresolvable links classify as corrupt samples, not task failures
    val viaLinks = Multimodal.decodeImages(resolved, "id").orderBy("id").collect()
    val direct = Multimodal.decodeImages(
      Seq((1L, pngBytes), (2L, bmpBytes)).toDF("id", "payload"), "id")
      .orderBy("id").collect()
    (0 until 2).foreach { i =>
      assert(viaLinks(i).getAs[Int]("width") === direct(i).getAs[Int]("width"))
      assert(viaLinks(i).getAs[scala.collection.Seq[Float]]("pixels") ===
        direct(i).getAs[scala.collection.Seq[Float]]("pixels"))
    }
    assert(viaLinks(2).getAs[Int]("width") === -1)
    assert(viaLinks(3).getAs[Int]("width") === -1)
    // size cap: an over-limit object degrades to NULL, not an OOM risk
    val capped = Multimodal.resolveLinks(links.filter(col("id") === 1L),
      "img_link", maxBytes = 4L)
    assert(capped.collect().head.getAs[Array[Byte]]("payload") == null)
  }

  test("multimodal: palette GIF expands to RGB through the color model") {
    val spark2 = spark
    import spark2.implicits._
    val gifBytes = testImage(4, 4, "gif")
    val rows = Multimodal.decodeImages(Seq((1L, gifBytes)).toDF("id", "payload"), "id").collect()
    val r = rows(0)
    assert(r.getAs[Int]("channels") === 3)
    val px = r.getAs[scala.collection.Seq[Float]]("pixels")
    val truth = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gifBytes))
    // palette indices must have been mapped to colors, matching getRGB
    for (y <- 0 until 4; x <- 0 until 4) {
      val rgb = truth.getRGB(x, y)
      val base = (y * 4 + x) * 3
      assert(math.abs(px(base) - ((rgb >> 16) & 0xFF) / 255.0f) < 1e-6, s"R at ($x,$y)")
    }
  }

  test("multimodal: binary payload column carries htype metadata") {
    val docs = graft.sources.Tables(spark, dir, "documents").limit(20)
    val withBin = Multimodal.withBinaryPayload(docs, "text")
    assert(withBin.schema("payload").dataType.typeName === "binary")
    assert(withBin.schema("payload").metadata.getString("htype") === "image")
  }

  test("multimodal: resize halves dimensions, frame sampling strides") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 5L).map(i => (i, testImage(8, 8, "png"))).toDF("id", "payload")
    val decoded = Multimodal.decodeImages(df, "id")
    val small = Multimodal.resize(decoded, 4, 4).collect()
    // 4x4 spatial, 3 interleaved channels preserved
    assert(small.forall(_.getAs[scala.collection.Seq[Float]]("pixels").length == 48))
    val framed = Multimodal.sampleFrames(decoded, "pixels", 8).collect()
    assert(framed.forall(_.getAs[scala.collection.Seq[Float]]("pixels_sampled").length == 24))
  }

  test("multimodal: feature extraction consumes real decoded pixels") {
    val spark2 = spark
    import spark2.implicits._
    val bytes = testImage(6, 6, "png")
    val df = Seq((1L, bytes)).toDF("id", "payload")
    val decoded = Multimodal.decodeImages(df, "id")
    val feats = Multimodal.extractFeatures(decoded).collect()
    assert(feats.forall(_.getAs[scala.collection.Seq[Double]]("features").length == 4))
    val Seq(mean, std, mn, mx) = feats(0).getAs[scala.collection.Seq[Double]]("features").toSeq
    assert(mn <= mean && mean <= mx)
    assert(std > 0.0) // a real image has pixel variance; the old stub is gone
    // cross-check the mean against ImageIO ground truth
    val truth = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val vals = for (y <- 0 until 6; x <- 0 until 6; c <- 0 until 3) yield {
      val rgb = truth.getRGB(x, y)
      ((rgb >> (16 - 8 * c)) & 0xFF) / 255.0
    }
    assert(math.abs(mean - vals.sum / vals.size) < 1e-6)
  }

  /** 16-bit mono PCM WAV of a sine at `freq` Hz, amplitude `amp` */
  private def sineWav(rate: Int, freq: Double, amp: Double, nFrames: Int): Array[Byte] = {
    import javax.sound.sampled._
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val s = (amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toInt.toShort
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("audio near-dup: envelope fingerprints pair same-loudness clips across pitch") {
    val spark2 = spark
    import spark2.implicits._
    // amplitude-modulated tones: the fingerprint hashes the LOUDNESS
    // envelope, so the same envelope at a different pitch is a near-dup
    // and a reversed envelope is not
    def amWav(freq: Double, env: Double => Double): Array[Byte] = {
      import javax.sound.sampled._
      val rate = 8000; val nFrames = 8000
      val pcm = new Array[Byte](nFrames * 2)
      for (i <- 0 until nFrames) {
        val amp = env(i.toDouble / nFrames)
        val s = (amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toInt.toShort
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val ramp = (t: Double) => 0.1 + 0.8 * t
    val df = Seq(
      (1L, amWav(440.0, ramp)), (2L, amWav(523.25, ramp)), // same envelope
      (3L, amWav(440.0, t => 0.9 - 0.8 * t)),              // reversed
      (9L, "static noise".getBytes)).toDF("id", "payload")
    val fps = Multimodal.audioFingerprint64(Multimodal.decodeAudio(df, "id"))
    assert(fps.count() === 3, "undecodable clips must drop")
    val pairs = graft.operators.Dedup
      .hammingNearDupPairs(fps, "id", "bits", maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)),
      "same envelope pairs across pitch; a reversed envelope does not")
  }

  test("audio near-dup propose-verify: contour correlation confirms copies and kills bit-pattern collisions") {
    val spark2 = spark
    import spark2.implicits._
    def amWav(freq: Double, env: Double => Double): Array[Byte] = {
      import javax.sound.sampled._
      val rate = 8000; val nFrames = 8000
      val pcm = new Array[Byte](nFrames * 2)
      for (i <- 0 until nFrames) {
        val amp = env(i.toDouble / nFrames)
        val s = (amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toInt.toShort
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val ramp = (t: Double) => 0.1 + 0.8 * t
    val quad = (t: Double) => 0.1 + 0.8 * t * t // SAME >=mean bit shape,
                                                // different contour shape
    val pulse = (t: Double) => if ((t * 8).toInt % 2 == 0) 0.1 else 0.9
    val df = Seq(
      (10L, amWav(440.0, ramp)),             // base
      (11L, amWav(523.25, ramp)),            // pitch-shifted copy
      (12L, amWav(440.0, t => ramp(t) * 0.5)), // re-normalized copy
      (20L, amWav(440.0, quad)),             // bit-collision, not a copy
      (30L, amWav(440.0, pulse)),            // unrelated family
      (31L, amWav(660.0, pulse)),
      (99L, "junk".getBytes)).toDF("id", "payload")
    val tau = 0.995
    val got = Multimodal.audioNearDupPairs(df, "id", "payload",
        maxHamming = 6, tau = tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 11L), (10L, 12L), (11L, 12L), (30L, 31L)),
      s"verified pairs: $got")
    // the quadratic ramp COLLIDES with the linear family at the bit
    // level (both envelopes cross their mean once, mid-clip) — assert
    // it was genuinely proposed, then killed by the correlation verify
    val fps = Multimodal.audioFingerprint64(Multimodal.decodeAudio(df, "id"))
    val proposed = graft.operators.Dedup
      .hammingNearDupPairs(fps, "id", "bits", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(proposed.exists(p => p._1 == 20L || p._2 == 20L),
      s"the collision fixture must actually collide: $proposed")
  }

  test("multimodal audio: real WAV decode (javax.sound.sampled) yields correct signal features") {
    val spark2 = spark
    import spark2.implicits._
    val rate = 8000; val n = 4000
    val wav = sineWav(rate, freq = 440.0, amp = 0.5, nFrames = n)
    val df = Seq((1L, wav), (2L, "not audio".getBytes)).toDF("id", "payload")
    val rows = Multimodal.decodeAudio(df, "id").orderBy("id").collect()
    val a = rows(0)
    assert(a.getInt(1) === rate && a.getInt(2) === 1 && a.getLong(3) === n.toLong)
    assert(math.abs(a.getDouble(4) - 0.5) < 1e-9)             // duration
    assert(math.abs(a.getDouble(5) - 0.5 / math.sqrt(2)) < 0.01) // rms of a sine
    assert(math.abs(a.getDouble(6) - 2 * 440.0 / rate) < 0.01)   // zcr ~ 2f/rate
    assert(math.abs(a.getDouble(7) - 0.5) < 0.01)             // peak
    assert(rows(1).getInt(1) === -1)                          // corrupt row survives
  }

  test("audioSpectral: pure tones peak at their frequency; noise is flatter than a tone; bad bytes degrade") {
    val spark2 = spark
    import spark2.implicits._
    val rate = 8000
    val a440 = sineWav(rate, 440.0, 0.5, 16000)
    val a1k = sineWav(rate, 1000.0, 0.5, 16000)
    // deterministic pseudo-noise (LCG), full-band
    val noise = {
      import javax.sound.sampled._
      val n = 16000
      val pcm = new Array[Byte](n * 2)
      var seed = 12345L
      var i = 0
      while (i < n) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        val s = ((seed >>> 40).toShort / 2).toShort
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val df = Seq((1L, a440), (2L, a1k), (3L, noise),
      (4L, "junk".getBytes)).toDF("id", "payload")
    val r = Multimodal.audioSpectral(df, "id").collect()
      .map(x => x.getLong(0) -> x).toMap
    // log-spaced bins: the dominant bin must be within one bin step
    // (ratio (nyquist/40)^(1/63) ~ 1.076) of the true frequency
    val step = math.pow(rate / 2.0 / 40.0, 1.0 / 63)
    assert(math.abs(math.log(r(1L).getDouble(3) / 440.0)) <= math.log(step) + 1e-9,
      s"440Hz tone peaked at ${r(1L).getDouble(3)}")
    assert(math.abs(math.log(r(2L).getDouble(3) / 1000.0)) <= math.log(step) + 1e-9,
      s"1kHz tone peaked at ${r(2L).getDouble(3)}")
    // brightness orders: the 1k tone's centroid is above the 440 tone's
    assert(r(2L).getDouble(4) > r(1L).getDouble(4))
    // tonality: noise is much flatter than a pure tone
    assert(r(3L).getDouble(6) > 10 * r(1L).getDouble(6),
      s"noise flatness ${r(3L).getDouble(6)} vs tone ${r(1L).getDouble(6)}")
    // undecodable payload degrades to the -1 row, not a failure
    assert(r(4L).getInt(1) === -1)
  }

  test("multimodal audio: header-only WAV metadata matches the encoder") {
    val spark2 = spark
    import spark2.implicits._
    val wav = sineWav(11025, 220.0, 0.3, 5512)
    val df = Seq((1L, wav), (2L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val rows = Multimodal.audioInfo(df, "id").orderBy("id").collect()
    val a = rows(0)
    assert(a.getString(1) === "wav" && a.getInt(2) === 1 &&
      a.getInt(3) === 11025 && a.getInt(4) === 16 && a.getLong(5) === 5512L)
    assert(math.abs(a.getDouble(6) - 0.5) < 1e-3)
    assert(rows(1).getString(1) === "unknown")
  }

  test("multimodal audio: FLAC/OGG/MP3 header fast paths (hand-built bytes)") {
    // FLAC STREAMINFO: 44100 Hz, 2 ch, 16 bit, 44100 samples (1.0 s)
    val flac = {
      val bb = java.nio.ByteBuffer.allocate(4 + 4 + 34)
      bb.put("fLaC".getBytes)
      bb.put(0.toByte).put(0.toByte).put(0.toByte).put(34.toByte) // STREAMINFO, len 34
      bb.put(new Array[Byte](10)) // block/frame sizes
      // rate 44100 = 0x0AC44 in 20 bits; ch-1=1 (3 bits); bits-1=15 (5)
      bb.put(0x0A.toByte).put(0xC4.toByte)
      bb.put(((0x4 << 4) | (1 << 1)).toByte)     // rate low nibble, ch-1=1, bits hi=0
      bb.put(((15 & 0xF) << 4).toByte)           // bits low, samples 36 hi = 0
      bb.putInt(44100)                           // samples low 32
      bb.put(new Array[Byte](14))                // md5 pad (truncated fine)
      bb.array()
    }
    // OGG/Opus: 26-byte page header + 1-seg table + OpusHead packet
    val opus = {
      val head = "OpusHead".getBytes ++ Array[Byte](1, 2, 0, 0) ++ // ver, 2 ch, preskip
        java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(48000).array()
      "OggS".getBytes ++ new Array[Byte](22) ++ Array[Byte](1, head.length.toByte) ++ head
    }
    // OGG/Vorbis id header
    val vorbis = {
      val head = Array[Byte](1) ++ "vorbis".getBytes ++ Array[Byte](0, 0, 0, 0) ++
        Array[Byte](2) ++ // channels
        java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(44100).array() ++ new Array[Byte](9)
      "OggS".getBytes ++ new Array[Byte](22) ++ Array[Byte](1, head.length.toByte) ++ head
    }
    // MP3: ID3v2 tag (size 5, syncsafe) then an MPEG1 Layer III frame,
    // 44100 Hz, joint stereo
    val mp3 = "ID3".getBytes ++ Array[Byte](4, 0, 0, 0, 0, 0, 5) ++
      new Array[Byte](5) ++
      Array(0xFF, 0xFB, 0x90, 0x40).map(_.toByte)
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, flac), (2L, opus), (3L, vorbis), (4L, mp3))
      .toDF("id", "payload")
    val rows = Multimodal.audioInfo(df, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getDouble(6)))
    assert(rows(0) === ((1L, "flac", 2, 44100, 16, 44100L, 1.0)))
    assert(rows(1) === ((2L, "ogg", 2, 48000, 0, 0L, 0.0)))
    assert(rows(2) === ((3L, "ogg", 2, 44100, 0, 0L, 0.0)))
    assert(rows(3) === ((4L, "mp3", 2, 44100, 0, 0L, 0.0)))
    // corrupt flavors stay loud-format / quiet-fields, never throw
    assert(Multimodal.parseAudioHeader("fLaC".getBytes) === (("unknown", 0, 0, 0, 0L)))
    assert(Multimodal.parseAudioHeader(
      "OggS".getBytes ++ new Array[Byte](24)) === (("ogg", 0, 0, 0, 0L)))
    assert(Multimodal.parseAudioHeader(
      Array(0xFF, 0xE0, 0, 0).map(_.toByte).take(3)) === (("unknown", 0, 0, 0, 0L)))
  }

  test("multimodal video: MP4 box walk extracts brand, duration and track dimensions") {
    val spark2 = spark
    import spark2.implicits._
    def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(tpe.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    // mvhd v0: verflags, ctime, mtime, timescale=1000, duration=2500, tail zeros
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0).putInt(0).putInt(0).putInt(1000).putInt(2500)
      box("mvhd", bb.array())
    }
    // tkhd v0: 84-byte payload, width/height 16.16 in the last 8 bytes
    val tkhd = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.position(76)
      bb.putInt(640 << 16).putInt(360 << 16)
      box("tkhd", bb.array())
    }
    val mp4 = box("ftyp", "isom".getBytes ++ Array.fill[Byte](4)(0)) ++
      box("moov", mvhd ++ box("trak", tkhd))
    val df = Seq((1L, mp4), (2L, "AVI?".getBytes)).toDF("id", "payload")
    val rows = Multimodal.videoInfo(df, "id").orderBy("id").collect()
    val v = rows(0)
    assert(v.getString(1) === "isom")
    assert(math.abs(v.getDouble(2) - 2.5) < 1e-9)
    assert(v.getInt(3) === 640 && v.getInt(4) === 360)
    assert(rows(1).getString(1) === "unknown")
  }

  test("multimodal video: MJPEG frame decode (MP4 sample tables + AVI movi) matches ImageIO ground truth") {
    val spark2 = spark
    import spark2.implicits._
    // three solid-color JPEG frames (JPEG is lossy; ground truth is the
    // SAME bytes decoded through the image path, so compare is exact)
    def jpeg(r: Int, g: Int, bl: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gr = im.createGraphics()
      gr.setColor(new java.awt.Color(r, g, bl)); gr.fillRect(0, 0, 16, 12); gr.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", bos)
      bos.toByteArray
    }
    val frames = Seq(jpeg(200, 30, 30), jpeg(30, 200, 30), jpeg(30, 30, 200))
    def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(tpe.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    def be(i: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).putInt(i).array()
    // MP4: ftyp ++ mdat(frames) ++ moov/trak/mdia/minf/stbl with REAL
    // sample tables — stsd 'jpeg', per-sample stsz, one-chunk stsc/stco
    val ftyp = box("ftyp", "isom".getBytes ++ Array.fill[Byte](4)(0))
    val mdatDataOff = ftyp.length + 8
    val mdat = box("mdat", frames.reduce(_ ++ _))
    val stsd = box("stsd", be(0) ++ be(1) ++
      box("jpeg", Array.fill[Byte](70)(0))) // entry: size+fourcc+dontcare
    val stsz = box("stsz", be(0) ++ be(0) ++ be(frames.size) ++
      frames.flatMap(f => be(f.length)).toArray)
    val stsc = box("stsc", be(0) ++ be(1) ++ be(1) ++ be(frames.size) ++ be(1))
    val stco = box("stco", be(0) ++ be(1) ++ be(mdatDataOff))
    val mp4 = ftyp ++ mdat ++
      box("moov", box("trak", box("mdia", box("minf",
        box("stbl", stsd ++ stsz ++ stsc ++ stco)))))
    // AVI: RIFF('AVI ' LIST('movi' 00dc-chunks)) with RIFF even-padding
    def riffChunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array[Byte](0) else Array.empty[Byte]
      val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes("US-ASCII")).putInt(data.length)
      bb.array() ++ data ++ pad
    }
    val movi = "movi".getBytes ++ frames.flatMap(f => riffChunk("00dc", f)).toArray
    val aviBody = "AVI ".getBytes ++ riffChunk("LIST", movi)
    val avi = riffChunk("RIFF", aviBody)

    val df = Seq((1L, mp4), (2L, avi), (3L, "nope".getBytes ++ Array.fill[Byte](20)(7)))
      .toDF("id", "payload")
    val got = Multimodal.decodeVideoFrames(df, "id")
      .orderBy("id", "frame_idx").collect()
    val want = frames.map(f => Multimodal.decodeOne(0L, f))
    assert(want.forall(_.width === 16)) // ground truth itself decodes
    assert(got.length === frames.size * 2 + 1)
    for (container <- 0 to 1; k <- frames.indices) {
      val r = got(container * frames.size + k)
      assert(r.getInt(1) === k && r.getInt(2) === 16 && r.getInt(3) === 12)
      assert(r.getSeq[Float](5) === want(k).pixels.toSeq)
    }
    // undecodable payload → ONE sentinel row, batch survives
    val s = got.last
    assert(s.getLong(0) === 3L && s.getInt(1) === -1 && s.getInt(2) === -1)
    // stride=2 decodes frames 0 and 2 only, keeping original numbering
    val strided = Multimodal.decodeVideoFrames(df.filter($"id" === 1L), "id", stride = 2)
      .orderBy("frame_idx").collect()
    assert(strided.map(_.getInt(1)).toSeq === Seq(0, 2))
  }

  test("multimodal video: multi-page TIFF frames decode via ImageIO sequence readers; single image degenerates to one frame") {
    val spark2 = spark
    import spark2.implicits._
    def img(r: Int, g: Int, b: Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gr = im.createGraphics()
      gr.setColor(new java.awt.Color(r, g, b)); gr.fillRect(0, 0, 8, 6); gr.dispose()
      im
    }
    val frames = Seq(img(250, 10, 10), img(10, 250, 10), img(10, 10, 250))
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    w.setOutput(ios)
    w.prepareWriteSequence(null)
    frames.foreach(f => w.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
    w.endWriteSequence(); w.dispose(); ios.close()
    val tiff = bos.toByteArray
    // single-image payload: a PNG degenerates to one frame at idx 0
    val pbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img(77, 88, 99), "png", pbos)
    val df = Seq((1L, tiff), (2L, pbos.toByteArray)).toDF("id", "payload")
    val got = Multimodal.decodeVideoFrames(df, "id").orderBy("id", "frame_idx").collect()
    assert(got.length === 4)
    for ((f, k) <- frames.zipWithIndex) {
      val r = got(k)
      assert(r.getInt(1) === k && r.getInt(2) === 8 && r.getInt(3) === 6)
      val want = Multimodal.imagePixels(f)._4.toSeq // TIFF is lossless
      assert(r.getSeq[Float](5) === want)
    }
    assert(got(3).getLong(0) === 2L && got(3).getInt(1) === 0 &&
      got(3).getInt(2) === 8)
    // stride skips the decode of unsampled frames, keeps original numbering
    val strided = Multimodal.decodeVideoFrames(df.filter($"id" === 1L), "id", stride = 2)
      .orderBy("frame_idx").collect()
    assert(strided.map(_.getInt(1)).toSeq === Seq(0, 2))
  }

  test("image near-dup: aHash + banded hamming pairs match brute force on real pixels") {
    val spark2 = spark
    import spark2.implicits._
    // four base images; ids 10x+1 are light perturbations (a few pixels)
    // of 10x, so each pair should land within a small hamming radius
    def img(seedShift: Int, perturb: Int): Array[Byte] = {
      val w = 32; val h = 32
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        im.setRGB(x, y, (((x + seedShift) * 37 + y) % 256 << 16) |
          ((y * 53 + x) % 256 << 8) | ((x * y + 7) % 256))
      // perturb a handful of pixels — a near-dup, not an exact dup
      for (p <- 0 until perturb) im.setRGB(p % w, (p * 7) % h, 0xFFFFFF)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", out)
      out.toByteArray
    }
    val df = Seq(
      (10L, img(0, 0)), (11L, img(0, 6)),
      (20L, img(64, 0)), (21L, img(64, 6)),
      (30L, img(130, 0)), (40L, img(200, 0)),
      (99L, "not an image".getBytes)).toDF("id", "payload")
    val fps = Multimodal.aHash64(Multimodal.decodeImages(df, "id"))
    val rows = fps.collect()
    assert(rows.length === 6, "undecodable payloads must drop, not fingerprint")
    assert(rows.forall(_.getSeq[Byte](1).size === 64))

    val maxDist = 6
    val pairs = graft.operators.Dedup
      .hammingNearDupPairs(fps, "id", "bits", maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // brute-force oracle over the same fingerprints
    val fp = rows.map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    val exact = (for {
      a <- fp.keys; b <- fp.keys if a < b
      d = fp(a).zip(fp(b)).count { case (x, y) => x != y } if d <= maxDist
    } yield (a, b, d)).toSet
    assert(pairs.toSet === exact, "banded blocking must be COMPLETE (pigeonhole)")
    // the planted perturbed twins are found; unrelated bases are not
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(found.contains((10L, 11L)) && found.contains((20L, 21L)))
    assert(!found.contains((30L, 40L)))
  }

  test("SSIM-confirmed perceptual near-dup: hash-blocked pairs + SSIM verify == brute-force SSIM; no all-pairs plan") {
    val spark2 = spark
    import spark2.implicits._
    // three distinct 32x32 SMOOTH gradient bases (frequency keyed by the
    // family — aHash is a luminance-layout hash, so smooth structure is
    // what it is stable over); per base a JPEG re-encode (x+1, lossy but
    // structurally identical) and a light pixel perturbation (x+2);
    // plus a CROP (different dims — must never pair) and junk bytes
    def base(f: Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        // orientation-keyed gray ramps: rightward / downward / leftward.
        // Families are structurally DISTINCT (cross-family luminance
        // covariance ~0 or negative -> SSIM low), while within a family
        // a re-encode or 5-pixel perturbation keeps SSIM near 1.
        val l = f match {
          case 0 => 8 * x
          case 1 => 8 * y
          case _ => 8 * (31 - x)
        }
        im.setRGB(x, y, (l << 16) | (l << 8) | l)
      }
      im
    }
    def enc(im: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, out); out.toByteArray
    }
    def perturbed(f: Int): java.awt.image.BufferedImage = {
      val im = base(f)
      for (p <- 0 until 5) im.setRGB(p, (p * 7) % 32, 0xFFFFFF)
      im
    }
    val crop = base(0).getSubimage(0, 0, 16, 16)
    val rows = Seq(0, 1, 2).flatMap { f =>
      val id = (f + 1) * 100L
      Seq((id, enc(base(f), "png")), (id + 1, enc(base(f), "jpg")),
        (id + 2, enc(perturbed(f), "png")))
    } ++ Seq((900L, enc(crop, "png")), (999L, "junk".getBytes))
    val df = rows.toDF("id", "payload")

    val tau = 0.7
    val got = Multimodal.perceptualNearDupPairs(df, "id", "payload",
      maxHamming = 16, tau = tau)
    // no all-pairs anywhere: the candidate join is banded + salted
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val pairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute-force oracle: exact SSIM over EVERY decodable same-dims pair
    val byId = rows.toMap
    val decodable = rows.map(_._1).filter { id =>
      Multimodal.ssimOne(0L, byId(id), byId(id)).ssim > -2.0 }
    val brute = (for {
      a <- decodable; b <- decodable if a < b
      s = Multimodal.ssimOne(0L, byId(a), byId(b)).ssim if s >= tau
    } yield (a, b)).toSet
    assert(pairs === brute,
      s"hash-blocked+verified pairs $pairs != brute-force SSIM $brute")
    // the planted families verified; crop and junk never pair
    for (f <- Seq(0, 1, 2); id = (f + 1) * 100L)
      assert(pairs.contains((id, id + 1)) && pairs.contains((id, id + 2)), s"family $id")
    assert(pairs.forall { case (a, b) => a / 100 == b / 100 },
      "cross-family pair survived SSIM verification")
    // components group each base with its re-encode + perturbation
    val comps = graft.operators.Dedup
      .connectedComponents(got, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(comps === Set(Set(100L, 101L, 102L), Set(200L, 201L, 202L),
      Set(300L, 301L, 302L)))
  }

  test("SAMPLE_INFO: per-sample metadata as a TQL property (tensor_property.hpp:7-12)") {
    val spark2 = spark
    import spark2.implicits._
    // binary payloads: real container headers through the dialect
    val png = testImage(12, 8, "png")
    val wav = sineWav(8000, 440.0, 0.5, 4000)
    val df = Seq((1L, png), (2L, wav), (3L, "mystery bytes".getBytes))
      .toDF("id", "payload")
    val out = graft.dialect.Tql.queryDataset(df,
      """SELECT id, SAMPLE_INFO(payload)['format'] AS fmt,
        |SAMPLE_INFO(payload)['width'] AS w,
        |SAMPLE_INFO(payload)['sample_rate'] AS rate,
        |SAMPLE_INFO(payload)['duration'] AS dur
        |ORDER BY id""".stripMargin).collect()
    assert(out(0).getString(1) === "png" && out(0).getInt(2) === 12)
    assert(out(1).getString(1) === "wav" && out(1).getInt(3) === 8000)
    assert(math.abs(out(1).getDouble(4) - 0.5) < 1e-9)
    assert(out(2).getString(1) === "unknown" && out(2).isNullAt(2))

    // array tensors: dtype + logical shape — flat fallback vs declared dims
    val emb = Seq((1L, Array(1f, 2f, 3f, 4f, 5f, 6f))).toDF("id", "vec")
    val flat = graft.dialect.Tql.queryDataset(emb,
      "SELECT id, SAMPLE_INFO(vec)['dtype'] AS dt, SAMPLE_INFO(vec)['shape'] AS sh")
      .collect()
    assert(flat(0).getString(1) === "float")
    assert(flat(0).getSeq[Long](2) === Seq(6L))
    val rect = graft.dialect.Tql.queryDataset(
      Multimodal.withShape(emb, "vec", 2, 3),
      "SELECT id, SAMPLE_INFO(vec)['shape'] AS sh").collect()
    assert(rect(0).getSeq[Long](1) === Seq(2L, 3L))
  }
}
