package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted materialized aggregate view over an append-mostly table —
  * the batch-facing lifecycle around [[IncrementalAgg]]'s algebraic
  * state, in the same LSM posture as the streaming index maintainers:
  * `create` writes the base state, each `refresh(delta)` APPENDS the
  * delta's state as a new segment (O(delta) write — history state is
  * never read, let alone the history itself), readers merge segments
  * algebraically on load, and `compact` folds the segment pile back to
  * one. Because count/sum/min/max merge associatively, the maintained
  * view is bit-identical to a full recompute at every point — which is
  * exactly what the spec asserts.
  */
object MaterializedAgg {

  /** materialize the view: base state becomes segment zero */
  def create(df: DataFrame, keys: Seq[String], valueCol: String,
      dir: String): Unit =
    IncrementalAgg.state(df, keys, valueCol)
      .write.mode("overwrite").parquet(dir)

  /** absorb appended rows: aggregate ONLY the delta, append its state */
  def refresh(delta: DataFrame, keys: Seq[String], valueCol: String,
      dir: String): Unit =
    IncrementalAgg.state(delta, keys, valueCol)
      .write.mode("append").parquet(dir)

  /** merge-on-read current state (one row per key) */
  def state(spark: SparkSession, dir: String, keys: Seq[String]): DataFrame = {
    recover(java.nio.file.Paths.get(dir))
    val segs = spark.read.parquet(dir)
    // a single groupBy IS the algebraic merge of however many segments
    // have accumulated
    IncrementalAgg.merge(segs.limit(0), segs, keys)
  }

  /** reader view with derived aggregates (avg from sum/count) */
  def read(spark: SparkSession, dir: String, keys: Seq[String]): DataFrame =
    IncrementalAgg.readout(state(spark, dir, keys), keys)

  /** Ingest-time maintenance: every micro-batch folds into the view as
    * one O(batch) state segment — the Structured Streaming twin of
    * [[refresh]], same files, same readers. `foreachBatch` is
    * at-least-once and sum/count state is not idempotent, so each
    * segment is keyed by [[graft.streaming.Lsm.segmentKey]]: a batch
    * replayed after a crash replaces its first delivery's
    * `part-<key>-*` files instead of landing twice. */
  def maintain(stream: DataFrame, keys: Seq[String], valueCol: String,
      dir: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val key = graft.streaming.Lsm.segmentKey(checkpoint, batchId)
          val stage = s"$dir.batch-$key"
          IncrementalAgg.state(batch, keys, valueCol).write.mode("overwrite").parquet(stage)
          swapSegment(java.nio.file.Paths.get(dir), java.nio.file.Paths.get(stage), key)
        }
      }
      .start()

  /** Replace segment `key` with the staged files: drop every
    * `part-<key>-*` file, move the staged `part-*` files in under that
    * prefix, drop the staging dir. A crash anywhere leaves the batch
    * uncommitted, and its replay redoes the whole swap. Same monitor as
    * [[compact]], so a compaction never snapshots a half-swapped key. */
  private def swapSegment(root: java.nio.file.Path, stage: java.nio.file.Path,
      key: String): Unit = synchronized {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    def files(d: java.nio.file.Path, prefix: String) = {
      val l = Files.list(d)
      try l.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toList
      finally l.close()
    }
    val prefix = s"part-$key-"
    Files.createDirectories(root)
    files(root, prefix).foreach(Files.deleteIfExists(_))
    files(stage, "part-").foreach(p =>
      Files.move(p, root.resolve(prefix + p.getFileName.toString.stripPrefix("part-"))))
    deleteTree(stage)
  }

  /** delete a directory and everything under it, if it exists */
  private def deleteTree(d: java.nio.file.Path): Unit =
    if (java.nio.file.Files.isDirectory(d)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(d)
      try w.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally w.close()
    }

  /** Fold the accumulated segments back to one (bounds read cost).
    * Concurrent-append-safe: the segment FILES are snapshotted first
    * (both raw `part-*` appends AND previous `compacted-*` outputs, so
    * the pile stays bounded across repeated compactions), only those
    * files are merged, and only those files are deleted — a segment
    * appended mid-compaction (e.g. by a [[maintain]] micro-batch) is
    * neither read nor removed, it simply survives.
    *
    * Crash safety is a replayable journal: BEFORE any file moves, a
    * `_compact-<txid>` journal (written atomically via rename) records
    * the staging dir and the exact snapshot being replaced. The swap
    * then is (a) move staged files in as `compacted-<txid>-*`, (b)
    * delete the snapshot, (c) delete the journal. A crash at any point
    * is repaired by [[recover]] — run at the start of every [[compact]]
    * and [[state]] — which replays (a)–(c) idempotently: moves are
    * skip-if-present, deletes are delete-if-exists. No ordering bakes
    * in a double count (the journal lands before any compacted file
    * does) and none loses appended state (the snapshot is only dropped
    * after every staged file is in place). Readers may double-count
    * only inside the (a)→(b) window, as before. */
  def compact(spark: SparkSession, dir: String, keys: Seq[String]): Unit = synchronized {
    import java.nio.file.{Files, Paths}
    recover(Paths.get(dir))
    val snapshot = segmentFiles(Paths.get(dir))
    if (snapshot.nonEmpty) {
      val txid = java.util.UUID.randomUUID().toString
      val tmp = s"$dir.compacting-$txid"
      val segs = spark.read.parquet(snapshot.map(_.toString): _*)
      IncrementalAgg.merge(segs.limit(0), segs, keys)
        .write.mode("overwrite").parquet(tmp)
      // commit point: journal the staging dir + snapshot atomically
      val journal = Paths.get(dir).resolve(s"_compact-$txid")
      val jtmp = Paths.get(dir).resolve(s"_compact-$txid.tmp")
      Files.write(jtmp, (tmp +: snapshot.map(_.toString))
        .mkString("\n").getBytes("UTF-8"))
      Files.move(jtmp, journal, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      replay(Paths.get(dir), journal)
    }
  }

  /** live segment files: raw appended state plus prior compaction output */
  private def segmentFiles(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      java.nio.file.Files.isRegularFile(p) &&
        (n.startsWith("part-") || n.startsWith("compacted-"))
    }.toList
    finally walk.close()
  }

  /** Replay any interrupted compaction's journal (idempotent).
    * Synchronized on the SAME monitor as [[compact]]: an un-serialized
    * reader-side recover could race a live compaction — two threads
    * replaying one journal both pass the skip-if-present check and the
    * loser's move throws, and the .tmp cleanup would read an in-flight
    * compaction's staging dir as crash garbage and delete it out from
    * under the commit. In-JVM only, like the rest of the file protocol;
    * cross-process writers remain the caller's stop-the-world contract. */
  private def recover(root: java.nio.file.Path): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(root)) {
      val walk = java.nio.file.Files.list(root)
      val journals = try walk.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("_compact-") && !n.endsWith(".tmp")
      }.toList finally walk.close()
      journals.foreach(replay(root, _))
      // a .tmp journal never committed: it and its staging dir are garbage
      val walk2 = java.nio.file.Files.list(root)
      val tmps = try walk2.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("_compact-") && n.endsWith(".tmp")
      }.toList finally walk2.close()
      tmps.foreach { t =>
        val first = new String(java.nio.file.Files.readAllBytes(t), "UTF-8")
          .split("\n").headOption.getOrElse("")
        if (first.nonEmpty) deleteTree(java.nio.file.Paths.get(first))
        java.nio.file.Files.deleteIfExists(t)
      }
    }
  }

  /** execute a journal's swap: stage-in (skip-if-present), drop the
    * snapshot, drop the staging dir, drop the journal — all idempotent */
  private def replay(root: java.nio.file.Path, journal: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val lines = new String(Files.readAllBytes(journal), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)
    val txid = journal.getFileName.toString.stripPrefix("_compact-")
    val tmp = Paths.get(lines.head)
    if (Files.isDirectory(tmp)) {
      val tw = Files.walk(tmp)
      val staged = try tw.iterator().asScala.filter(p =>
        Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-")).toList
      finally tw.close()
      staged.foreach { p =>
        val dest = root.resolve(s"compacted-$txid-${p.getFileName}")
        if (!Files.exists(dest)) Files.move(p, dest)
      }
    }
    lines.tail.foreach(f => Files.deleteIfExists(Paths.get(f)))
    deleteTree(tmp)
    Files.deleteIfExists(journal)
  }
}
