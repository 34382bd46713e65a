package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.Snapshots

/** Dataset lifecycle: append/commit, time-travel, delete, update, DDL. */
class SnapshotsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.Session.local(4)

  override def afterAll(): Unit = spark.stop()

  private def freshRoot(): String =
    Files.createTempDirectory("graft-snap").toString

  import scala.language.implicitConversions

  test("create + append is O(delta) and versions accumulate") {
    val root = freshRoot()
    import spark.implicits._
    val v1 = Snapshots.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(v1 == 1L)
    val v2 = Snapshots.append(spark, root, Seq((3L, "c")).toDF("id", "s"))
    assert(v2 == 2L)
    assert(Snapshots.open(spark, root).count() == 3)
    // time travel: v1 still has 2 rows
    assert(Snapshots.open(spark, root, Some(1L)).count() == 2)
    assert(Snapshots.history(root) == Seq(1L, 2L))
    // appending wrote exactly one new segment, not a table rewrite
    val segs = new java.io.File(root).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("seg-"))
    assert(segs == 2)
  }

  test("append rejects schema mismatch, aligns column order") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, "a")).toDF("id", "s"))
    // reordered columns are fine
    Snapshots.append(spark, root, Seq(("b", 2L)).toDF("s", "id"))
    val rows = Snapshots.open(spark, root).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      Snapshots.append(spark, root, Seq((3L, "c", 1.0)).toDF("id", "s", "extra"))
    }
  }

  test("deleteWhere and update are copy-on-write with history intact") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root,
      (1L to 10L).map(i => (i, i * 10.0)).toDF("id", "v"))
    Snapshots.deleteWhere(spark, root, col("id") > 8)
    assert(Snapshots.open(spark, root).count() == 8)
    Snapshots.update(spark, root, "v", lit(0.0), col("id") === 1L)
    val updated = Snapshots.open(spark, root).filter(col("id") === 1L).collect()
    assert(updated.head.getDouble(1) == 0.0)
    // original still visible at v1
    assert(Snapshots.open(spark, root, Some(1L)).count() == 10)
  }

  test("deleteWhere keeps rows whose predicate is NULL (SQL DELETE semantics)") {
    val root = freshRoot()
    import spark.implicits._
    // v is NULL for id=2: DELETE WHERE v > 15 must delete ONLY id=3
    Snapshots.create(spark, root,
      Seq((1L, Some(10.0)), (2L, None), (3L, Some(20.0))).toDF("id", "v"))
    Snapshots.deleteWhere(spark, root, col("v") > 15.0)
    val ids = Snapshots.open(spark, root).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L), "NULL-predicate row must survive the delete")
  }

  test("add/drop/rename column") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Snapshots.addColumn(spark, root, "flag", lit(true))
    assert(Snapshots.open(spark, root).columns.toSeq == Seq("id", "s", "flag"))
    Snapshots.renameColumn(spark, root, "flag", "active")
    assert(Snapshots.open(spark, root).columns.contains("active"))
    Snapshots.dropColumn(spark, root, "s")
    assert(Snapshots.open(spark, root).columns.toSeq == Seq("id", "active"))
    // time travel sees the pre-DDL schema
    assert(Snapshots.open(spark, root, Some(1L)).columns.toSeq == Seq("id", "s"))
  }

  test("branches: O(1) cut, isolated appends, append-only merge") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))

    Snapshots.createBranch(root, "dev")
    assert(Snapshots.branches(root) == Seq("main", "dev").sorted ||
           Snapshots.branches(root) == Seq("main", "dev"))
    assert(Snapshots.branchPoint(root, "dev") == ("main", 1L))

    // appends on dev are invisible on main, and vice versa
    Snapshots.append(spark, root, Seq((3L, "c")).toDF("id", "s"), branch = "dev")
    assert(Snapshots.open(spark, root, branch = "dev").count() == 3)
    assert(Snapshots.open(spark, root).count() == 2)
    Snapshots.append(spark, root, Seq((9L, "z")).toDF("id", "s"))
    assert(Snapshots.open(spark, root, branch = "dev").count() == 3)

    // merge splices dev's delta into main without data movement
    Snapshots.merge(spark, root, "dev")
    val ids = Snapshots.open(spark, root).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 9L))

    // a branch that rewrote inherited segments refuses the merge
    Snapshots.createBranch(root, "cow")
    Snapshots.deleteWhere(spark, root, col("id") === 1L, branch = "cow")
    assertThrows[IllegalArgumentException](Snapshots.merge(spark, root, "cow"))
  }

  test("optimize bin-packs small segments; expire + vacuum reclaim them") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, "a")).toDF("id", "s"))
    (2L to 6L).foreach(i =>
      Snapshots.append(spark, root, Seq((i, s"r$i")).toDF("id", "s")))
    val before = Snapshots.open(spark, root).collect().map(_.getLong(0)).toSet
    def segDirs() = Files.list(java.nio.file.Paths.get(root)).iterator()
      .asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.startsWith("seg-")).toSeq
    assert(segDirs().size == 6)

    val vOpt = Snapshots.optimize(spark, root, targetBytes = 1L << 20)
    // data identical, one compacted segment in the new manifest
    assert(Snapshots.open(spark, root).collect().map(_.getLong(0)).toSet == before)
    assert(Snapshots.open(spark, root, Some(vOpt)).inputFiles.length < 6)
    // old versions still time-travel (their segments are untouched)
    assert(Snapshots.open(spark, root, Some(3L)).count() == 3)
    // second optimize is a no-op (single small segment left)
    assert(Snapshots.optimize(spark, root, targetBytes = 1L << 20) == vOpt)

    // expire everything but the head, then vacuum the orphaned segments
    val expired = Snapshots.expireVersions(root, keepLast = 1)
    assert(expired == (1L to 6L))
    val dead = Snapshots.vacuum(root)
    assert(dead.size == 6, s"vacuum removed $dead")
    assert(Snapshots.open(spark, root).collect().map(_.getLong(0)).toSet == before)
    intercept[IllegalArgumentException](Snapshots.open(spark, root, Some(3L)))
  }

  test("expireVersions keeps tagged snapshots; vacuum keeps branch-shared segments") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Snapshots.append(spark, root, Seq((2L, "b")).toDF("id", "s"))
    Snapshots.tag(root, "keepme", version = Some(1L))
    Snapshots.createBranch(root, "dev")
    Snapshots.append(spark, root, Seq((3L, "c")).toDF("id", "s"))
    val expired = Snapshots.expireVersions(root, keepLast = 1)
    assert(!expired.contains(1L), "tagged version must survive expiry")
    // vacuum removes nothing: v1 tagged, v2 segments shared with branch dev
    assert(Snapshots.vacuum(root).isEmpty)
    assert(Snapshots.openTag(spark, root, "keepme").count() == 1)
    assert(Snapshots.open(spark, root, branch = "dev").count() == 2)
  }

  test("diff: append-only pairs use the manifest fast path; rewrites content-diff") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Snapshots.append(spark, root, Seq((3L, "c"), (4L, "d")).toDF("id", "s"))
    // append-only: inserts come straight from the delta segment
    val d12 = Snapshots.diff(spark, root, 1L, 2L)
    assert(d12.filter(col("change") === "insert").collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L))
    assert(d12.filter(col("change") === "delete").count() == 0)
    // the fast path must read ONLY the delta segment, not the full snapshot
    assert(d12.inputFiles.length == Snapshots.open(spark, root, Some(2L))
      .inputFiles.length - Snapshots.open(spark, root, Some(1L)).inputFiles.length)
    // reversed pair reports deletes
    val d21 = Snapshots.diff(spark, root, 2L, 1L)
    assert(d21.collect().forall(_.getString(2) == "delete"))
    // copy-on-write rewrite: content diff finds exactly the deleted row
    Snapshots.deleteWhere(spark, root, col("id") === 3L)
    val d23 = Snapshots.diff(spark, root, 2L, 3L)
    val changes = d23.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(changes == Set((3L, "delete")))
    // same-version diff is empty
    assert(Snapshots.diff(spark, root, 2L, 2L).count() == 0)
  }

  test("segment min/max sidecars prune whole segments in openPruned") {
    val root = freshRoot()
    import spark.implicits._
    // three appends with disjoint id ranges -> three segments with stats
    Snapshots.create(spark, root, (1L to 100L).map(i => (i, s"r$i")).toDF("id", "s"))
    Snapshots.append(spark, root, (101L to 200L).map(i => (i, s"r$i")).toDF("id", "s"))
    Snapshots.append(spark, root, (201L to 300L).map(i => (i, s"r$i")).toDF("id", "s"))
    val all = Snapshots.open(spark, root)
    val pruned = Snapshots.openPruned(spark, root, "id", 120, 180)
    // reads only the middle segment's files
    assert(pruned.inputFiles.length < all.inputFiles.length,
      s"${pruned.inputFiles.length} vs ${all.inputFiles.length}")
    // identical rows once the caller applies its row-level filter
    val want = all.filter(col("id").between(120, 180))
      .collect().map(_.getLong(0)).toSet
    val got = pruned.filter(col("id").between(120, 180))
      .collect().map(_.getLong(0)).toSet
    assert(got == want && want.size == 61)
    // out-of-range scan reads nothing
    assert(Snapshots.openPruned(spark, root, "id", 1000, 2000).count() == 0)
    // string column stats exist but non-numeric ranges stay conservative
    assert(Snapshots.segmentStats(root,
      Snapshots.open(spark, root).inputFiles.head
        .split("/").dropRight(1).last, "s").nonEmpty)
    // conjunctive pruning: a second column's range compounds skipping
    val root2 = freshRoot()
    Snapshots.create(spark, root2,
      (1L to 100L).map(i => (i, i % 10)).toDF("id", "b"))
    Snapshots.append(spark, root2,
      (101L to 200L).map(i => (i, 10 + i % 10)).toDF("id", "b"))
    Snapshots.append(spark, root2,
      (201L to 300L).map(i => (i, 20 + i % 10)).toDF("id", "b"))
    // id range admits segments 2+3, b range only segment 2
    val multi = Snapshots.openPrunedAll(spark, root2,
      Seq(("id", 150.0, 300.0), ("b", 10.0, 19.0)))
    val all2 = Snapshots.open(spark, root2)
    assert(multi.inputFiles.length < all2.inputFiles.length / 2 + 1,
      s"${multi.inputFiles.length} vs ${all2.inputFiles.length}")
    val want2 = all2.filter(col("id").between(150, 300) && col("b").between(10, 19))
      .collect().map(_.getLong(0)).toSet
    val got2 = multi.filter(col("id").between(150, 300) && col("b").between(10, 19))
      .collect().map(_.getLong(0)).toSet
    assert(got2 == want2 && want2.nonEmpty)
  }

  test("bloom sidecars prune scattered keys min/max cannot; appends auto-maintain") {
    val root = freshRoot()
    import spark.implicits._
    // keys are md5-scattered across segments: every segment's
    // lexicographic [min, max] covers essentially the whole key space,
    // so RANGE stats cannot prune a point lookup — the bloom must
    def key(i: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Snapshots.create(spark, root, (1L to 100L).map(i => (i, key(i))).toDF("id", "k"))
    Snapshots.append(spark, root, (101L to 200L).map(i => (i, key(i))).toDF("id", "k"))
    Snapshots.enableBloom(spark, root, Seq("k"), fpp = 0.001)
    // post-enable appends write their bloom automatically (O(delta))
    Snapshots.append(spark, root, (201L to 300L).map(i => (i, key(i))).toDF("id", "k"))
    val all = Snapshots.open(spark, root)
    // range stats alone keep everything for this probe (scattered keys)
    val probe = key(250L) // lives only in segment 3
    val ranged = Snapshots.openPruned(spark, root, "id", 1, 300)
    assert(ranged.inputFiles.length == all.inputFiles.length)
    // the bloom path reads a strict subset — and the right rows survive
    val pruned = Snapshots.openPrunedEq(spark, root, "k", probe)
    assert(pruned.inputFiles.length < all.inputFiles.length,
      s"${pruned.inputFiles.length} vs ${all.inputFiles.length}")
    val got = pruned.filter(col("k") === probe).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(250L))
    // integral lookup goes through the same path
    Snapshots.enableBloom(spark, root, Seq("k", "id"), fpp = 0.001)
    val byId = Snapshots.openPrunedEq(spark, root, "id", 42L)
    assert(byId.inputFiles.length < all.inputFiles.length)
    assert(byId.filter(col("id") === 42L).count() == 1)
    // a value present nowhere prunes everything (modulo fpp at 0.001
    // over 3 segments — deterministic bloom, stable outcome)
    assert(Snapshots.openPrunedEq(spark, root, "k", "nope").count() == 0)
    // identity contract: for EVERY key, pruned+filter == full filter
    val sample = Seq(1L, 99L, 101L, 199L, 201L, 299L).map(key)
    sample.foreach { k =>
      val a = Snapshots.openPrunedEq(spark, root, "k", k)
        .filter(col("k") === k).collect().map(_.getLong(0)).toSet
      val b = all.filter(col("k") === k).collect().map(_.getLong(0)).toSet
      assert(a == b && a.size == 1)
    }
    // non-bloom, non-stats column value keeps everything (conservative)
    val noBloom = Snapshots.openPrunedEq(spark, root, "k",
      new java.lang.StringBuilder("x")) // unhandled type -> keep all
    assert(noBloom.inputFiles.length == all.inputFiles.length)
    // cross-domain probes never prune: the bloom hashes in the COLUMN's
    // domain, so a String against the integral id column (implicit-cast
    // reachable) or a Number against the string k column keeps all
    // segments instead of hashing garbage and dropping live ones
    assert(Snapshots.openPrunedEq(spark, root, "id", "42")
      .inputFiles.length == all.inputFiles.length)
    assert(Snapshots.openPrunedEq(spark, root, "k", 42L)
      .inputFiles.length == all.inputFiles.length)
    // a fractional probe of an integral column is likewise conservative
    assert(Snapshots.openPrunedEq(spark, root, "id", 42.5)
      .inputFiles.length == all.inputFiles.length)
    // double-typed columns are rejected loudly
    val root2 = freshRoot()
    Snapshots.create(spark, root2, Seq((1L, 0.5)).toDF("id", "d"))
    intercept[IllegalArgumentException] {
      Snapshots.enableBloom(spark, root2, Seq("d"))
    }
  }

  test("openAsOf reads the version committed at-or-before an instant") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, "a")).toDF("id", "s"))
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100) // manifest mtimes have second granularity on some fs
    Snapshots.append(spark, root, Seq((2L, "b")).toDF("id", "s"))
    assert(Snapshots.versionAsOf(root, afterV1) === 1L)
    assert(Snapshots.openAsOf(spark, root, afterV1).count() === 1L)
    assert(Snapshots.openAsOf(spark, root, System.currentTimeMillis()).count() === 2L)
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(root, 1000L) // 1970: nothing existed
    }
  }

  test("appendWithExpectations lands only valid rows, returns quarantine with reasons") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, 5.0)).toDF("id", "x"))
    val delta = Seq((2L, 3.0), (3L, -1.0), (4L, 100.0)).toDF("id", "x")
    val rules = Seq(
      "positive" -> (col("x") > 0),
      "bounded" -> (col("x") < 50))
    val (v, quarantine) = Snapshots.appendWithExpectations(spark, root, delta, rules)
    assert(v === 2L)
    assert(Snapshots.open(spark, root).collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L), "only the fully-valid row appends")
    val q = quarantine.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](2).toList).toMap
    assert(q === Map(3L -> List("positive"), 4L -> List("bounded")))
  }

  test("fastCount answers from sidecars, falls back when one is missing") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, (1L to 120L).map(i => (i, s"r$i")).toDF("id", "s"))
    Snapshots.append(spark, root, (121L to 200L).map(i => (i, s"r$i")).toDF("id", "s"))
    assert(Snapshots.fastCount(spark, root) === 200L)
    // time travel counts the old manifest
    assert(Snapshots.fastCount(spark, root, Some(1L)) === 120L)
    // delete one sidecar: the count must stay exact via the fallback
    val seg = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg-")).head.getName
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, s"$seg.stats.json"))
    assert(Snapshots.fastCount(spark, root) === 200L)
  }

  test("mergeInto upserts by key; insertOnly appends only new keys") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    val v0 = Snapshots.currentVersion(root)
    // upsert: 2 updates, 4 inserts
    Snapshots.mergeInto(spark, root,
      Seq((2L, "B"), (4L, "D")).toDF("id", "s"), Seq("id"))
    val after = Snapshots.open(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
    // time travel: pre-merge version intact
    assert(Snapshots.open(spark, root, Some(v0)).count() == 3)
    // insertOnly: existing key 1 is NOT rewritten, key 5 appends
    Snapshots.mergeInto(spark, root,
      Seq((1L, "ZZZ"), (5L, "e")).toDF("id", "s"), Seq("id"),
      insertOnly = true)
    val after2 = Snapshots.open(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after2 == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D", 5L -> "e"))
  }

  test("schema evolution: appended new column null-fills old segments at read") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // strict append still rejects a drifted schema
    intercept[IllegalArgumentException] {
      Snapshots.append(spark, root, Seq((3L, "c", 0.5)).toDF("id", "s", "score"))
    }
    Snapshots.append(spark, root, Seq((3L, "c", 0.5)).toDF("id", "s", "score"),
      allowSchemaEvolution = true)
    val cur = Snapshots.open(spark, root)
    assert(cur.columns.sorted.toSeq == Seq("id", "s", "score"))
    val byId = cur.collect().map(r =>
      r.getLong(r.fieldIndex("id")) ->
        (if (r.isNullAt(r.fieldIndex("score"))) None
         else Some(r.getDouble(r.fieldIndex("score"))))).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some(0.5)))
    // an evolved table accepts appends missing the new column too
    Snapshots.append(spark, root, Seq((4L, "d")).toDF("id", "s"),
      allowSchemaEvolution = true)
    assert(Snapshots.open(spark, root).count() == 4)
  }

  test("tags pin a branch version") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq(1L, 2L).toDF("id"))
    Snapshots.tag(root, "v1.0")
    Snapshots.append(spark, root, Seq(3L).toDF("id"))
    assert(Snapshots.open(spark, root).count() == 3)
    assert(Snapshots.openTag(spark, root, "v1.0").count() == 2)
    assert(Snapshots.tags(root) == Seq("v1.0"))
    // tag on a branch head
    Snapshots.createBranch(root, "exp")
    Snapshots.append(spark, root, Seq(4L).toDF("id"), branch = "exp")
    Snapshots.tag(root, "exp-snap", branch = "exp")
    assert(Snapshots.openTag(spark, root, "exp-snap").count() == 4)
  }

  test("async appends apply in submission order and flush awaits them") {
    val root = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq(1L).toDF("id"))
    val f2 = Snapshots.appendAsync(spark, root, Seq(2L).toDF("id"))
    val f3 = Snapshots.appendAsync(spark, root, Seq(3L).toDF("id"))
    Snapshots.flushAsync()
    // single sync worker = total order: versions land 2 then 3
    assert(f2.get() == 2L && f3.get() == 3L)
    assert(Snapshots.open(spark, root).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("push/pull replicate only missing versions, segments before manifests") {
    val root = freshRoot()
    val remote = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Snapshots.append(spark, root, Seq((3L, "c")).toDF("id", "s"))
    Snapshots.tag(root, "v2")
    val shipped1 = Snapshots.push(spark, root, remote)
    assert(shipped1 == Seq("main:1", "main:2"))
    assert(Snapshots.open(spark, remote).count() == 3)
    assert(Snapshots.openTag(spark, remote, "v2").count() == 3)
    // incremental: a second push with nothing new ships nothing
    assert(Snapshots.push(spark, root, remote).isEmpty)
    // only the delta ships after one more local append
    Snapshots.append(spark, root, Seq((4L, "d")).toDF("id", "s"))
    assert(Snapshots.push(spark, root, remote) == Seq("main:3"))
    assert(Snapshots.open(spark, remote).count() == 4)
    // remote-side commit flows back via pull, branches included
    Snapshots.createBranch(remote, "exp")
    Snapshots.append(spark, remote, Seq((5L, "e")).toDF("id", "s"), branch = "exp")
    val pulled = Snapshots.pull(spark, root, remote)
    assert(pulled.toSet == Set("exp:1", "exp:2"))
    assert(Snapshots.open(spark, root, branch = "exp").count() == 5)
    // async push returns a future that completes with the shipped ids
    Snapshots.append(spark, root, Seq((6L, "f")).toDF("id", "s"))
    assert(Snapshots.pushAsync(spark, root, remote).get() == Seq("main:4"))
    assert(Snapshots.open(spark, remote).count() == 5)
  }

  test("replication refuses diverged histories (fast-forward only)") {
    val root = freshRoot()
    val remote = freshRoot()
    import spark.implicits._
    Snapshots.create(spark, root, Seq(1L).toDF("id"))
    Snapshots.push(spark, root, remote)
    // both sides commit a DIFFERENT version 2
    Snapshots.append(spark, root, Seq(2L).toDF("id"))
    Snapshots.append(spark, remote, Seq(99L).toDF("id"))
    intercept[IllegalArgumentException] {
      Snapshots.push(spark, root, remote)
    }
  }

  test("createIndex/dropIndex: table-owned index DDL routes, survives reopen, un-routes (__init__.pyi:1678,1762)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val root = freshRoot()
    val docs = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "catalyst optimizes the logical plan"),
      (3L, "parquet scans push filters down"),
      (4L, "spark broadcasts small tables")).toDF("doc_id", "text")
    Snapshots.create(spark, root, docs)
    // MULTI-segment table: the rewrite must key on the TABLE root, not a
    // single segment path
    Snapshots.append(spark, root, Seq((5L, "tungsten generates java code"),
      (6L, "spark caches hot frames")).toDF("doc_id", "text"))

    GraftExtensions.register(spark)
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()
    Snapshots.createIndex(spark, root, "text", "inverted", "doc_id")
    assert(Snapshots.indexes(root) === Seq(("text", "inverted")))

    def q() = Snapshots.open(spark, root).filter(
      array_contains(split(lower(col("text")), "[^a-z0-9]+"), "spark"))
    def semiJoins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftSemi => j }.size

    // routes: CONTAINS-shaped filter becomes a posting-table semi-join
    val routed = q()
    assert(semiJoins(routed) == 1, routed.queryExecution.optimizedPlan.toString)
    assert(routed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 4L, 6L))

    // a FRESH session (cleared catalogs) picks the index up from the
    // table root alone, via open()
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()
    val reopened = q()
    assert(semiJoins(reopened) == 1, reopened.queryExecution.optimizedPlan.toString)
    assert(reopened.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 4L, 6L))

    // TQL statement form against the versioned root (quoted target)
    val row = graft.dialect.Tql.query(spark, root,
      s"""CREATE INDEX ON "$root" (text) TYPE exact ID doc_id""").collect()(0)
    assert(row.getString(2) === "exact")
    assert(Snapshots.indexes(root).toSet ===
      Set(("text", "inverted"), ("text", "exact")))
    val shown = graft.dialect.Tql.query(spark, root,
      s"""SHOW INDEXES ON "$root"""").collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(shown === Set(("text", "inverted"), ("text", "exact")))
    val eq = Snapshots.open(spark, root)
      .filter(col("text") === "catalyst optimizes the logical plan")
    assert(semiJoins(eq) == 1, eq.queryExecution.optimizedPlan.toString)
    assert(eq.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(2L))

    // drop: falls back to the linear scan, same rows
    graft.dialect.Tql.query(spark, root,
      s"""DROP INDEX ON "$root" (text) TYPE exact""").collect()
    Snapshots.dropIndex(spark, root, "text", "inverted")
    assert(Snapshots.indexes(root).isEmpty)
    val linear = q()
    assert(semiJoins(linear) == 0, linear.queryExecution.optimizedPlan.toString)
    assert(linear.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 4L, 6L))
    // artifacts are gone from the table root
    assert(!Files.exists(java.nio.file.Paths.get(root, "_indexes", "text__inverted")))
  }

  test("table-owned indexes: O(delta) absorb on append, rebuild on COW delete") {
    import spark.implicits._
    import graft.operators.{Bm25, InvertedIndex}
    val root = freshRoot()
    Snapshots.create(spark, root, Seq(
      (1L, "spark shuffles data"),
      (2L, "catalyst optimizes plans"),
      (3L, "parquet pushes filters")).toDF("doc_id", "text"))
    GraftExtensions.register(spark)
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()
    Snapshots.createIndex(spark, root, "text", "inverted", "doc_id")
    Snapshots.createIndex(spark, root, "text", "bm25", "doc_id")

    // append: postings absorb exactly the delta; the routed query sees
    // the new doc without any rebuild
    Snapshots.append(spark, root, Seq(
      (4L, "spark broadcasts tables"),
      (5L, "tungsten compiles code")).toDF("doc_id", "text"))
    val routed = Snapshots.open(spark, root).filter(
        array_contains(split(lower(col("text")), "[^a-z0-9]+"), "spark"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(routed === Seq(1L, 4L))

    // absorb == rebuild: the live posting set matches a from-scratch build
    val live = spark.read.parquet(s"$root/_indexes/text__inverted")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val rebuilt = InvertedIndex.build(Snapshots.open(spark, root), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(live === rebuilt)

    // BM25 stats merged algebraically == full rebuild (catalog refreshed)
    val entry = Bm25.Catalog.lookup(root, "text").get
    val fromMaintained = Bm25.scoreWithIndex(entry.index, Seq("spark"))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSet
    val fromRebuild = Bm25.scoreWithIndex(
        Bm25.buildIndex(Snapshots.open(spark, root), "doc_id", "text"), Seq("spark"))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSet
    assert(fromMaintained === fromRebuild && fromMaintained.nonEmpty)

    // COW delete rebuilds: the dropped doc leaves the index, the route
    // stays correct
    Snapshots.deleteWhere(spark, root, col("doc_id") === 1L)
    val afterDelete = Snapshots.open(spark, root).filter(
        array_contains(split(lower(col("text")), "[^a-z0-9]+"), "spark"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(afterDelete === Seq(4L))
    val postDocIds = spark.read.parquet(s"$root/_indexes/text__inverted")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!postDocIds.contains(1L))
  }

  test("json index DDL: path list survives the manifest round-trip and routes after reopen") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val root = freshRoot()
    Snapshots.create(spark, root, Seq(
      (1L, """{"k": "a", "x": 1}"""),
      (2L, """{"k": "b", "x": 2}"""),
      (3L, """{"k": "a", "x": 3}""")).toDF("doc_id", "props"))
    GraftExtensions.register(spark)
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()
    Snapshots.createIndex(spark, root, "props", "json", "doc_id",
      jsonPaths = Seq("$.k", "$.x"))
    // fresh session: paths must come back from the persisted manifest
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()
    val q = Snapshots.open(spark, root)
      .filter(get_json_object(col("props"), "$.k") === "a")
    val semis = q.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j }.size
    assert(semis == 1, q.queryExecution.optimizedPlan.toString)
    assert(q.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    // a path the index does NOT hold stays a linear scan (correctness guard)
    val other = Snapshots.open(spark, root)
      .filter(get_json_object(col("props"), "$.missing") === "a")
    assert(other.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j }.isEmpty)
  }

  test("branch and time-travel reads never route through the main-version index") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val root = freshRoot()
    Snapshots.create(spark, root, Seq(
      (1L, "spark shuffles data"),
      (2L, "catalyst optimizes plans")).toDF("doc_id", "text"))
    GraftExtensions.register(spark)
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()
    Snapshots.createIndex(spark, root, "text", "inverted", "doc_id")

    def semis(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftSemi => j }.size
    def sparkFilter(df: org.apache.spark.sql.DataFrame) = df.filter(
      array_contains(split(lower(col("text")), "[^a-z0-9]+"), "spark"))

    // a branch append is NOT absorbed into the main index — the branch
    // read must take the linear scan and still see its own row
    Snapshots.createBranch(root, "dev")
    Snapshots.append(spark, root,
      Seq((10L, "spark streams state")).toDF("doc_id", "text"), branch = "dev")
    val dev = sparkFilter(Snapshots.open(spark, root, branch = "dev"))
    assert(semis(dev) == 0, dev.queryExecution.optimizedPlan.toString)
    assert(dev.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 10L))

    // merging the branch into main absorbs the branch rows into the
    // index O(delta): the post-merge current version routes AND sees
    // the merged doc (without the absorb this would silently drop 10)
    Snapshots.merge(spark, root, "dev")
    val merged = sparkFilter(Snapshots.open(spark, root))
    assert(semis(merged) == 1, merged.queryExecution.optimizedPlan.toString)
    assert(merged.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 10L))

    // advance main (index absorbs the delta). Append-only time travel
    // ROUTES safely: v1's segments are all part of current main, so
    // every v1 row is in the index and the semi-join back to the v1
    // scan filters the later docs — result is exactly v1's rows
    Snapshots.append(spark, root,
      Seq((20L, "spark caches frames")).toDF("doc_id", "text"))
    val v1 = sparkFilter(Snapshots.open(spark, root, Some(1L)))
    assert(semis(v1) == 1, v1.queryExecution.optimizedPlan.toString)
    assert(v1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L))
    // the CURRENT read routes and sees every spark doc
    val cur = sparkFilter(Snapshots.open(spark, root))
    assert(semis(cur) == 1, cur.queryExecution.optimizedPlan.toString)
    assert(cur.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 10L, 20L))
    // a COPY-ON-WRITE breaks segment lineage: pre-COW versions scan
    // segments no longer in current main -> linear scan, pre-COW rows
    val vPre = Snapshots.currentVersion(root)
    Snapshots.deleteWhere(spark, root, col("doc_id") === 20L)
    val old = sparkFilter(Snapshots.open(spark, root, Some(vPre)))
    assert(semis(old) == 0, old.queryExecution.optimizedPlan.toString)
    assert(old.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 10L, 20L))
    // post-COW current read routes against the rebuilt index
    val cur2 = sparkFilter(Snapshots.open(spark, root))
    assert(semis(cur2) == 1, cur2.queryExecution.optimizedPlan.toString)
    assert(cur2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 10L))
  }

  test("pull absorbs replicated versions into owned indexes (routing stays correct)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val src = freshRoot()
    val dst = freshRoot()
    Snapshots.create(spark, src, Seq(
      (1L, "spark shuffles data"),
      (2L, "catalyst optimizes plans")).toDF("doc_id", "text"))
    // seed the destination with v1 and index it locally
    Snapshots.push(spark, src, dst)
    GraftExtensions.register(spark)
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()
    Snapshots.createIndex(spark, dst, "text", "inverted", "doc_id")
    // remote advances; pull must absorb the new rows into the local index
    Snapshots.append(spark, src, Seq((3L, "spark merges history")).toDF("doc_id", "text"))
    assert(Snapshots.pull(spark, dst, src).nonEmpty)
    val q = Snapshots.open(spark, dst).filter(
      array_contains(split(lower(col("text")), "[^a-z0-9]+"), "spark"))
    assert(q.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j }.size == 1,
      q.queryExecution.optimizedPlan.toString)
    assert(q.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L))
  }

  private def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Files.walk(from).iterator().asScala.toSeq.foreach { p =>
      val dst = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }

  test("index absorbs are commit-keyed and idempotent: orphan batches reconcile, stats never double-count") {
    import spark.implicits._
    import graft.operators.Bm25
    val root = freshRoot()
    Snapshots.create(spark, root, Seq(
      (1L, "spark shuffles data"),
      (2L, "catalyst optimizes plans")).toDF("doc_id", "text"))
    GraftExtensions.register(spark)
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()
    Snapshots.createIndex(spark, root, "text", "bm25", "doc_id")
    Snapshots.append(spark, root,
      Seq((3L, "spark broadcasts tables")).toDF("doc_id", "text"))

    // absorb batches are keyed by the COMMITTED segment names (plus the
    // base build) — the deterministic key that makes a re-absorb
    // overwrite instead of double-count
    val postingsDir = java.nio.file.Paths.get(root, "_indexes", "text__bm25", "postings")
    def batchNames() = Files.list(postingsDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet
    val segs = Snapshots.currentMainSegments(root)
    assert(batchNames() === (segs.map("batch=" + _) + "batch=base" -- Set("batch=" + segs.min)),
      s"batches ${batchNames()} vs segments $segs")

    // plant an ORPHAN: a retried append whose first commit never landed
    // left its batch behind — without reconciliation its docs would be
    // double-counted in n_docs/avgdl/term_df forever
    Seq("postings", "doc_stats", "term_df").foreach { sub =>
      val d = java.nio.file.Paths.get(root, "_indexes", "text__bm25", sub)
      val aBatch = Files.list(d).iterator().asScala
        .find(_.getFileName.toString.startsWith("batch=seg-")).get
      copyDir(aBatch, d.resolve("batch=seg-00000000000000000orphan"))
    }
    val doubled = Bm25.load(spark, s"$root/_indexes/text__bm25")
    val nDoubled = doubled.docStats.collect()(0).getLong(0)
    assert(nDoubled === 4L) // the orphan IS double-counting right now

    // the next append reconciles the orphan and the maintained stats
    // equal a from-scratch rebuild
    Snapshots.append(spark, root,
      Seq((4L, "tungsten compiles code")).toDF("doc_id", "text"))
    assert(!batchNames().exists(_.contains("orphan")))
    val entry = Bm25.Catalog.lookup(root, "text").get
    assert(entry.index.docStats.collect()(0).getLong(0) === 4L)
    val maintained = Bm25.scoreWithIndex(entry.index, Seq("spark"))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSet
    val rebuilt = Bm25.scoreWithIndex(
        Bm25.buildIndex(Snapshots.open(spark, root), "doc_id", "text"), Seq("spark"))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSet
    assert(maintained === rebuilt && maintained.nonEmpty)
  }

  test("copy-on-write rebuild fence: the on-disk marker suppresses routing in live AND fresh sessions") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import graft.operators.Bm25
    val root = freshRoot()
    Snapshots.create(spark, root, Seq(
      (1L, "spark shuffles data"),
      (2L, "catalyst optimizes plans")).toDF("doc_id", "text"))
    GraftExtensions.register(spark)
    graft.plans.IndexCatalog.clear()
    Snapshots.resetIndexRegistry()
    Snapshots.createIndex(spark, root, "text", "inverted", "doc_id")
    Snapshots.createIndex(spark, root, "text", "bm25", "doc_id")

    def semis(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftSemi => j }.size
    def q() = Snapshots.open(spark, root).filter(
      array_contains(split(lower(col("text")), "[^a-z0-9]+"), "spark"))
    assert(semis(q()) == 1)
    assert(Bm25.Catalog.lookup(root, "text").nonEmpty)

    // another process is mid-COW-rebuild: its fence marker lands on disk
    val marker = java.nio.file.Paths.get(root, "_indexes", "_rebuilding")
    Files.write(marker, Array.empty[Byte])
    // LIVE session (catalogs already registered): the plan gate reports
    // no current segments -> linear scan; the bm25 provider returns None
    val fenced = q()
    assert(semis(fenced) == 0, fenced.queryExecution.optimizedPlan.toString)
    assert(fenced.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L))
    assert(Bm25.Catalog.lookup(root, "text").isEmpty)
    // FRESH session: open() must NOT register the mid-rebuild artifacts
    graft.plans.IndexCatalog.clear()
    graft.operators.Bm25.Catalog.clear()
    Snapshots.resetIndexRegistry()
    val freshFenced = q()
    assert(semis(freshFenced) == 0)
    assert(Bm25.Catalog.lookup(root, "text").isEmpty)
    // fence lifts: the SAME fresh session's next open registers and routes
    Files.delete(marker)
    val lifted = q()
    assert(semis(lifted) == 1, lifted.queryExecution.optimizedPlan.toString)
    assert(Bm25.Catalog.lookup(root, "text").nonEmpty)
  }

  test("bm25/ann providers observe an out-of-band drop instead of serving stale loaded frames") {
    import spark.implicits._
    import graft.operators.{AnnIndex, Bm25}
    val root = freshRoot()
    val emb = (0 until 20).map(i =>
      (i.toLong, s"doc about topic${i % 3}", Array.fill(4)(i / 20.0f)))
      .toDF("doc_id", "text", "embedding")
    Snapshots.create(spark, root, emb)
    GraftExtensions.register(spark)
    Snapshots.resetIndexRegistry()
    Bm25.Catalog.clear(); AnnIndex.Catalog.clear()
    Snapshots.createIndex(spark, root, "text", "bm25", "doc_id")
    Snapshots.createIndex(spark, root, "embedding", "clustered", "doc_id")
    assert(Bm25.Catalog.lookup(root, "text").nonEmpty)
    assert(AnnIndex.Catalog.lookup(root, "embedding").nonEmpty)

    // ANOTHER process quarantines/drops both indexes: manifest emptied,
    // artifacts deleted — this session's catalogs were never told
    val man = java.nio.file.Paths.get(root, "_indexes", "manifest.json")
    Files.write(man, Array.empty[Byte])
    // the provider re-reads the manifest at lookup time -> no route
    // (without the gate this would serve the deleted artifact's frames)
    assert(Bm25.Catalog.lookup(root, "text").isEmpty)
    assert(AnnIndex.Catalog.lookup(root, "embedding").isEmpty)
  }

  test("TQL over a versioned root resolves via the manifest, not a recursive segment read") {
    import spark.implicits._
    val root = freshRoot()
    Snapshots.create(spark, root, Seq(
      (1L, "keep one"), (2L, "drop me"), (3L, "keep two")).toDF("doc_id", "text"))
    // copy-on-write: the superseded segment stays on disk for time travel
    Snapshots.deleteWhere(spark, root, col("doc_id") === 2L)
    // a quoted-root TQL scan must see ONLY the current version's rows —
    // a recursive parquet read of the root would resurrect doc 2 (and
    // any index registered under the root would route over that wrong
    // base scan)
    val rows = graft.dialect.Tql.query(spark, root,
      s"""SELECT doc_id FROM "$root" ORDER BY doc_id""")
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(1L, 3L))
  }
}
