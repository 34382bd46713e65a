package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Versioned dataset lifecycle (SURVEY.md §2.14): append/commit, delete,
  * update, add/drop/rename column, time-travel open, history, branches,
  * tags, merge — the relational slice of the reference's version control
  * (`Dataset.append` `__init__.pyi:3368-3426`, `commit` :3436,
  * `delete` :3428, `add_column`/`remove_column`/`rename_column`
  * :3282-3341, `History` :3843, time-travel + branches `Branch.open`
  * :903, tags :2942-2952).
  *
  * Layout (Delta-style, manifest-per-version):
  * {{{
  *   root/seg-00001/            parquet segment (immutable once written)
  *   root/_v/00001.manifest     main branch: segment names for that version
  *   root/_v/b_<name>/NNNNN.manifest   other branches' version chains
  *   root/_refs/branches/<name>    "<sourceBranch>:<sourceVersion>" branch point
  *   root/_refs/tags/<name>        "<branch>:<version>" pinned snapshot
  * }}}
  *
  * Scale behavior: `append` writes ONLY the new rows as a fresh segment and
  * the new manifest references old segments — O(delta), never O(table).
  * Mutations (delete/update/DDL) are copy-on-write rewrites — O(table), the
  * same cost class as the reference's chunk rewrite. Branching copies one
  * manifest (O(1), segments shared); merge splices the branch's appended
  * segments into the target manifest — again O(manifest), no data moves.
  * Reads open the manifest's segment list with one
  * `spark.read.parquet(paths*)`, so partition pruning / pushdown behave
  * exactly as a plain parquet table.
  *
  * CONCURRENCY CONTRACT — single writer per root. Readers are always
  * safe (manifests are immutable once written; a reader sees either the
  * old or the new version, and index routing is version-gated +
  * rebuild-fenced). MUTATIONS (append/delete/update/DDL/merge/
  * createIndex/dropIndex) assume ONE writer per table root at a time —
  * the same contract Delta's non-transactional stores document: the
  * version-counter commit and the `_indexes/manifest.json`
  * read-modify-write are not fenced against a concurrent writer in
  * another JVM (two writers could both commit version N+1, last one
  * wins). Within one JVM the [[syncWorker]] serializes queued async
  * mutations. Index absorbs are keyed by segment name, so even a
  * violated contract cannot double-count BM25/ANN stats — the residual
  * hazard is a lost manifest line, not a corrupt index.
  */
object Snapshots {

  val Main = "main"

  private def vDir(root: String, branch: String): Path =
    if (branch == Main) Paths.get(root, "_v")
    else Paths.get(root, "_v", s"b_$branch")

  /** A versioned root is a local dir holding `_v`: `file:` is stripped,
    * and a `scheme://` URL or an unreadable path is never one. */
  def isRoot(path: String): Boolean = Some(path.stripPrefix("file:")).exists(p =>
    !p.contains("://") && (try Files.exists(Paths.get(p, "_v")) catch { case _: Exception => false }))

  private def refFile(root: String, kind: String, name: String): Path =
    Paths.get(root, "_refs", kind, name)

  private def listRefs(root: String, kind: String): Seq[String] = {
    val d = Paths.get(root, "_refs", kind)
    if (!Files.exists(d)) Seq.empty
    else Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
  }

  private def writeRef(root: String, kind: String, name: String,
      branch: String, version: Long): Unit = {
    val f = refFile(root, kind, name)
    Files.createDirectories(f.getParent)
    Files.write(f, s"$branch:$version".getBytes(StandardCharsets.UTF_8))
  }

  private def readRef(root: String, kind: String, name: String): (String, Long) = {
    val f = refFile(root, kind, name)
    require(Files.exists(f), s"no $kind named $name under $root")
    val Array(b, v) = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .trim.split(":", 2)
    (b, v.toLong)
  }

  private def versions(root: String, branch: String): Seq[Long] = {
    val d = vDir(root, branch)
    if (!Files.exists(d)) Seq.empty
    else Files.list(d).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong)
      .toSeq.sorted
  }

  /** Latest committed version on `branch`, or 0 if it doesn't exist. */
  def currentVersion(root: String, branch: String = Main): Long =
    versions(root, branch).lastOption.getOrElse(0L)

  def history(root: String, branch: String = Main): Seq[Long] = versions(root, branch)

  /** Version AS OF a wall-clock instant (Delta's `timestampAsOf`): the
    * greatest version whose manifest was committed at or before
    * `tsMillis`. Commit time is the manifest file's mtime — written
    * once, never rewritten, so it IS the commit instant. Fails loudly
    * when the dataset didn't exist yet. */
  def versionAsOf(root: String, tsMillis: Long, branch: String = Main): Long = {
    val vs = versions(root, branch).filter { v =>
      Files.getLastModifiedTime(
        vDir(root, branch).resolve(f"$v%05d.manifest")).toMillis <= tsMillis
    }
    require(vs.nonEmpty,
      s"no version of $root ($branch) existed at or before $tsMillis")
    vs.max
  }

  /** Open the dataset as of a wall-clock instant. */
  def openAsOf(spark: SparkSession, root: String, tsMillis: Long,
      branch: String = Main): DataFrame =
    open(spark, root, Some(versionAsOf(root, tsMillis, branch)), branch)

  private def segments(root: String, v: Long, branch: String): Seq[String] = {
    val f = vDir(root, branch).resolve(f"$v%05d.manifest")
    require(Files.exists(f), s"version $v does not exist on branch $branch under $root")
    new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def commit(root: String, segs: Seq[String], branch: String): Long = {
    val v = currentVersion(root, branch) + 1
    Files.createDirectories(vDir(root, branch))
    Files.write(vDir(root, branch).resolve(f"$v%05d.manifest"),
      segs.mkString("\n").getBytes(StandardCharsets.UTF_8))
    v
  }

  private def newSegment(root: String, df: DataFrame): String = {
    val name = f"seg-${System.nanoTime()}%d"
    df.write.parquet(Paths.get(root, name).toString)
    writeSegmentStats(root, name, df)
    writeSegmentBlooms(df.sparkSession, root, name)
    name
  }

  // --------------------------------------------- segment-level statistics
  // Delta/Iceberg-style data skipping: each segment carries a sidecar of
  // per-column min/max for orderable atomic columns, computed from the
  // delta being written (O(delta), one agg job). [[openPruned]] consults
  // the sidecars to drop whole segments BEFORE Spark ever lists their
  // files — coarser than parquet row-group stats but zero-IO: the
  // manifest + k sidecar JSONs replace listing/footer-reading every file
  // of every segment. Segments without a sidecar (pre-feature) are
  // always read.

  private def statsFile(root: String, seg: String): Path =
    Paths.get(root, s"$seg.stats.json")

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def writeSegmentStats(root: String, seg: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.types._
    val statCols = df.schema.fields.filter(f => f.dataType match {
      case _: NumericType | StringType | DateType | TimestampType => true
      case _ => false
    }).map(_.name)
    // row count rides the same single-agg pass: COUNT(*) over the
    // versioned table then answers from k sidecar reads (fastCount)
    val aggs = count(lit(1)).as("__rows") +: statCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c"))).toSeq
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val entries = s""""__rows": ${r.getLong(0)}""" +:
      statCols.zipWithIndex.map { case (c, i) =>
        val mn = r.getString(1 + 2 * i); val mx = r.getString(2 + 2 * i)
        def v(x: String) = if (x == null) "null" else "\"" + jsonEscape(x) + "\""
        s""""${jsonEscape(c)}": {"min": ${v(mn)}, "max": ${v(mx)}}"""
      }
    Files.write(statsFile(root, seg),
      entries.mkString("{", ", ", "}").getBytes(StandardCharsets.UTF_8))
  }

  /** COUNT(*) at `version` from sidecar metadata alone — the manifest
    * fast path every lakehouse count goes through (Delta's
    * computeStats, parquet footer counts). Falls back to a real count
    * the moment ANY segment lacks a recorded row count (pre-feature
    * segments), so the answer is always exact. */
  def fastCount(spark: SparkSession, root: String,
      version: Option[Long] = None, branch: String = Main): Long = {
    val v = version.getOrElse(currentVersion(root, branch))
    val segs = segments(root, v, branch)
    val counts = segs.map { seg =>
      val f = statsFile(root, seg)
      if (!Files.exists(f)) None
      else {
        val txt = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        "\"__rows\":\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      }
    }
    if (counts.forall(_.isDefined)) counts.flatten.sum
    else open(spark, root, Some(v), branch).count()
  }

  /** (min, max) strings recorded for `col` in `seg`'s sidecar, if any. */
  def segmentStats(root: String, seg: String, colName: String): Option[(String, String)] = {
    val f = statsFile(root, seg)
    if (!Files.exists(f)) None
    else {
      // minimal parse of the flat {"col": {"min": "..", "max": ".."}} shape
      val txt = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      val p = java.util.regex.Pattern.compile(
        "\"" + java.util.regex.Pattern.quote(colName) +
          "\"\\s*:\\s*\\{\"min\":\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|null),\\s*\"max\":\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|null)\\}")
      val m = p.matcher(txt)
      if (!m.find()) None
      else {
        def un(s: String): String =
          if (s == "null") null
          else s.substring(1, s.length - 1)
            .replace("\\\"", "\"").replace("\\\\", "\\")
        Option((un(m.group(1)), un(m.group(2))))
      }
    }
  }

  /** Open `branch`@`version` reading ONLY the segments whose recorded
    * [min, max] for `colName` overlaps [lo, hi] (numeric comparison for
    * numeric columns, lexicographic otherwise; bounds inclusive).
    * Segments lacking stats are conservatively kept, so the result
    * ALWAYS equals `open().filter(lo <= col && col <= hi)` applied by
    * the caller — pruning is an IO optimization, never a semantic one.
    * The caller still applies its own filter for row-level precision. */
  def openPruned(spark: SparkSession, root: String, colName: String,
      lo: Double, hi: Double, version: Option[Long] = None,
      branch: String = Main): DataFrame =
    openPrunedAll(spark, root, Seq((colName, lo, hi)), version, branch)

  /** segment survives the [lo, hi] conjunct on `colName`? (missing or
    * unparsable stats keep the segment — pruning is IO-only) */
  private def segOverlaps(root: String, seg: String, colName: String,
      lo: Double, hi: Double): Boolean =
    segmentStats(root, seg, colName) match {
      case Some((mn, mx)) if mn != null && mx != null =>
        try { mx.toDouble >= lo && mn.toDouble <= hi }
        catch { case _: NumberFormatException => true }
      case _ => true
    }

  /** Multi-column conjunctive pruning — the Z-order payoff at the table
    * layer: a segment out of range on ANY conjunct cannot hold a
    * surviving row, so predicates on SEVERAL clustered columns multiply
    * their skipping power. Same contract as [[openPruned]]: always a
    * superset of the true result; callers apply the row filter. */
  def openPrunedAll(spark: SparkSession, root: String,
      ranges: Seq[(String, Double, Double)], version: Option[Long] = None,
      branch: String = Main): DataFrame = {
    val v = version.getOrElse(currentVersion(root, branch))
    val keep = segments(root, v, branch).filter { seg =>
      ranges.forall { case (c, lo, hi) => segOverlaps(root, seg, c, lo, hi) }
    }
    if (keep.isEmpty)
      open(spark, root, Some(v), branch).limit(0)
    else spark.read.option("mergeSchema", "true")
      .parquet(keep.map(s => Paths.get(root, s).toString): _*)
  }

  // ---------------------------------------------- bloom-filter sidecars
  // Point-lookup data skipping, the complement of min/max range stats:
  // a high-cardinality column with no clustered layout (ids, hashes,
  // keys) has useless min/max bounds — every segment's range covers
  // every value — but a per-segment Bloom filter answers "might this
  // segment contain v?" with fpp false-positive odds from a few bytes
  // per row. Delta ships the same feature as per-file bloom indexes.
  // Built with Spark's public sketch aggregate (df.stat.bloomFilter —
  // distributed treeAggregate, no driver materialization of values),
  // written once per DELTA segment at append time (O(delta)); readers
  // drop whole segments before Spark lists any file. As with range
  // stats, pruning is IO-only: segments lacking a bloom are kept.

  private def bloomConfFile(root: String): Path = Paths.get(root, "_bloom.json")
  private def bloomFile(root: String, seg: String, colName: String): Path =
    Paths.get(root, s"$seg.bloom.$colName")

  /** (columns, fpp) the table is configured to maintain blooms for. */
  private def bloomConf(root: String): (Seq[String], Double) = {
    val f = bloomConfFile(root)
    if (!Files.exists(f)) (Nil, 0.01)
    else {
      val txt = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      val lb = txt.indexOf('['); val rb = txt.indexOf(']')
      val cols =
        if (lb < 0 || rb < lb) Nil
        else "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(txt.substring(lb, rb))
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
      val fpp = "\"fpp\":\\s*([0-9.eE+-]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble).getOrElse(0.01)
      (cols, fpp)
    }
  }

  private def writeSegmentBlooms(spark: SparkSession, root: String,
      seg: String): Unit = {
    val (cols, fpp) = bloomConf(root)
    if (cols.nonEmpty) {
      val sdf = spark.read.parquet(Paths.get(root, seg).toString)
      val present = cols.filter(sdf.columns.contains)
      if (present.nonEmpty) {
        val n = math.max(1L, sdf.count())
        present.foreach { c =>
          val bf = sdf.stat.bloomFilter(c, n, fpp)
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          Files.write(bloomFile(root, seg, c), bos.toByteArray)
        }
      }
    }
  }

  /** Turn on bloom maintenance for `cols` (integral or string types —
    * the sketch hashes longs and UTF-8 bytes): every FUTURE delta
    * segment gets a bloom sidecar at append time, and the CURRENT
    * version's segments backfill once here (the only non-O(delta) step,
    * run once per table). `fpp` trades sidecar bytes for skipping
    * precision (~ -1.44 log2(fpp) bits/row). */
  def enableBloom(spark: SparkSession, root: String, cols: Seq[String],
      fpp: Double = 0.01, branch: String = Main): Unit = {
    require(cols.nonEmpty, "need at least one bloom column")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    import org.apache.spark.sql.types._
    val schema = open(spark, root, branch = branch).schema
    cols.foreach { c =>
      val ok = schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => true
        case _ => false
      }
      require(ok, s"bloom column $c must be integral or string, " +
        s"got ${schema(c).dataType}")
    }
    Files.write(bloomConfFile(root),
      cols.map(c => "\"" + jsonEscape(c) + "\"")
        .mkString("{\"cols\": [", ", ", s"], \"fpp\": $fpp}")
        .getBytes(StandardCharsets.UTF_8))
    segments(root, currentVersion(root, branch), branch).foreach { seg =>
      if (cols.exists(c => !Files.exists(bloomFile(root, seg, c))))
        writeSegmentBlooms(spark, root, seg)
    }
  }

  /** Segment might contain `value` in `colName`? Bloom answers when
    * present; otherwise fall back to the range sidecar; otherwise keep
    * (pruning is IO-only, never semantic). The probe dispatches on the
    * COLUMN's type, not the runtime type of `value`: the bloom was
    * built in the column's hash domain (longs for integral columns,
    * UTF-8 bytes for strings), so a cross-domain probe (e.g. a String
    * against an integral column, reachable via implicit casts in the
    * caller's filter) would hash garbage and prune live segments. Any
    * domain mismatch keeps the segment. */
  private def segMightContain(root: String, seg: String, colName: String,
      value: Any, dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val integral = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val numeric = integral || (dt match {
      case FloatType | DoubleType | _: DecimalType => true
      case _ => false
    })
    val f = bloomFile(root, seg, colName)
    if (Files.exists(f)) {
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(Files.readAllBytes(f)))
      (value, dt) match {
        // only an exactly-integral number may probe an integral column
        case (n: Number, _) if integral &&
            n.longValue().toDouble == n.doubleValue() =>
          bf.mightContainLong(n.longValue())
        case (s: String, StringType) => bf.mightContainString(s)
        case _ => true // cross-domain probe: keep (IO-only pruning)
      }
    } else (value, dt) match {
      case (n: Number, _) if numeric =>
        val d = n.doubleValue(); segOverlaps(root, seg, colName, d, d)
      case (s: String, StringType) => segmentStats(root, seg, colName) match {
        case Some((mn, mx)) if mn != null && mx != null =>
          mn <= s && s <= mx
        case _ => true
      }
      case _ => true
    }
  }

  /** Open `branch`@`version` reading ONLY segments that might contain
    * `colName = value` — bloom sidecars for scattered high-cardinality
    * keys, range sidecars as fallback. Always a superset of the true
    * match set (bloom false positives, conservative keeps); the caller
    * applies the row filter, exactly as with [[openPruned]]. */
  def openPrunedEq(spark: SparkSession, root: String, colName: String,
      value: Any, version: Option[Long] = None,
      branch: String = Main): DataFrame = {
    val v = version.getOrElse(currentVersion(root, branch))
    val dt = open(spark, root, Some(v), branch).schema
      .find(_.name == colName).map(_.dataType)
      .getOrElse(org.apache.spark.sql.types.NullType)
    val keep = segments(root, v, branch)
      .filter(seg => segMightContain(root, seg, colName, value, dt))
    if (keep.isEmpty)
      open(spark, root, Some(v), branch).limit(0)
    else spark.read.option("mergeSchema", "true")
      .parquet(keep.map(s => Paths.get(root, s).toString): _*)
  }

  /** Open the dataset at `version` (default: latest) on `branch`. */
  def open(spark: SparkSession, root: String, version: Option[Long] = None,
      branch: String = Main): DataFrame = {
    val v = version.getOrElse(currentVersion(root, branch))
    val paths = segments(root, v, branch).map(s => Paths.get(root, s).toString)
    // opening a table surfaces its persisted indexes (no-op after the
    // first call per root; see registerIndexes)
    registerIndexes(spark, root)
    // mergeSchema: segments written before a column was added simply
    // lack it; the merged read null-fills them (schema-evolution
    // merge-on-read, footer-only cost)
    spark.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  /** Create version 1 from `df`. */
  def create(spark: SparkSession, root: String, df: DataFrame): Long = {
    require(versions(root, Main).isEmpty, s"dataset already exists at $root")
    commit(root, Seq(newSegment(root, df)), Main)
  }

  /** Append rows — writes only the delta segment. By default the schema
    * must match; `allowSchemaEvolution` accepts NEW columns (old
    * segments null-fill them at read via the merged-schema open) and
    * MISSING columns (the new segment null-fills at read) — Delta-style
    * `mergeSchema` append, still O(delta) write. */
  def append(spark: SparkSession, root: String, df: DataFrame,
      branch: String = Main, allowSchemaEvolution: Boolean = false): Long = {
    val cur = open(spark, root, branch = branch)
    if (!allowSchemaEvolution) {
      require(df.columns.sorted.sameElements(cur.columns.sorted),
        s"append schema mismatch: ${df.columns.mkString(",")} vs ${cur.columns.mkString(",")}")
    }
    val shared = cur.columns.filter(df.columns.contains)
    val aligned =
      if (allowSchemaEvolution)
        df.select((shared ++ df.columns.filterNot(cur.columns.contains)).map(col): _*)
      else df.select(cur.columns.map(col): _*)
    val willMaintain = branch == Main && readIndexDefs(root).nonEmpty
    // the delta segment is written FIRST (invisible until the manifest
    // references it), then owned indexes absorb it keyed by the SEGMENT
    // NAME, then the manifest commits. Order matters twice over:
    //  - absorb-before-commit: once the new version is visible its
    //    scans pass the routing gate, so the index must already hold
    //    the delta (pre-commit index rows are harmless — the semi-join
    //    filters ids absent from the scan);
    //  - segment-name keys make the absorb IDEMPOTENT: a re-absorb of
    //    the same segment overwrites its batch (bm25/ann) or no-ops on
    //    its marker (posting kinds) instead of double-counting, and
    //    orphan batches from a retry that re-wrote the data under a new
    //    name are reconciled against the manifest (see
    //    [[maintainIndexesOnAppend]]).
    // Maintenance reads the delta back from the written parquet, so it
    // indexes the exact rows the commit publishes even when the source
    // frame is non-deterministic.
    val base = segments(root, currentVersion(root, branch), branch)
    val seg = newSegment(root, aligned)
    if (willMaintain) maintainIndexesOnAppend(spark, root, Seq(seg))
    commit(root, base :+ seg, branch)
  }

  /** Expectations-enforced append (the DLT ingest gate): rows meeting
    * every rule append as one O(delta) segment; violating rows are
    * RETURNED, annotated with the rules they failed, for the caller's
    * quarantine sink — bad data never lands in the table, and the
    * caller decides its fate. One pass over the delta. */
  def appendWithExpectations(spark: SparkSession, root: String,
      df: DataFrame, rules: Seq[(String, Column)],
      branch: String = Main): (Long, DataFrame) = {
    val annotated = graft.operators.Expectations.annotate(df, rules)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val good = annotated.filter(size(col("failed_expectations")) === 0)
      .drop("failed_expectations")
    val bad = annotated.filter(size(col("failed_expectations")) > 0)
    val v = append(spark, root, good, branch)
    // pin the quarantine rows BEFORE releasing the annotated frame: a
    // later evaluation would otherwise recompute from the source df and,
    // for a non-deterministic input, disagree with the rows actually
    // gated out of the append
    val badPinned = bad.localCheckpoint(true)
    annotated.unpersist(blocking = false)
    (v, badPinned)
  }

  /** DELETE WHERE cond — copy-on-write rewrite of surviving rows.
    * SQL DELETE semantics: rows where cond is NULL are NOT deleted, so the
    * survivor filter is NOT(coalesce(cond, false)), never a bare NOT. */
  def deleteWhere(spark: SparkSession, root: String, cond: Column,
      branch: String = Main): Long =
    rewrite(spark, root, _.filter(!coalesce(cond, lit(false))), branch)

  /** UPDATE col = value WHERE cond — copy-on-write. */
  def update(spark: SparkSession, root: String, colName: String, value: Column,
      cond: Column, branch: String = Main): Long =
    rewrite(spark, root,
      _.withColumn(colName, when(cond, value).otherwise(col(colName))), branch)

  /** MERGE INTO (upsert) by key — the Delta/Iceberg MERGE shape over
    * the versioned table: source rows REPLACE current rows sharing
    * `keyCols`; source rows with no match insert. `source` must be
    * key-unique (the caller dedupes; with duplicate source keys the
    * replacement row would be ambiguous).
    *
    * Two cost classes, chosen by `insertOnly`:
    *  - `insertOnly = true`: dedupe-on-ingest — only NEW keys append,
    *    existing rows never rewrite. O(delta) write (one anti-join read
    *    + a delta-sized segment), the path to run per-batch at 100 TB.
    *  - full upsert: copy-on-write like the other DML — survivors
    *    (current ANTI-JOIN source on the keys) + source commit as the
    *    new version. O(table) rewrite, the usual MERGE cost without
    *    file-level pruning. */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String], branch: String = Main,
      insertOnly: Boolean = false): Long = {
    val cur = open(spark, root, branch = branch)
    require(source.columns.sorted.sameElements(cur.columns.sorted),
      s"merge schema mismatch: ${source.columns.mkString(",")} vs ${cur.columns.mkString(",")}")
    val aligned = source.select(cur.columns.map(col): _*)
    val willMaintain = branch == Main && readIndexDefs(root).nonEmpty
    if (insertOnly) {
      // the anti-join delta lands as ONE segment and the owned indexes
      // absorb exactly it, keyed by the segment name (idempotent absorb,
      // pre-commit — see append): maintenance reads the rows back from
      // the written segment, never re-runs the anti-join
      val fresh = aligned.join(cur.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti")
      val base = segments(root, currentVersion(root, branch), branch)
      val seg = newSegment(root, fresh)
      if (willMaintain) maintainIndexesOnAppend(spark, root, Seq(seg))
      commit(root, base :+ seg, branch)
    } else {
      val survivors = cur.join(aligned.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti")
      // copy-on-write: old index content is WRONG for the new data —
      // fence the rebuild window (marker + unregister) so readers in
      // THIS and other sessions scan linearly until the rebuild lands
      if (willMaintain) beginIndexRebuild(root)
      try {
        val v = commit(root, Seq(newSegment(root, survivors.unionByName(aligned))), branch)
        if (willMaintain) rebuildIndexes(spark, root)
        v
      } catch { case e: Throwable =>
        if (willMaintain) registeredIndexRoots.remove(root)
        throw e
      } finally if (willMaintain) endIndexRebuild(root)
    }
  }

  /** ADD COLUMN with a default value (`add_column` `__init__.pyi:3282`). */
  def addColumn(spark: SparkSession, root: String, name: String, value: Column,
      branch: String = Main): Long =
    rewrite(spark, root, _.withColumn(name, value), branch)

  def dropColumn(spark: SparkSession, root: String, name: String,
      branch: String = Main): Long =
    rewrite(spark, root, _.drop(name), branch)

  def renameColumn(spark: SparkSession, root: String, from: String, to: String,
      branch: String = Main): Long =
    rewrite(spark, root, _.withColumnRenamed(from, to), branch)

  private def rewrite(spark: SparkSession, root: String,
      f: DataFrame => DataFrame, branch: String): Long = {
    val willMaintain = branch == Main && readIndexDefs(root).nonEmpty
    // copy-on-write: between the new manifest and the rebuild, the old
    // index content is WRONG for the new data (an updated doc's old
    // postings would still match) — fence the window first
    // (beginIndexRebuild: on-disk marker + in-process unregister +
    // re-registration suppression), so planners here AND in other
    // sessions take the linear scan, then rebuild + re-register
    if (willMaintain) beginIndexRebuild(root)
    try {
      val v = commit(root,
        Seq(newSegment(root, f(open(spark, root, branch = branch)))), branch)
      if (willMaintain) rebuildIndexes(spark, root)
      v
    } catch { case e: Throwable =>
      // commit/rebuild failed: current version is unchanged (or the
      // rebuild quarantined per-def) — drop the suppression so the next
      // open() re-registers whatever the manifest still holds
      if (willMaintain) registeredIndexRoots.remove(root)
      throw e
    } finally if (willMaintain) endIndexRebuild(root)
  }

  // ------------------------------------------------- table maintenance

  private def segmentBytes(root: String, seg: String): Long =
    Files.walk(Paths.get(root, seg)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  /** OPTIMIZE: bin-pack segments smaller than `targetBytes` into
    * ~targetBytes outputs and commit a new version referencing the
    * compacted segment plus the untouched large ones. Cost is
    * O(small-file bytes), never O(table): large segments are not read.
    * Older versions still reference the original small segments —
    * time travel is unaffected until [[expireVersions]] + [[vacuum]]. */
  def optimize(spark: SparkSession, root: String,
      targetBytes: Long = 128L << 20, branch: String = Main): Long = {
    val cur = currentVersion(root, branch)
    val segs = segments(root, cur, branch)
    val (small, large) = segs.partition(s => segmentBytes(root, s) < targetBytes)
    if (small.size <= 1) cur
    else {
      val df = spark.read.parquet(small.map(s => Paths.get(root, s).toString): _*)
      val total = small.map(segmentBytes(root, _)).sum
      val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      commit(root, large :+ newSegment(root, df.repartition(nOut)), branch)
    }
  }

  /** Drop old manifests on `branch`, keeping the newest `keepLast` and
    * any version pinned by a tag. Returns the expired versions. Segments
    * only become deletable once no manifest references them — run
    * [[vacuum]] afterwards to reclaim the bytes. */
  def expireVersions(root: String, keepLast: Int, branch: String = Main): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current version")
    val vs = versions(root, branch)
    val tagged = listRefs(root, "tags")
      .map(readRef(root, "tags", _))
      .collect { case (b, v) if b == branch => v }.toSet
    val expired = vs.dropRight(keepLast).filterNot(tagged)
    expired.foreach(v => Files.delete(vDir(root, branch).resolve(f"$v%05d.manifest")))
    expired
  }

  /** VACUUM: delete segment directories referenced by no manifest on any
    * branch. Safe by construction — a segment is only unreachable once
    * every manifest mentioning it has been expired. Returns the deleted
    * segment names. */
  def vacuum(root: String): Seq[String] = {
    val referenced = (for {
      b <- branches(root)
      v <- versions(root, b)
      s <- segments(root, v, b)
    } yield s).toSet
    val onDisk = Files.list(Paths.get(root)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("seg-"))
      .map(_.getFileName.toString).toSeq
    val dead = onDisk.filterNot(referenced).sorted
    dead.foreach { s =>
      Files.walk(Paths.get(root, s)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.delete(_))
      Files.deleteIfExists(statsFile(root, s))
      // bloom sidecars of the dead segment (one per configured column,
      // plus any from columns since removed from the config)
      Files.list(Paths.get(root)).iterator().asScala
        .filter(_.getFileName.toString.startsWith(s"$s.bloom."))
        .toSeq.foreach(Files.delete(_))
    }
    dead
  }

  /** Row-level changes between two versions: the snapshot's columns plus
    * a `change` column ('insert' | 'delete'). Append-only (or
    * delete-only) version pairs take the manifest fast path — ONLY the
    * delta segments are read, no shuffle, O(delta). Arbitrary pairs
    * (e.g. across a copy-on-write rewrite) fall back to a content diff:
    * two exceptAll hash shuffles over both snapshots. */
  def diff(spark: SparkSession, root: String, fromV: Long, toV: Long,
      branch: String = Main): DataFrame = {
    val a = segments(root, fromV, branch)
    val b = segments(root, toV, branch)
    def read(segs: Seq[String]): DataFrame =
      spark.read.parquet(segs.map(s => Paths.get(root, s).toString): _*)
    if (fromV == toV || a == b)
      open(spark, root, Some(toV), branch).limit(0)
        .withColumn("change", lit("insert"))
    else if (a.forall(b.contains))
      read(b.filterNot(a.contains)).withColumn("change", lit("insert"))
    else if (b.forall(a.contains))
      read(a.filterNot(b.contains)).withColumn("change", lit("delete"))
    else {
      val from = open(spark, root, Some(fromV), branch)
      val to = open(spark, root, Some(toV), branch)
      to.exceptAll(from).withColumn("change", lit("insert"))
        .unionByName(from.exceptAll(to).withColumn("change", lit("delete")))
    }
  }

  // ------------------------------------------------------ branches & tags

  /** Create `name` from `from`@`at` (default: its head). O(1): copies one
    * manifest; segments are shared, no data moves (`Branch.open` :903). */
  def createBranch(root: String, name: String, from: String = Main,
      at: Option[Long] = None): Unit = {
    require(name != Main, "main always exists")
    require(versions(root, name).isEmpty, s"branch $name already exists")
    val v = at.getOrElse(currentVersion(root, from))
    commit(root, segments(root, v, from), name)
    writeRef(root, "branches", name, from, v)
  }

  def branches(root: String): Seq[String] = Main +: listRefs(root, "branches")

  /** (source branch, source version) this branch was cut from. */
  def branchPoint(root: String, name: String): (String, Long) =
    readRef(root, "branches", name)

  /** Merge `from`'s appended segments into `into` (its origin branch).
    * Append-only merge: the branch must not have rewritten the segments it
    * inherited (copy-on-write mutations conflict by construction — the
    * reference rejects those merges the same way); new segments splice
    * into the target manifest with no data movement. */
  def merge(spark: SparkSession, root: String, from: String,
      into: String = Main): Long = {
    val (src, atV) = branchPoint(root, from)
    require(src == into, s"branch $from was cut from $src, not $into")
    val base = segments(root, atV, into)
    val fromSegs = segments(root, currentVersion(root, from), from)
    require(base.forall(fromSegs.contains),
      s"branch $from rewrote inherited segments; only append-only branches merge cleanly")
    val newOnBranch = fromSegs.filterNot(base.contains)
    val intoSegs = segments(root, currentVersion(root, into), into)
    val spliced = newOnBranch.filterNot(intoSegs.contains)
    // the spliced segments are rows the owned indexes have never seen
    // (branch appends skip maintenance): absorb them O(delta) BEFORE the
    // manifest lands — otherwise the post-merge current version passes
    // the routing gate while the index lacks the branch rows. Absorbed
    // per segment under its own name, so a retried merge overwrites
    // rather than double-counts (see maintainIndexesOnAppend).
    if (into == Main && spliced.nonEmpty && readIndexDefs(root).nonEmpty)
      maintainIndexesOnAppend(spark, root, spliced)
    commit(root, intoSegs ++ spliced, into)
  }

  /** Pin `branch`@`version` (default: head) under a tag name (:2942-2952). */
  def tag(root: String, name: String, branch: String = Main,
      version: Option[Long] = None): Unit =
    writeRef(root, "tags", name, branch,
      version.getOrElse(currentVersion(root, branch)))

  def tags(root: String): Seq[String] = listRefs(root, "tags")

  /** Open the snapshot a tag points at. */
  def openTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val (b, v) = readRef(root, "tags", name)
    open(spark, root, Some(v), b)
  }

  // ------------------------------------------------- index DDL
  // The reference's first-class `Column.create_index` / `drop_index`
  // (`python/deeplake/__init__.pyi:1678,1762`; index types
  // `docs/tql.md` CONTAINS/BM25_SIMILARITY/COSINE_SIMILARITY routing):
  // an index is a TABLE-owned artifact — built over the current
  // snapshot, persisted under `<root>/_indexes/<col>__<type>/`,
  // recorded in a manifest so REOPENING the table re-registers it with
  // the routing catalogs (IndexRewrite semi-join rewrite, TQL
  // BM25/ANN top-k routes), and dropped by the same verb. Incremental
  // maintenance reuses the existing O(delta) machinery
  // (InvertedIndex.append/delete, streaming maintainers) against the
  // persisted artifact dirs.

  /** supported index types (reference `__init__.pyi:1690-1706` enum +
    * string forms; aliases normalized in [[createIndex]]) */
  val IndexTypes: Set[String] =
    Set("inverted", "exact", "json", "bm25", "clustered", "clustered_quantized")

  private def indexesDir(root: String): Path = Paths.get(root, "_indexes")
  private def indexManifest(root: String): Path =
    indexesDir(root).resolve("manifest.json")
  private def indexDir(root: String, column: String, tpe: String): Path =
    indexesDir(root).resolve(s"${column}__$tpe")

  /** json-path list separator inside the tab-framed manifest line: the
    * ASCII unit separator, constructed in code (source hygiene: no raw
    * control bytes in source, no unicode escapes for the scanner to
    * pre-process) */
  private val PathSep = 31.toChar.toString

  /** one manifest line per index: column, type, id col, json paths */
  private final case class IndexDef(column: String, tpe: String,
      idCol: String, jsonPaths: Seq[String])

  private def readIndexDefs(root: String): Seq[IndexDef] = {
    val f = indexManifest(root)
    if (!Files.exists(f)) Seq.empty
    else new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty).map { line =>
        // fixed 4-field tab layout (column/type never contain tabs:
        // enforced at create); avoids a JSON dependency
        val p = line.split("\t", -1)
        IndexDef(p(0), p(1), p(2),
          if (p.length > 3 && p(3).nonEmpty) p(3).split(PathSep).toSeq else Nil)
      }
  }

  private def writeIndexDefs(root: String, defs: Seq[IndexDef]): Unit = {
    Files.createDirectories(indexesDir(root))
    Files.write(indexManifest(root),
      defs.map(d => s"${d.column}\t${d.tpe}\t${d.idCol}\t${d.jsonPaths.mkString(PathSep)}")
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** (column, type) of every index the table owns */
  def indexes(root: String): Seq[(String, String)] =
    readIndexDefs(root).map(d => (d.column, d.tpe))

  private[graft] def normType(t: String): String = t.toLowerCase match {
    case "inverted_index" | "inverted" => "inverted"
    case "exact" => "exact"
    case "json" => "json"
    case "bm25" => "bm25"
    case "clustered" => "clustered"
    case "clustered_quantized" | "quantized" => "clustered_quantized"
    case other => throw new IllegalArgumentException(
      s"unsupported index type '$other' (supported: ${IndexTypes.mkString(", ")})")
  }

  /** CREATE INDEX: build over the CURRENT snapshot, persist under the
    * table root, record in the manifest, register with the routing
    * catalog — queries route immediately and after any later reopen.
    * Returns the artifact dir. `jsonPaths` is required for type "json"
    * (the posting table only answers predicates on paths it holds). */
  def createIndex(spark: SparkSession, root: String, column: String,
      indexType: String, idCol: String,
      jsonPaths: Seq[String] = Nil): String = {
    val tpe = normType(indexType)
    require(!column.contains("\t") && !idCol.contains("\t"),
      "column names may not contain tabs")
    require(tpe != "json" || jsonPaths.nonEmpty, "JSON index needs jsonPaths")
    // a crash-orphaned rebuild fence clears once no OTHER (possibly
    // stale) index remains: this build is fresh by construction
    if (readIndexDefs(root).isEmpty) endIndexRebuild(root)
    buildIndexArtifact(spark, root, IndexDef(column, tpe, idCol, jsonPaths))
    val dir = indexDir(root, column, tpe).toString
    val defs = readIndexDefs(root)
      .filterNot(d => d.column == column && d.tpe == tpe)
    writeIndexDefs(root, defs :+ IndexDef(column, tpe, idCol, jsonPaths))
    registerOne(spark, root, IndexDef(column, tpe, idCol, jsonPaths))
    dir
  }

  /** DROP INDEX: unregister from the routing catalog, remove from the
    * manifest, delete the artifact — queries fall back to linear scans. */
  def dropIndex(spark: SparkSession, root: String, column: String,
      indexType: String): Unit = {
    val tpe = normType(indexType)
    import graft.operators.{AnnIndex, Bm25}
    tpe match {
      case "inverted" => graft.plans.IndexCatalog.unregister(root, column,
        graft.plans.IndexCatalog.Contains)
      case "exact" => graft.plans.IndexCatalog.unregister(root, column,
        graft.plans.IndexCatalog.Equals)
      case "json" => graft.plans.IndexCatalog.unregister(root, column,
        graft.plans.IndexCatalog.Json)
      case "bm25" => Bm25.Catalog.unregister(root, column)
      case _ => AnnIndex.Catalog.unregister(root, column)
    }
    writeIndexDefs(root,
      readIndexDefs(root).filterNot(d => d.column == column && d.tpe == tpe))
    val p = new org.apache.hadoop.fs.Path(indexDir(root, column, tpe).toString)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // no indexes left -> nothing can be stale: clear any crash-orphaned
    // rebuild fence so drop-all + recreate recovers routing
    if (readIndexDefs(root).isEmpty) endIndexRebuild(root)
    registeredIndexRoots.remove(root)
    ()
  }

  /** (re)build one index artifact from the table's CURRENT snapshot */
  private def buildIndexArtifact(spark: SparkSession, root: String,
      d: IndexDef): Unit = {
    val df = open(spark, root)
    val dir = indexDir(root, d.column, d.tpe).toString
    import graft.operators.{AnnIndex, Bm25, InvertedIndex}
    d.tpe match {
      case "inverted" =>
        InvertedIndex.build(df, d.idCol, d.column).write.mode("overwrite").parquet(dir)
      case "exact" =>
        InvertedIndex.buildExact(df, d.idCol, d.column).write.mode("overwrite").parquet(dir)
      case "json" =>
        InvertedIndex.buildJson(df, d.idCol, d.column, d.jsonPaths)
          .write.mode("overwrite").parquet(dir)
      case "bm25" =>
        Bm25.save(spark, df, d.idCol, d.column, dir)
      case "clustered" | "clustered_quantized" =>
        val n = math.max(2, math.min(64, math.sqrt(df.count().toDouble).toInt / 4))
        AnnIndex.save(
          AnnIndex.build(df, d.idCol, d.column, nClusters = n,
            quantized = d.tpe == "clustered_quantized"), dir)
    }
  }

  /** O(delta) maintenance when already-written delta segments land
    * ([[append]] / insert-only [[mergeInto]] / [[merge]] / [[pull]]):
    * the per-doc posting families (inverted/exact/json) absorb each
    * segment's rows as new parquet files — the existing corpus is never
    * re-read; BM25 tokenizes ONLY the delta and lands it as ONE batch
    * segment per stats table (merge-on-read algebra in
    * [[graft.operators.Bm25.load]] — no delete-rewrite window for
    * readers); clustered ANN assigns the delta to the EXISTING
    * centroids ([[graft.operators.AnnIndex.assignDelta]]) as one
    * absorbed batch segment — the same recall envelope as the
    * streaming maintainer.
    *
    * IDEMPOTENCE: every absorb is keyed by the delta's SEGMENT NAME
    * (the caller writes the segment before calling, commits the
    * manifest after). A re-absorb of the same segment — commit failed,
    * caller retried — overwrites its `batch=<seg>` dirs (bm25/ann) or
    * no-ops on its `_absorbed_<seg>` marker (posting kinds), so BM25
    * corpus stats are never double-counted and ANN candidates never
    * duplicated. A retry that re-wrote the data under a NEW segment
    * name leaves the old key orphaned; [[reconcileOrphanBatches]]
    * drops commit-keyed batches whose segment never made the manifest
    * before each absorb. (Posting-kind duplicates from the same race
    * are harmless by construction: the LEFT SEMI join back to the scan
    * dedupes doc ids.)
    *
    * FAILURES never poison the committed data — but the semi-join
    * rewrite ANSWERS queries from the index, so a stale index means
    * wrong results, not slow ones: a broken maintenance pass
    * QUARANTINES the index (unregister + drop from the manifest +
    * delete the artifact) and queries fall back to linear scans until
    * createIndex runs again. */
  private def maintainIndexesOnAppend(spark: SparkSession, root: String,
      segNames: Seq[String]): Unit = {
    var live = readIndexDefs(root)
    if (live.isEmpty || segNames.isEmpty) return
    live.foreach(d => reconcileOrphanBatches(root, d, segNames.toSet))
    segNames.foreach { seg =>
      val delta = spark.read.parquet(Paths.get(root, seg).toString)
      live = live.filter { d =>
        try { absorbSegment(spark, root, d, delta, seg); true }
        catch { case e: Throwable =>
          quarantineIndex(spark, root, d,
            s"maintenance failed on append of $seg: ${e.getMessage}")
          false
        }
      }
    }
  }

  /** posting-kind absorbs append files with no transactional overwrite,
    * so an already-absorbed segment is skipped via a marker file (the
    * leading underscore keeps parquet discovery away from it) */
  private def absorbMarker(root: String, d: IndexDef, seg: String): Path =
    indexDir(root, d.column, d.tpe).resolve(s"_absorbed_$seg")

  private def absorbSegment(spark: SparkSession, root: String, d: IndexDef,
      delta: DataFrame, seg: String): Unit = {
    val dir = indexDir(root, d.column, d.tpe).toString
    import graft.operators.{AnnIndex, Bm25, InvertedIndex}
    if (!delta.columns.contains(d.column) || !delta.columns.contains(d.idCol)) {
      // a schema-evolution delta lacking the indexed (or id) column
      // null-fills at read, so those rows contribute NOTHING to a
      // per-doc index — the correct absorb is a no-op (quarantining
      // here would destroy a valid index on a documented append)
      ()
    } else d.tpe match {
      case "inverted" | "exact" | "json" =>
        if (!Files.exists(absorbMarker(root, d, seg))) {
          val postings = d.tpe match {
            case "inverted" => InvertedIndex.build(delta, d.idCol, d.column)
            case "exact" => InvertedIndex.buildExact(delta, d.idCol, d.column)
            case _ => InvertedIndex.buildJson(delta, d.idCol, d.column, d.jsonPaths)
          }
          postings.write.mode("append").parquet(dir)
          Files.write(absorbMarker(root, d, seg), Array.empty[Byte])
        }
      case "bm25" =>
        val post = Bm25.postings(delta, d.idCol, d.column).localCheckpoint()
        val (ds, tdf) = Bm25.corpusStats(post)
        post.write.mode("overwrite").parquet(s"$dir/postings/batch=$seg")
        ds.write.mode("overwrite").parquet(s"$dir/doc_stats/batch=$seg")
        tdf.write.mode("overwrite").parquet(s"$dir/term_df/batch=$seg")
      case "clustered" | "clustered_quantized" =>
        AnnIndex.assignDelta(AnnIndex.load(spark, dir), delta, d.idCol, d.column)
          .write.mode("overwrite").parquet(s"$dir/assignments/batch=$seg")
    }
  }

  /** Drop commit-keyed batches (`batch=seg-*`) whose segment is neither
    * on the current main manifest nor in the incoming absorb set — the
    * residue of a retried append whose first commit never landed, which
    * would otherwise double-count BM25 stats / duplicate ANN
    * candidates forever. Streaming-maintainer batches (`base`,
    * `compact`, caller-chosen ids) never match the `seg-` prefix and
    * are untouched. Sound under the documented single-writer-per-root
    * contract (a second writer's in-flight absorb would look orphaned). */
  private def reconcileOrphanBatches(root: String, d: IndexDef,
      incoming: Set[String]): Unit = {
    val subdirs = d.tpe match {
      case "bm25" => Seq("postings", "doc_stats", "term_df")
      case "clustered" | "clustered_quantized" => Seq("assignments")
      case _ => Nil
    }
    if (subdirs.isEmpty) return
    val live = currentMainSegments(root) ++ incoming
    subdirs.foreach { sub =>
      val p = indexDir(root, d.column, d.tpe).resolve(sub)
      if (Files.exists(p)) Files.list(p).iterator().asScala
        .filter { b =>
          val n = b.getFileName.toString
          n.startsWith("batch=seg-") && !live.contains(n.stripPrefix("batch="))
        }.toSeq.foreach { b =>
          Files.walk(b).iterator().asScala.toSeq
            .sortBy(-_.getNameCount).foreach(Files.delete(_))
        }
    }
  }

  /** COW mutations (delete/update/column DDL/full merge) rebuild each
    * owned index from the new snapshot: the mutation itself is already
    * an O(table) rewrite, so the rebuild matches its cost class (and
    * the delete==rebuild-without law is what IndexMaintenanceSpec holds
    * for the streaming path). */
  private def rebuildIndexes(spark: SparkSession, root: String): Unit =
    readIndexDefs(root).foreach { d =>
      try {
        buildIndexArtifact(spark, root, d)
        registerOne(spark, root, d) // ALL kinds: rewrite() unregisters
                                    // plan-level entries pre-commit too
      } catch { case e: Throwable =>
        quarantineIndex(spark, root, d,
          s"rebuild after copy-on-write failed: ${e.getMessage}")
      }
    }

  /** Unregister from the routing catalogs WITHOUT touching the manifest
    * or artifact — the pre-commit step of a copy-on-write mutation:
    * between the new manifest landing and the rebuild finishing, the old
    * index content is WRONG for the new data (an updated doc's old
    * postings would still match), so concurrent planners must fall back
    * to linear scans until [[rebuildIndexes]] re-registers. */
  private def unregisterIndexes(root: String): Unit =
    readIndexDefs(root).foreach { d =>
      import graft.operators.{AnnIndex, Bm25}
      import graft.plans.IndexCatalog
      d.tpe match {
        case "inverted" => IndexCatalog.unregister(root, d.column, IndexCatalog.Contains)
        case "exact" => IndexCatalog.unregister(root, d.column, IndexCatalog.Equals)
        case "json" => IndexCatalog.unregister(root, d.column, IndexCatalog.Json)
        case "bm25" => Bm25.Catalog.unregister(root, d.column)
        case _ => AnnIndex.Catalog.unregister(root, d.column)
      }
    }

  /** On-disk fence for the copy-on-write rebuild window. While it
    * exists: [[registerIndexes]] refuses to (re)register the root — in
    * THIS session (the root also enters registeredIndexRoots so a
    * nested open() cannot undo the unregister) and in any FRESH session
    * opening the table; [[routingMainSegments]] reports no current
    * segments, so plan-level routing in long-lived OTHER sessions falls
    * back to linear scans; and the bm25/ann providers return None. A
    * crash mid-rebuild leaves the marker — routing stays off (the
    * artifacts are suspect), which is the safe side; the next
    * successful COW mutation or a fresh createIndex clears it. */
  private def rebuildMarker(root: String): Path =
    indexesDir(root).resolve("_rebuilding")

  private def beginIndexRebuild(root: String): Unit = {
    Files.createDirectories(indexesDir(root))
    Files.write(rebuildMarker(root), Array.empty[Byte])
    registeredIndexRoots.add(root)
    unregisterIndexes(root)
  }

  private def endIndexRebuild(root: String): Unit = {
    Files.deleteIfExists(rebuildMarker(root))
    ()
  }

  /** A failed maintenance/rebuild must not leave a stale index live
    * (routed queries would silently return another version's rows):
    * unregister, drop from the manifest so a FRESH session cannot
    * re-register the broken artifact, delete the artifact best-effort,
    * and log loudly. The table data itself is untouched — queries fall
    * back to linear scans until createIndex runs again. */
  private def quarantineIndex(spark: SparkSession, root: String,
      d: IndexDef, cause: String): Unit = {
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"QUARANTINING index ${d.column}__${d.tpe} under $root ($cause); " +
        "queries fall back to linear scans; re-run createIndex to restore")
    try dropIndex(spark, root, d.column, d.tpe)
    catch { case e: Throwable =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"quarantine cleanup failed (${e.getMessage}); unregistering only")
      try {
        writeIndexDefs(root, readIndexDefs(root)
          .filterNot(x => x.column == d.column && x.tpe == d.tpe))
      } catch { case _: Throwable => () }
    }
  }

  // ------------------------- version-gated bm25/ann route registration
  // Plan-level (inverted/exact/json) entries hold only a PATH — every
  // query reads the artifact fresh, and [[routingMainSegments]] gates
  // the rewrite. The bm25/ann catalogs instead hold LOADED frames, so a
  // table-owned registration is a PROVIDER closure that re-checks the
  // manifest + artifact stamp at LOOKUP time: a drop/quarantine in
  // another process is observed (provider returns None -> no route), an
  // absorb in any process bumps the artifact dir mtime and triggers a
  // reload, and an in-flight rebuild fence suppresses the route. The
  // loaded frames cache per stamp, so steady-state lookups cost two
  // stat calls.

  private val loadedArtifacts = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), (Long, AnyRef)]()

  private def mtimeNanos(p: Path): Long =
    try Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS)
    catch { case _: java.io.IOException => -1L }

  /** change stamp for one index artifact: the index manifest (DDL) and
    * the artifact's batch-segment dir (absorbs) both bump it */
  private def indexStamp(root: String, d: IndexDef): Long = {
    val dataSub = if (d.tpe == "bm25") "postings" else "assignments"
    31L * mtimeNanos(indexManifest(root)) +
      mtimeNanos(indexDir(root, d.column, d.tpe).resolve(dataSub))
  }

  private def loadStamped[T <: AnyRef](root: String, d: IndexDef)(
      load: => T): T = {
    val key = (root, d.column, d.tpe)
    val stamp = indexStamp(root, d)
    val cached = loadedArtifacts.get(key)
    if (cached != null && cached._1 == stamp) cached._2.asInstanceOf[T]
    else {
      val v = load
      loadedArtifacts.put(key, (stamp, v))
      v
    }
  }

  private def bm25Provider(spark: SparkSession, root: String,
      column: String): Option[graft.operators.Bm25.Catalog.Entry] =
    if (Files.exists(rebuildMarker(root))) None
    else readIndexDefs(root).find(x => x.column == column && x.tpe == "bm25")
      .map { d =>
        val idx = loadStamped(root, d)(
          graft.operators.Bm25.load(spark, indexDir(root, d.column, d.tpe).toString))
        graft.operators.Bm25.Catalog.Entry(idx, d.idCol)
      }

  private def annProvider(spark: SparkSession, root: String,
      column: String): Option[graft.operators.AnnIndex.Catalog.Entry] =
    if (Files.exists(rebuildMarker(root))) None
    else readIndexDefs(root).find(x => x.column == column &&
        (x.tpe == "clustered" || x.tpe == "clustered_quantized"))
      .map { d =>
        val idx = loadStamped(root, d)(
          graft.operators.AnnIndex.load(spark, indexDir(root, d.column, d.tpe).toString))
        graft.operators.AnnIndex.Catalog.Entry(idx, d.idCol,
          graft.operators.AnnIndex.SearchConfig())
      }

  private def registerOne(spark: SparkSession, root: String, d: IndexDef): Unit = {
    val dir = indexDir(root, d.column, d.tpe).toString
    import graft.operators.{AnnIndex, Bm25}
    import graft.plans.IndexCatalog
    d.tpe match {
      case "inverted" =>
        IndexCatalog.register(root, d.column, dir, d.idCol, IndexCatalog.Contains)
      case "exact" =>
        IndexCatalog.register(root, d.column, dir, d.idCol, IndexCatalog.Equals)
      case "json" =>
        IndexCatalog.register(root, d.column, dir, d.idCol, IndexCatalog.Json,
          d.jsonPaths)
      case "bm25" =>
        Bm25.Catalog.registerProvider(root, d.column,
          () => bm25Provider(spark, root, d.column))
      case "clustered" | "clustered_quantized" =>
        AnnIndex.Catalog.registerProvider(root, d.column,
          () => annProvider(spark, root, d.column))
    }
  }

  /** roots whose manifest content has already been registered this
    * session — open() calls this on every read, so it must be a cheap
    * no-op after the first registration (and after any DDL, which
    * invalidates by removing the root) */
  private val registeredIndexRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Segment names of the CURRENT main-branch version (empty set when
    * the root has no versions). Raw read — for the routing-gate form
    * (marker-fenced + memoized) use [[routingMainSegments]]. */
  def currentMainSegments(root: String): Set[String] = {
    val v = currentVersion(root, Main)
    if (v == 0L) Set.empty else segments(root, v, Main).toSet
  }

  /** Routing-gate view of [[currentMainSegments]], the one
    * [[graft.plans.IndexRewrite]] consults per Filter: a snapshot scan
    * routes through a table-owned index ONLY when the scanned segment
    * set is a subset of this one — a branch read, a time-travel read,
    * or a reader holding a stale plan falls back to the linear scan
    * rather than answer from an index reflecting a different row set.
    * Two extra properties over the raw read:
    *  - an in-flight copy-on-write rebuild ([[rebuildMarker]]) reports
    *    NO current segments, so even a scan of the freshly-committed
    *    version cannot route through the not-yet-rebuilt artifact —
    *    including from long-lived OTHER sessions;
    *  - the manifest read memoizes on the version-dir mtime (a commit
    *    creates a manifest file, bumping it), so the optimizer rule's
    *    per-Filter calls cost two stat()s, not a manifest read. */
  def routingMainSegments(root: String): Set[String] =
    if (Files.exists(rebuildMarker(root))) Set.empty
    else {
      val stamp = mtimeNanos(vDir(root, Main))
      val cached = routingSegCache.get(root)
      if (cached != null && cached._1 == stamp) cached._2
      else {
        val s = currentMainSegments(root)
        routingSegCache.put(root, (stamp, s))
        s
      }
    }

  private val routingSegCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[String])]()

  /** test hook: simulate a fresh session (catalogs cleared elsewhere) */
  private[graft] def resetIndexRegistry(): Unit = {
    registeredIndexRoots.clear()
    routingSegCache.clear()
    loadedArtifacts.clear()
  }

  /** Re-register every persisted index with the routing catalogs —
    * called from [[open]], so a fresh session picks a table's indexes
    * up from the table root alone (the reference resolves indexes off
    * the dataset, not off process state). Idempotent and cheap. While
    * a copy-on-write rebuild is in flight ([[rebuildMarker]]) this is a
    * strict no-op — it neither registers (the artifacts are mid-
    * rebuild) nor marks the root done (so the registration happens on
    * the first open AFTER the fence lifts). */
  def registerIndexes(spark: SparkSession, root: String): Unit =
    if (!registeredIndexRoots.contains(root) && Files.exists(indexManifest(root)) &&
        !Files.exists(rebuildMarker(root))) {
      readIndexDefs(root).foreach(registerOne(spark, root, _))
      registeredIndexRoots.add(root)
      ()
    }

  // --------------------------------------- async commit & replication
  // The reference runs commits and remote sync off the foreground path
  // (async commit `__init__.pyi:3451`, push/pull `__init__.pyi:
  // 3505-3565`, background WAL shipping `cpp/deeplake_pg/
  // sync_worker.cpp`). Same shape here: ONE daemon sync worker applies
  // queued commits/pushes in submission order — the WAL property, later
  // work never lands before earlier work — and replication copies
  // segment data BEFORE the manifest that references it, so a reader of
  // the destination can never open a version whose segments haven't
  // arrived. Replication goes through the Hadoop FileSystem API, so the
  // remote side can be any configured scheme (file:, hdfs:, s3a:, ...);
  // only missing versions ship — O(delta), never O(dataset).

  private lazy val syncWorker =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-snapshot-sync"); t.setDaemon(true); t
    })

  private def submit[T](body: => T): java.util.concurrent.Future[T] =
    syncWorker.submit(new java.util.concurrent.Callable[T] {
      def call(): T = body
    })

  /** Queue an append on the sync worker; the foreground returns
    * immediately. Queued operations apply in submission order. */
  def appendAsync(spark: SparkSession, root: String, df: DataFrame,
      branch: String = Main): java.util.concurrent.Future[Long] =
    submit(append(spark, root, df, branch))

  /** Block until every previously queued async operation has applied. */
  def flushAsync(): Unit = submit(()).get()

  /** Push: ship every version `remote` lacks. Returns the shipped
    * "branch:version" ids (empty = already in sync). */
  def push(spark: SparkSession, root: String, remote: String): Seq[String] =
    replicate(spark, root, remote)

  /** Pull: fetch every version `remote` has that this root lacks.
    * Locally-owned indexes absorb the pulled delta: appended history
    * absorbs O(delta) (new segments only), a remote copy-on-write
    * (current segments dropped) forces a rebuild — either way the
    * routing gate never passes against an index missing pulled rows. */
  def pull(spark: SparkSession, root: String, remote: String): Seq[String] = {
    val before = currentMainSegments(root)
    val shipped = replicate(spark, remote, root)
    if (shipped.nonEmpty && readIndexDefs(root).nonEmpty) {
      val after = currentMainSegments(root)
      if (before.subsetOf(after)) {
        val fresh = (after -- before).toSeq.sorted
        if (fresh.nonEmpty) maintainIndexesOnAppend(spark, root, fresh)
      } else rebuildIndexes(spark, root)
    }
    shipped
  }

  /** Queue a push on the sync worker (the background WAL-shipping
    * analog): ingest keeps appending while earlier versions replicate. */
  def pushAsync(spark: SparkSession, root: String,
      remote: String): java.util.concurrent.Future[Seq[String]] =
    submit(replicate(spark, root, remote))

  private def readUtf8(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def writeUtf8(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Copy every manifest (and the segments it references) that `to`
    * lacks, branch by branch, version-ascending; fast-forward only —
    * a same-numbered manifest with different content means the two
    * roots diverged, which replication refuses (the reference's push
    * rejects non-fast-forward heads the same way). */
  private def replicate(spark: SparkSession, fromRoot: String,
      toRoot: String): Seq[String] = {
    import org.apache.hadoop.fs.{FileUtil, FileSystem, Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val srcRoot = new HPath(fromRoot)
    val dstRoot = new HPath(toRoot)
    val sfs = srcRoot.getFileSystem(conf)
    val dfs = dstRoot.getFileSystem(conf)
    def ls(fs: FileSystem, p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty

    val srcV = new HPath(srcRoot, "_v")
    val dstV = new HPath(dstRoot, "_v")
    val branchDirs: Seq[(String, HPath, HPath)] =
      (Main, srcV, dstV) +:
        ls(sfs, srcV).filter(st => st.isDirectory && st.getPath.getName.startsWith("b_"))
          .map(st => (st.getPath.getName.stripPrefix("b_"), st.getPath,
            new HPath(dstV, st.getPath.getName)))

    val shipped = scala.collection.mutable.ArrayBuffer.empty[String]
    branchDirs.foreach { case (branch, sdir, ddir) =>
      val have = ls(dfs, ddir).map(_.getPath.getName)
        .filter(_.endsWith(".manifest")).toSet
      val srcManifests = ls(sfs, sdir).map(_.getPath.getName)
        .filter(_.endsWith(".manifest")).sorted
      // fast-forward check on the newest shared version
      srcManifests.filter(have.contains).lastOption.foreach { shared =>
        require(
          readUtf8(sfs, new HPath(sdir, shared)) ==
            readUtf8(dfs, new HPath(ddir, shared)),
          s"$branch@${shared.stripSuffix(".manifest")} diverged between " +
            s"$fromRoot and $toRoot; replication is fast-forward only")
      }
      srcManifests.filterNot(have.contains).foreach { mName =>
        val body = readUtf8(sfs, new HPath(sdir, mName))
        body.split("\n").map(_.trim).filter(_.nonEmpty).foreach { seg =>
          val dSeg = new HPath(dstRoot, seg)
          if (!dfs.exists(dSeg)) {
            FileUtil.copy(sfs, new HPath(srcRoot, seg), dfs, dSeg, false, true, conf)
            val sStats = new HPath(srcRoot, s"$seg.stats.json")
            if (sfs.exists(sStats))
              FileUtil.copy(sfs, sStats, dfs,
                new HPath(dstRoot, s"$seg.stats.json"), false, true, conf)
          }
        }
        dfs.mkdirs(ddir)
        writeUtf8(dfs, new HPath(ddir, mName), body) // manifest LAST
        shipped += s"$branch:${mName.stripSuffix(".manifest").toLong}"
      }
    }
    // refs (branch points, tags) are tiny pointer files; they follow the
    // manifests so a ref never precedes the version it names
    Seq("branches", "tags").foreach { kind =>
      val sdir = new HPath(new HPath(srcRoot, "_refs"), kind)
      ls(sfs, sdir).foreach { st =>
        val dst = new HPath(new HPath(new HPath(dstRoot, "_refs"), kind),
          st.getPath.getName)
        dfs.mkdirs(dst.getParent)
        writeUtf8(dfs, dst, readUtf8(sfs, st.getPath))
      }
    }
    shipped.toSeq
  }
}
