package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.StatsCatalog

/** MCV-aware CBO broadcast hints: Spark's size-only estimator passes a
  * Filter's size through unchanged, so a selectively-filtered dimension
  * never broadcasts once the raw table is over the threshold. With
  * ANALYZE'd stats, the rare-value filter is estimated tiny (broadcast
  * hint fires) while the SKEWED common-value filter is estimated from
  * its true MCV frequency (no hint — a 1/ndv guess would have wrongly
  * broadcast 90% of the table). */
class CboSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  private lazy val tmp = {
    GraftExtensions.register(spark)
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("cbo").toString
    // dim: 90% 'common', the rest spread over 100 rare values (20 rows each)
    (0L until 20000L).map { i =>
      (i, if (i % 10 != 9) "common" else s"rare_${i % 1000}", i * 3)
    }.toDF("k", "grp", "payload").write.parquet(s"$d/dim")
    (0L until 50000L).map(i => (i, i % 20000)).toDF("fid", "fk")
      .write.parquet(s"$d/fact")
    d
  }

  private def dim = spark.read.parquet(s"$tmp/dim")
  private def fact = spark.read.parquet(s"$tmp/fact")

  private def planOf(grpValue: String): String = {
    val f = fact
    val d = dim.filter(col("grp") === grpValue)
    f.join(d, f("fk") === d("k")).queryExecution.executedPlan.toString
  }

  private def withCboConfs[T](f: => T): T = {
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.graft.cbo.broadcastBytes", (64 * 1024).toString)
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("rare-value filter broadcasts; skewed MCV filter does not; no stats no hint") {
    withCboConfs {
      StatsCatalog.clearAll()
      // without stats: Spark alone (threshold -1) sort-merge-joins both
      assert(!planOf("rare_9").contains("BroadcastHashJoin"))

      val stats = StatsCatalog.analyze(dim, Seq("grp")).get
      assert(stats.rowCount === 20000L)
      assert(stats.cols("grp").mcvs("common") === 18000L)

      // rare value: ~20 rows estimated -> broadcast hint fires
      assert(planOf("rare_9").contains("BroadcastHashJoin"))
      // skewed value: MCV says 18000 rows (over the 64 KiB budget) -> no
      // hint, even though 1/ndv would have estimated ~198 rows
      assert(!planOf("common").contains("BroadcastHashJoin"))
      StatsCatalog.clearAll()
    }
  }

  test("range selectivity: narrow numeric band broadcasts, wide band does not") {
    withCboConfs {
      StatsCatalog.clearAll()
      StatsCatalog.analyze(dim, Seq("payload"))
      def planFor(cond: org.apache.spark.sql.Column): String = {
        val f = fact
        val d = dim.filter(cond)
        f.join(d, f("fk") === d("k")).queryExecution.executedPlan.toString
      }
      // payload uniform on [0, 59997]: top 1% -> tiny; bottom 95% -> big
      assert(planFor(col("payload") > lit(59400L)).contains("BroadcastHashJoin"))
      assert(!planFor(col("payload") > lit(3000L)).contains("BroadcastHashJoin"))
      StatsCatalog.clearAll()
    }
  }

  test("ANALYZE output persists to disk and reloads after a catalog clear") {
    val savedDir = StatsCatalog.cacheDir
    StatsCatalog.cacheDir =
      java.nio.file.Files.createTempDirectory("graft-stats").toFile
    try {
      StatsCatalog.clear()
      val d = dim
      StatsCatalog.analyze(d, Seq("grp"))
      val root = s"$tmp/dim"
      assert(StatsCatalog.lookup(root).isDefined)
      StatsCatalog.clear() // memory dropped, disk survives
      val reloaded = StatsCatalog.lookup(root)
      assert(reloaded.isDefined, "persisted stats must reload on lookup")
      assert(reloaded.get.cols("grp").mcvs("common") === 18000L)
      StatsCatalog.clearAll() // disk dropped too
      assert(StatsCatalog.lookup(root).isEmpty)
    } finally {
      StatsCatalog.clearAll()
      StatsCatalog.cacheDir = savedDir
    }
  }

  test("join-output cardinality: a filtered-dim JOIN dim subtree broadcasts into the fact join") {
    withCboConfs {
      StatsCatalog.clearAll()
      import spark.implicits._
      val d2dir = s"$tmp/dim2"
      if (!new java.io.File(d2dir).exists())
        (0L until 20000L).map(i => (i, s"name_$i")).toDF("k2", "nm")
          .write.parquet(d2dir)
      val dim2 = spark.read.parquet(d2dir)

      def outerPlan(): String = {
        val sub = dim.filter(col("grp") === "rare_9")
          .join(dim2, col("k") === col("k2"))
        fact.join(sub, col("fk") === col("k"))
          .queryExecution.executedPlan.toString
      }
      // stats on the single relations only — the JOIN subtree has no root
      // path, so pre-join-estimation code could never hint this
      StatsCatalog.analyze(dim, Seq("grp", "k"))
      StatsCatalog.analyze(dim2, Seq("k2"))
      // |filtered dim| ~ 20; |filtered JOIN dim2| ~ 20*20000/20000 = 20
      // rows -> both the inner and the outer join broadcast
      val p = outerPlan()
      assert(p.sliding("BroadcastHashJoin".length)
        .count(_ == "BroadcastHashJoin") >= 2, p)
      StatsCatalog.clearAll()
    }
  }

  test("aggregate cardinality: a low-NDV group-by subtree broadcasts") {
    withCboConfs {
      StatsCatalog.clearAll()
      StatsCatalog.analyze(dim, Seq("grp", "k"))
      def planFor(groupCol: String): String = {
        val agg = dim.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
        dim.join(agg, groupCol).queryExecution.executedPlan.toString
      }
      // ndv(grp) ~ 101 -> tiny aggregate output -> broadcast
      assert(planFor("grp").contains("BroadcastHashJoin"))
      // ndv(k) = 20000 -> aggregate output is the whole table -> no hint
      assert(!planFor("k").contains("BroadcastHashJoin"))
      StatsCatalog.clearAll()
    }
  }

  test("join results identical with and without the hint") {
    withCboConfs {
      StatsCatalog.clearAll()
      def run(): Seq[Seq[Any]] = {
        val f = fact
        val d = dim.filter(col("grp") === "rare_9")
        f.join(d, f("fk") === d("k")).collect().map(_.toSeq).toSeq
          .sortBy(_.toString)
      }
      val plain = run()
      StatsCatalog.analyze(dim, Seq("grp"))
      val hinted = run()
      assert(hinted.nonEmpty && (plain.toSeq == hinted.toSeq))
      StatsCatalog.clearAll()
    }
  }

  test("mergeDelta: appended stats match a full re-ANALYZE without a history scan") {
    import spark.implicits._
    val savedDir = StatsCatalog.cacheDir
    StatsCatalog.cacheDir =
      java.nio.file.Files.createTempDirectory("graft-stats").toFile
    val root = java.nio.file.Files.createTempDirectory("cbo-inc").toString
    try {
      StatsCatalog.clear()
      def rows(lo: Long, hi: Long) = (lo until hi).map { i =>
        (i, if (i % 5 == 0) "hot" else s"v$i", i.toDouble)
      }.toDF("id", "grp", "x")
      rows(0, 2000).write.parquet(s"$root/t")
      val base = spark.read.parquet(s"$root/t")
      StatsCatalog.analyze(base, Seq("grp", "x"))

      // delta extends the value range and adds a NEW hot key
      val delta = (2000L until 3000L).map { i =>
        (i, if (i % 2 == 0) "hot2" else "hot", i.toDouble)
      }.toDF("id", "grp", "x")
      val merged = StatsCatalog.mergeDelta(spark, s"$root/t", delta)

      // exact merges: rowCount adds, min/max widen
      assert(merged.rowCount === 3000L)
      assert(merged.cols("x").min.contains(0.0))
      assert(merged.cols("x").max.contains(2999.0))

      // MCVs: both hot keys carry their exact total counts
      // hot: 400 (base) + 500 (delta odd ids) ; hot2: 500
      assert(merged.cols("grp").mcvs("hot") === 900L)
      assert(merged.cols("grp").mcvs("hot2") === 500L)

      // NDV within sketch error of a full recompute
      delta.write.mode("append").parquet(s"$root/t")
      StatsCatalog.clearAll()
      val full = StatsCatalog.analyze(
        spark.read.parquet(s"$root/t"), Seq("grp", "x")).get
      val (m, f) = (merged.cols("grp").ndv, full.cols("grp").ndv)
      assert(math.abs(m - f).toDouble / f < 0.05, s"merged ndv $m vs full $f")
      val (mx, fx) = (merged.cols("x").ndv, full.cols("x").ndv)
      assert(math.abs(mx - fx).toDouble / fx < 0.05, s"merged x ndv $mx vs full $fx")

      // merging without prior stats fails loudly
      intercept[IllegalStateException] {
        StatsCatalog.mergeDelta(spark, s"$root/nope", delta)
      }
    } finally {
      StatsCatalog.clearAll()
      StatsCatalog.cacheDir = savedDir
    }
  }
}
