package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Concurrency stress over the WHOLE registered query surface: the
  * shared mutable state a long-lived Spark service accumulates —
  * Tql's parse/result caches, the StatsCatalog, persisted index
  * artifacts (IndexStore), staged/persisted frames inside operators —
  * must be invisible to concurrent callers. Each query's result under
  * an 8-thread storm must equal its single-threaded result; any race
  * (double-build, cache cross-talk, ThreadLocal bleed) shows up as a
  * hash mismatch or a thrown task.
  */
class ConcurrencySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = graft.core.Session.local(8)

  override def afterAll(): Unit = spark.stop()

  /** order-insensitive content fingerprint of a query's result */
  private def fingerprint(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    s"${rows.length}:${md.digest().map("%02x".format(_)).mkString}"
  }

  test("the full registered query suite is 8-way-concurrent safe (== sequential fingerprints)") {
    import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
    val names = SparkEntry.queries.keys.toSeq.sorted
    // single-threaded baseline (also builds every index artifact once,
    // so the concurrent pass stresses cache READ paths as well as any
    // rebuild races on the staged/persisted frames)
    val baseline = names.map(n => n -> fingerprint(n)).toMap
    val results = new ConcurrentHashMap[String, String]()
    val failures = new ConcurrentHashMap[String, Throwable]()
    val pool = Executors.newFixedThreadPool(8)
    // interleave: thread k walks a QUARTER of the list starting at
    // offset k·N/8, so every query is in flight on exactly two threads
    // at overlapping times — the same race surface as all-threads-run-
    // everything (overlap is what trips shared state, not repetition)
    // at a quarter of the wall clock
    (0 until 8).foreach { k =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val rotated = names.drop(k * names.size / 8) ++
            names.take(k * names.size / 8)
          // +2 absorbs integer-division rounding so the 8 slices always
          // tile the full list (the final assertion checks every name)
          rotated.take(math.max(1, names.size / 4 + 2)).foreach { n =>
            try {
              val fp = fingerprint(n)
              val prev = results.putIfAbsent(n, fp)
              if (prev != null && prev != fp)
                failures.putIfAbsent(n, new AssertionError(
                  s"cross-thread divergence for $n: $prev vs $fp"))
            } catch {
              case t: Throwable => failures.putIfAbsent(n, t)
            }
          }
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.MINUTES), "storm timed out")
    if (!failures.isEmpty) {
      import scala.jdk.CollectionConverters._
      fail(s"concurrent failures: ${failures.asScala.map {
        case (n, t) => s"$n -> $t" }.mkString("; ")}")
    }
    names.foreach { n =>
      assert(results.get(n) === baseline(n),
        s"$n diverged under concurrency")
    }
  }

  test("prepared-plan runBatch is concurrent-safe and the ResultCache never cross-talks") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.dialect.Tql
    val prepared = Tql.prepare(spark, dir,
      "SELECT o_orderpriority, SUM(o_totalprice) AS total FROM orders " +
        "WHERE o_totalprice > ? GROUP BY o_orderpriority ORDER BY o_orderpriority")
    val paramSets = (0 until 16).map(i => Seq((i * 10000.0).asInstanceOf[Any]))
    val sequential = paramSets.map(p =>
      prepared.run(p).collect().map(_.toSeq).toSeq)
    val storm = Await.result(Future.sequence((0 until 8).map(_ => Future {
      paramSets.map(p => prepared.run(p).collect().map(_.toSeq).toSeq)
    })), 10.minutes)
    storm.foreach(runs => assert(runs == sequential,
      "prepared-plan results diverged under concurrent runBatch"))
  }
}
