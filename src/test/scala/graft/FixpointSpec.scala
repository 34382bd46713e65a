package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Fixpoint
import graft.operators.{Dedup, Graphs, Ranking}

/** `core.Fixpoint`'s loop contract, and the driver actions each
  * iterative operator issues per round. The per-round job counts are
  * pinned: a loop change that silently adds an action (an extra
  * checkpoint, a convergence probe, a lost lazy leaf) shows up here as a
  * changed difference between k and k+1 rounds. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.local(4)

  private def jobs(body: => Unit): Int = JobCount(spark)(body)

  /** jobs(k + 1 rounds) − jobs(k rounds), after one warm-up run */
  private def perRound(run: Int => DataFrame, k: Int, k1: Int): Int = {
    run(k1).collect()
    val a = jobs(run(k).collect())
    jobs(run(k1).collect()) - a
  }

  private def vals(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("rounds: n steps see the round index and a stats-free leaf; returns the last state") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = Fixpoint.rounds(spark.range(3).toDF("x"), 4) { (df, r) =>
      seen += r
      val leaves = df.queryExecution.logical.collect { case l: LogicalRDD => l }
      // a stats-reset leaf reports the unknown-size default, not the
      // checkpointed frame's origin stats
      assert(leaves.size == 1 && leaves.head.computeStats().sizeInBytes ==
        SQLConf.get.defaultSizeInBytes, s"round $r input is not a stats-reset leaf")
      df.select((col("x") + 1).as("x"))
    }
    assert(seen == Seq(0, 1, 2, 3))
    assert(vals(out) == Seq(4L, 5L, 6L))
  }

  private def sumOrNone(df: DataFrame): Option[Long] = {
    val r = df.agg(sum(col("x"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("converge: stops when the measure repeats") {
    var steps = 0
    val out = Fixpoint.converge(spark.range(3).toDF("x"), 50)(sumOrNone) { df =>
      steps += 1
      df.select(least(col("x") + 1, lit(5L)).as("x"))
    }
    assert(vals(out) == Seq(5L, 5L, 5L))
    // 0,1,2 climb to 5,5,5 in five rounds; the sixth confirms it
    assert(steps == 6)
  }

  test("converge: maxRounds reached without convergence returns the last state") {
    var steps = 0
    val out = Fixpoint.converge(spark.range(3).toDF("x"), 3)(sumOrNone) { df =>
      steps += 1
      df.select((col("x") + 1).as("x"))
    }
    assert(steps == 3)
    assert(vals(out) == Seq(3L, 4L, 5L))
  }

  test("converge: an empty input runs zero rounds") {
    var steps = 0
    val out = Fixpoint.converge(spark.range(0).toDF("x"), 10)(sumOrNone) { df =>
      steps += 1; df
    }
    assert(steps == 0 && out.isEmpty)
    // the operators' own short-circuits: no peel round, no label round —
    // only the seed's materializing measure
    val s = spark; import s.implicits._
    val e0 = Seq.empty[(Long, Long)].toDF("src", "dst")
    var core: DataFrame = null
    assert(jobs { core = Graphs.kCore(e0, "src", "dst", 2); core.collect() } == 3)
    assert(core.isEmpty)
    var cc: DataFrame = null
    assert(jobs { cc = Dedup.connectedComponents(e0, "src", "dst"); cc.collect() } == 3)
    assert(cc.isEmpty)
  }

  test("driver jobs per round of the seven iterative operators") {
    val s = spark; import s.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L), (7L, 1L), (2L, 8L)).toDF("src", "dst")
    // a triangle with an 11-edge tail: k=2 peels one tail node a round
    val tail = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L)) ++
      (10L until 21L).map(i => (i, i + 1))).toDF("src", "dst")
    // a 64-node path: pointer jumping needs several rounds
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val cmp = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 1L), (4L, 1L))
      .toDF("w", "l")
    val seeds = Seq(1L).toDF("id")
    // measured before the loops moved onto Fixpoint; AQE runs each
    // shuffle stage as its own job, so a round is several jobs
    val expected = Seq(
      "pageRank" -> 7, "personalizedPageRank" -> 7, "hits" -> 5,
      "labelPropagation" -> 7, "bradleyTerry" -> 3, "kCore" -> 4,
      "connectedComponents" -> 8)
    val measured = Seq(
      "pageRank" -> perRound(i => Graphs.pageRank(g, "src", "dst", iterations = i), 2, 3),
      "personalizedPageRank" -> perRound(i => Graphs.personalizedPageRank(
        g, "src", "dst", seeds, "id", iterations = i), 2, 3),
      "hits" -> perRound(i => Graphs.hits(g, "src", "dst", iterations = i), 2, 3),
      // one round = two label iterations
      "labelPropagation" -> perRound(i =>
        Graphs.labelPropagation(g, "src", "dst", iterations = i), 2, 4),
      "bradleyTerry" -> perRound(i => Ranking.bradleyTerry(cmp, "w", "l", iterations = i), 2, 3),
      "kCore" -> perRound(i => Graphs.kCore(tail, "src", "dst", 2, maxIter = i), 1, 2),
      "connectedComponents" -> perRound(i =>
        Dedup.connectedComponents(path, "a", "b", maxIter = i), 1, 2))
    assert(measured == expected)
  }
}
