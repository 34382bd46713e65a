package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Developer measurement main: time registered queries in isolation and
  * print per-job wall times and stage/task counts from a SparkListener,
  * so a multi-job operator's time can be split into job count and
  * per-stage work, and name the operator pass (`spark.job.description`,
  * see [[core.Op.scope]]) behind each of the slowest jobs; optionally
  * print each query's formatted plan. Each
  * rep is [[Bench.timed]], so a Probe number is a Bench number. Not part
  * of the driver contract.
  *
  *   sbt "runMain graft.Probe --cpus 4 --reps 3 q_graph_pagerank,q_bm25_*"
  *   sbt "runMain graft.Probe --reps 0 --explain --sf <sf dir> q9_product_profit"
  *
  * Names are comma- or space-separated; a trailing `*` selects every
  * query with that prefix; no names runs the Bench headliners. Rep 1
  * carries JIT warm-up, so read the later reps.
  */
object Probe {
  final case class Opts(sf: String = "/root/testdata/sf0.1", cpus: Int = 32,
      reps: Int = 3, explain: Boolean = false, names: Seq[String] = Nil)

  val usage = "usage: graft.Probe [--sf DIR] [--cpus N] [--reps N] [--explain] [names...]"

  /** Parse `args` and resolve the names against `known`, in the order
    * given. A name or prefix that matches nothing stays in the list so
    * the run reports it. Left is the usage message. */
  def parse(args: Seq[String], known: Set[String]): Either[String, Opts] = {
    def count(v: String, min: Int)(set: Int => Opts): Either[String, Opts] =
      v.toIntOption.filter(_ >= min).map(set).toRight(s"bad value '$v'; $usage")
    def go(rest: List[String], o: Opts): Either[String, Opts] = rest match {
      case Nil => Right(o)
      case "--sf" :: d :: t => go(t, o.copy(sf = d))
      case "--cpus" :: n :: t => count(n, 1)(c => o.copy(cpus = c)).flatMap(go(t, _))
      case "--reps" :: n :: t => count(n, 0)(r => o.copy(reps = r)).flatMap(go(t, _))
      case "--explain" :: t => go(t, o.copy(explain = true))
      case f :: _ if f.startsWith("--") => Left(s"bad flag '$f'; $usage")
      case n :: t => go(t, o.copy(names = o.names ++ n.split(",").map(_.trim).filter(_.nonEmpty)))
    }
    go(args.toList, Opts()).map { o =>
      val names = if (o.names.isEmpty) Headline.names.toSeq.sorted else o.names.flatMap { n =>
        val hits = if (n.endsWith("*")) known.toSeq.filter(_.startsWith(n.dropRight(1))).sorted else Nil
        if (hits.isEmpty) Seq(n) else hits
      }
      o.copy(names = names.distinct)
    }
  }

  def main(args: Array[String]): Unit = {
    val queries = SparkEntry.queries
    val o = parse(args.toSeq, queries.keySet).fold(
      msg => { System.err.println(msg); sys.exit(2) }, identity)
    val spark = core.Session.local(o.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // id, start, end, stages, tasks, description
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long, Int, Int, String)]
    val starts = mutable.Map.empty[Int, (Long, Int, Int, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts(js.jobId) = (js.time, js.stageInfos.size, js.stageInfos.map(_.numTasks).sum,
          Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("-"))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, st, tk, d) =>
          jobs += ((je.jobId, t0, je.time, st, tk, d)) }
    })
    // warm every persisted artifact, so no query's first rep silently
    // pays an index build
    if (o.reps > 0) operators.IndexStore.warmAll(spark, o.sf)
    o.names.foreach { name =>
      queries.get(name) match {
        case None => println(s"[probe] $name UNKNOWN")
        case Some(fn) =>
          if (o.explain) {
            println(s"==== PLAN $name")
            try fn(spark, o.sf).explain("formatted")
            catch { case e: Throwable => println(s"(explain failed: ${e.getMessage})") }
            println(s"==== END $name")
          }
          if (o.reps > 0) try {
            val walls = (1 to o.reps).map { r =>
              jobs.clear()
              val wall = Bench.timed(spark, o.sf, name)
              Thread.sleep(200) // let listener events drain
              val tot = jobs.map(j => j._3 - j._2).sum / 1e3
              println(f"[probe] $name rep$r wall=$wall%.2fs jobs=${jobs.size} jobsum=$tot%.2fs stages=${jobs.map(_._4).sum} tasks=${jobs.map(_._5).sum}")
              wall
            }
            jobs.sortBy(j => -(j._3 - j._2)).take(10).foreach {
              case (id, s, e, st, tk, d) =>
                println(f"[probe]   job#$id ${(e - s) / 1e3}%.3fs stages=$st tasks=$tk $d")
            }
            println(f"[probe] $name median=${Bench.median(walls)}%.3fs (${walls.map(t => f"$t%.2f").mkString(" ")})")
          } catch { case e: Throwable => println(s"[probe] $name FAIL ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
