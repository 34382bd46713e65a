package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block runs. Job ids are handed out in
  * submission order, so the jobs between two one-task marker jobs are
  * exactly the jobs the block ran — no wait on the asynchronous
  * listener bus. */
object JobCount {
  private def marker(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val f = sc.submitJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) => (),
      Seq(0), (_: Int, _: Unit) => (), ())
    f.get()
    f.jobIds.head
  }

  def apply(spark: SparkSession)(body: => Unit): Int = {
    val a = marker(spark); body; marker(spark) - a - 1
  }
}
