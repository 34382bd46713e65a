package graft.core

import org.apache.spark.SparkContext

/** Names the Spark jobs an operator issues, so an event log or a
  * `graft.Probe` run can count them by operator. */
object Op {

  /** Run `body`'s jobs under `name` as their Spark job description, then
    * restore the caller's. The job group is left alone: a harness that
    * attributes jobs by group still sees them. */
  def scope[T](sc: SparkContext, name: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try body finally sc.setJobDescription(prev)
  }
}
