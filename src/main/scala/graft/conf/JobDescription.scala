package graft.conf

import org.apache.spark.sql.SparkSession

/** Operator-named Spark jobs: the description the UI, the event log and
  * listeners show for every job an operator's body submits.
  */
object JobDescription {

  /** Runs `body` with the Spark jobs it submits from this thread described
    * `description`, then restores the caller's description (a nested
    * call names its own jobs). Sets a thread-local property only: no job.
    */
  def described[A](spark: SparkSession, description: String)(body: => A)
      : A = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(description)
    try body finally sc.setLocalProperty(key, prev)
  }
}
