package org.apache.spark.sql

/** Bridge to the `private[sql]` hooks behind `graft.SessionProfile`.
  * `cloneSession`, unlike the public `newSession`, copies the parent's
  * runtime-set conf and experimental optimizer rules. */
object GraftSessionBridge {
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
  def withActive[T](s: SparkSession)(f: => T): T = s.withActive(f)
  def ofRows(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
