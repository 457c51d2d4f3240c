package graft

import org.apache.spark.sql.{DataFrame, GraftSessionBridge, SparkSession}

/**
 * The one way to scope an execution profile (a fixed map of `spark.sql.*`
 * confs): run under it on a CLONE of the caller's session, which shares
 * the SparkContext, cache and optimizer rules but not the conf, so the
 * caller's conf is never written. A Dataset plans under the session it
 * is rooted on (for a join, the LEFT operand's): frames entering a clone
 * are re-rooted with `adopt`.
 */
object SessionProfile {

  /** A private clone of `spark` carrying `confs`. */
  def fork(spark: SparkSession, confs: Map[String, String]): SparkSession = {
    val child = GraftSessionBridge.cloneSession(spark)
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  // A session's first jobs pay a fixed start-up cost (~85 ms on a 4-core
  // VM), so clones are shared per parent, profile and parent state (conf
  // and optimizer extras). Parent temp views and functions registered
  // later are not seen: bodies take inputs as frames or paths, not names.
  private val shared =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, SparkSession]()

  /** The shared clone of `spark` carrying `confs`; never write its conf. */
  def profiled(spark: SparkSession, confs: Map[String, String]): SparkSession =
    shared.computeIfAbsent((spark, confs, spark.conf.getAll,
      spark.experimental.extraOptimizations, spark.experimental.extraStrategies),
      _ => fork(spark, confs))

  /** Run `body` on (and with the thread's active session set to) the
    * shared clone; the frame it returns is re-rooted onto `spark`, so
    * unless `body` materialized it, it plans under `spark`. */
  def run(spark: SparkSession, confs: Map[String, String])(
      body: SparkSession => DataFrame): DataFrame = {
    val child = profiled(spark, confs)
    adopt(spark, active(child)(body(child)))
  }

  /** Evaluate `body` with `session` as the thread's active session. */
  def active[T](session: SparkSession)(body: => T): T =
    GraftSessionBridge.withActive(session)(body)

  /** `df`'s plan rooted on `session`. */
  def adopt(session: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq session) df
    else GraftSessionBridge.ofRows(session, df)
}
