package org.apache.spark.sql

/** Bridge for the streaming replays: a classic session's `cloneSession` is
  * `private[sql]`.
  */
object GraftSessions {
  /** A new session sharing `s`'s context, with copies of its runtime confs,
    * temp views and functions; conf changes on either side stay on that side.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
