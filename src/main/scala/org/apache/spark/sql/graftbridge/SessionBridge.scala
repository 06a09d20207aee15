package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Bridge to the `private[sql]` session clone, for conf-scoped plan
  * certificates (ADVICE r11, high): queries that force a plan shape via SQL
  * confs (broadcast off, bucketed-scan ordering, AQE skew thresholds …) set
  * them on a CLONE and build their DataFrame there, instead of a
  * set/restore window on the shared session. Two failure modes this
  * retires:
  *
  *  - `DataFrameWriter` (Bench's noop sink, Verify's parquet dump) builds a
  *    NEW `QueryExecution` from the logical plan at action time. Under a
  *    set/restore window that re-plan happens AFTER the `finally` restored
  *    the confs, so the executed plan silently loses the forced shape — the
  *    in-query plan assert would cover a plan that never runs (q301's
  *    zero-exchange merge join would have benched as a broadcast join).
  *    The returned DataFrame CARRIES the clone as its session, and the
  *    clone's confs are permanent, so any later re-plan reproduces exactly
  *    the audited shape.
  *  - A parallel runner planning an unrelated query inside a shared-session
  *    window inherits the forced confs; a clone is invisible to it.
  *
  * Clones share the SparkContext and external catalog (bucketed scratch
  * tables stay visible), copy the parent's session state at clone time
  * (confs, temp views, registered functions), and die with the DataFrame.
  */
object SessionBridge {
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Block until every event already posted to the `private[spark]`
    * listener bus has reached its listeners (streaming progress included),
    * so listener-fed counters are complete when read — a deterministic
    * drain instead of sleeping. */
  def drainListenerBus(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()
}
