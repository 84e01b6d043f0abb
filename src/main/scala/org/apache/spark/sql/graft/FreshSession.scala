package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Session isolation for builders: a builder that needs its own conf or
  * views runs its body in `caller.newSession()` — the caller's SparkContext,
  * cache and shared state, but its own SQLConf and temp-view catalog — and
  * hands back the body's result bound to the caller through
  * `classic.Dataset.ofRows` (private[sql]). The caller's action then plans
  * and runs under the caller's conf and listeners, and the caller's conf and
  * catalog never change, so any query can run beside any other on one
  * session. The analyzed plan has already inlined the body's views, and its
  * scans keep the fresh session's read confs.
  *
  * `newSession`, not `cloneSession`: a clone copies the caller's temp
  * views, runtime conf and `QueryExecutionListener`s, so the body would
  * read the caller's views and fire the caller's listeners; a new session
  * starts with none of them. It inherits the builder-time options (shuffle
  * partitions, UTC clock) but not the caller's runtime `conf.set` values,
  * and adds no SparkContext bus listener (measured on Spark 4.1.2: 20
  * calls under a registered listener leave the bus at 5 listeners;
  * `FreshSessionSpec` pins it). Touching a session's `.streams` would add
  * one per session, so stream drains stay on their caller (`EventStream`). */
object FreshSession {

  /** Runs `body` in a new session with `confs` set and returns its result
    * bound to `caller`. Actions inside `body` run under `confs`. */
  def apply(caller: SparkSession, confs: (String, String)*)(
      body: SparkSession => DataFrame): DataFrame = {
    val fresh = caller.newSession()
    confs.foreach { case (k, v) => fresh.conf.set(k, v) } // session-mutation: the fresh session's own conf
    bind(caller, body(fresh))
  }

  /** [[apply]] with `df` registered as the new session's temp view `view`:
    * a view that only the body's SQL can see. */
  def withView(caller: SparkSession, view: String, df: DataFrame, confs: (String, String)*)(
      body: SparkSession => DataFrame): DataFrame =
    apply(caller, confs: _*) { s =>
      bind(s, df).createOrReplaceTempView(view) // session-mutation: the fresh session's own view
      body(s)
    }

  /** `df`'s analyzed plan as a frame of `session`. */
  def bind(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
