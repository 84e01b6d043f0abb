package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** [[FreshSession]]'s contract: the body's confs and views live only in its
  * own session, the result is the caller's, and repeated calls add no
  * SparkContext listener (the bus is private[spark], hence this package). */
class FreshSessionSpec extends AnyFunSuite {
  private val spark = graft.SparkTestSession.spark

  test("the body's confs and views stay in its session; the result is the caller's") {
    val caller = spark.newSession()
    val conf = caller.conf.getAll
    var aqeInside = ""
    val df = FreshSession(caller, "spark.sql.adaptive.enabled" -> "false") { s =>
      aqeInside = s.conf.get("spark.sql.adaptive.enabled")
      s.range(5).createOrReplaceTempView("fresh_session_view")
      s.table("fresh_session_view")
    }
    assert(aqeInside == "false")
    assert(df.sparkSession eq caller)
    assert(df.count() == 5)
    assert(caller.conf.getAll == conf)
    assert(!caller.catalog.tableExists("fresh_session_view"))
  }

  test("20 calls under a registered QueryExecutionListener add no bus listener") {
    val caller = spark.newSession()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, durationNs: Long): Unit = ()
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    caller.listenerManager.register(listener)
    try {
      val bus = caller.sparkContext.listenerBus
      def call(): Long = FreshSession(caller) { s =>
        val d = s.range(10).toDF()
        d.count() // an action inside the fresh session, as x46 and the checkpoint run
        d
      }.count()
      call()
      val before = bus.listeners.size
      (1 to 20).foreach(_ => call())
      assert(bus.listeners.size == before)
    } finally caller.listenerManager.unregister(listener)
  }
}
