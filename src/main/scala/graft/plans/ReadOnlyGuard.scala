package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, ParsedStatement}
import org.apache.spark.sql.internal.SQLConf

/**
 * Plan-level hardening of the SQL safety gate (SURVEY.md §4's "optional
 * hardening via parsed-plan allowlist"). The reference's validator is a
 * substring blocklist (`sql_generator.py:111`) which we port verbatim in
 * [[graft.SqlValidator]] — but substrings both over-reject (`created_at`)
 * and under-reject: side-effecting statements like `CACHE TABLE t AS
 * SELECT …`, `SET key=value`, or `REFRESH TABLE` contain none of the nine
 * blocked keywords and would execute. This guard parses the statement and
 * rejects anything that is not a pure query at the PLAN level, where
 * spelling tricks don't exist.
 */
object ReadOnlyGuard {

  final class NotReadOnlyException(msg: String) extends IllegalArgumentException(msg)

  /** Parse `sql` and throw unless it is a side-effect-free query. The parse
    * runs under `spark`'s conf, the dialect the statement runs in (the parser
    * otherwise reads the thread's active session, whose quoting may reject
    * `AS "x"`). */
  def assertReadOnly(spark: SparkSession, sql: String): Unit = {
    val plan = SQLConf.withExistingConf(spark.sessionState.conf) {
      spark.sessionState.sqlParser.parsePlan(sql)
    }
    val offender: Option[LogicalPlan] = plan.collectFirst {
      case c: Command => c
      case i: InsertIntoStatement => i
      case p: ParsedStatement => p // DDL/utility statements pre-resolution
    }
    offender.foreach { node =>
      throw new NotReadOnlyException(
        s"not a read-only query: ${node.getClass.getSimpleName}")
    }
  }
}
