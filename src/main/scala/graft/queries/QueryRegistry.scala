package graft.queries

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.FreshSession
import graft.sources.Tables

/**
 * One declaration per query: [[query]] registers a builder together with its
 * DuckDB oracle SQL under one name, and the tier's public `queries` and
 * `oracles` maps are derived from that ordered registry. A name registered
 * twice fails the tier's initialisation instead of silently shadowing the
 * earlier entry, as a repeated key in a `Map` literal would.
 */
trait QueryRegistry {

  type Q = (SparkSession, String) => DataFrame

  private val registry = mutable.LinkedHashMap.empty[String, (Q, () => String)]

  /** Registers `builder` under `name` and returns it. `oracle` is by-name and
    * evaluated only when [[oracles]] is first read: the oracle helpers are
    * strict vals declared below most queries, so reading them during the
    * tier's initialisation would splice `null` into the SQL text. */
  protected def query(name: String, oracle: => String)(builder: Q): Q = {
    require(!registry.contains(name), s"query name registered twice: $name")
    registry(name) = (builder, () => oracle)
    builder
  }

  /** A query that is one SQL text over the tables ([[Tables.All]]), run in a
    * [[FreshSession]] that holds the table views, so the caller's catalog
    * never changes. The text is the `oracle`'s own unless the Spark dialect
    * differs, in which case `sparkSql` gives the Spark text. */
  protected def sqlQuery(name: String, oracle: => String, sparkSql: String = ""): Q = {
    lazy val text = if (sparkSql.nonEmpty) sparkSql else oracle
    query(name, oracle) { (spark, sfDir) =>
      FreshSession(spark) { s =>
        Tables.registerAll(s, sfDir) // session-mutation: views of the fresh session
        s.sql(text)
      }
    }
  }

  lazy val queries: Map[String, Q] =
    registry.iterator.map { case (name, (q, _)) => name -> q }.toMap

  lazy val oracles: Map[String, String] =
    registry.iterator.map { case (name, (_, sql)) => name -> sql() }.toMap
}
