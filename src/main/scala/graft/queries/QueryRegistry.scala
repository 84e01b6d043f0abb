package graft.queries

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

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

  lazy val queries: Map[String, Q] =
    registry.iterator.map { case (name, (q, _)) => name -> q }.toMap

  lazy val oracles: Map[String, String] =
    registry.iterator.map { case (name, (_, sql)) => name -> sql() }.toMap
}
