package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{ATier, BTier, Extensions, QueryRegistry}

/**
 * The declared query inventory, checked without a SparkSession: every name
 * is registered in exactly one tier and carries its oracle SQL.
 */
class InventorySpec extends AnyFunSuite {

  test("tier registries are pairwise disjoint and sum to SparkEntry.queries") {
    val tiers = Seq(ATier.queries.keySet, BTier.queries.keySet, Extensions.queries.keySet)
    tiers.combinations(2).foreach { case Seq(a, b) =>
      assert((a & b).isEmpty, s"names in two tiers: ${a & b}")
    }
    assert(tiers.map(_.size).sum == SparkEntry.queries.size)
    assert(SparkEntry.queries.size == 696)
  }

  test("every query has its oracle SQL, and no oracle read an uninitialised helper") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    // an oracle evaluated before the tier's helper vals were set would
    // splice the text `null` into its SQL; no oracle spells NULL that way
    val spliced = SparkEntry.oracleSql.collect {
      case (name, sql) if "\\bnull\\b".r.findFirstIn(sql).isDefined => name
    }
    assert(spliced.isEmpty, s"oracles containing `null`: $spliced")
  }

  test("registering a name twice throws") {
    val q: (SparkSession, String) => DataFrame = (spark, _) => spark.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      new QueryRegistry {
        query("q01_twice", oracle = "SELECT 1")(q)
        query("q01_twice", oracle = "SELECT 2")(q)
      }
    }
    assert(e.getMessage.contains("q01_twice"))
  }
}
