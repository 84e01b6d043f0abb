package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Source-level guard for session isolation: a builder never sets conf or
 * registers a view on the session it is given — it runs that work in a
 * [[org.apache.spark.sql.graft.FreshSession]]. So in src/main the calls
 * that change a session (`conf.set`/`conf.unset`,
 * `createOrReplaceTempView`/`createTempView`, `Tables.registerAll(`, and
 * `saveAsTable(`, whose table every session of the SparkContext sees) may
 * appear only at the allowlisted sites, each marked on its line with a
 * `// session-mutation: <why>` comment. A new unmarked call fails, and so
 * does a marked one outside the allowlist.
 */
class SessionGuardSpec extends AnyFunSuite {

  private val Mutation =
    """\bconf\.(set|unset)\(|\.createOrReplaceTempView\(|\.createTempView\(|\bTables\.registerAll\(|\.saveAsTable\(""".r
  private val Marker = "// session-mutation:"

  /** Source file → the number of marked lines it may hold. */
  private val allowed = Map(
    "org/apache/spark/sql/graft/FreshSession.scala" -> 2, // the fresh session's own confs and view
    "graft/queries/QueryRegistry.scala" -> 1, // sqlQuery: views of its fresh session
    "graft/sources/Tables.scala" -> 3, // registerAll's definition; ensureNanosAsLong (must hold at scan)
    "graft/operators/Bucketing.scala" -> 1, // a bucketed table lives in the shared catalog
    "graft/streaming/EventStream.scala" -> 4) // two stream sites, each set + restore

  test("session-mutating calls appear only at allowlisted, marked sites") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected to run from the repo root, missing $root")
    val sites = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !isComment(line) &&
            (Mutation.findFirstIn(line.split("//", 2)(0)).isDefined || line.contains(Marker)) =>
            (rel, s"$rel:${i + 1}: ${line.trim}", line.contains(Marker))
        }
      }
    val unmarked = sites.collect { case (_, where, false) => where }
    assert(unmarked.isEmpty,
      "session-mutating calls outside a FreshSession body — run the work in " +
        "FreshSession, or mark and allowlist a site that must change its caller:\n" +
        unmarked.mkString("\n"))
    val counts = sites.groupBy(_._1).map { case (f, s) => f -> s.size }
    assert(counts == allowed,
      s"marked sites differ from the allowlist:\n${sites.map(_._2).mkString("\n")}")
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }
}
