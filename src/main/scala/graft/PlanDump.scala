package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for every
  * declared query to a directory (one file per query), so plan shape
  * (Exchange count, join strategy, PushedFilters/ReadSchema,
  * WholeStageCodegen spans) can be audited offline and before/after
  * diffs committed under plans/. Builds the Bench session so the
  * captured plan is the one the bench actually times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "plans/r14/all"
    val only = args.drop(2).toSet
    SparkEntry.checkFilter("plandump", only, SparkEntry.queries.keySet)
    val spark = GraftExtensions.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"$name.txt"), txt)
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          Files.writeString(Paths.get(outDir, s"$name.txt"),
            s"FAILED: ${e.getMessage}\n")
        }
      }
    spark.stop()
  }
}
