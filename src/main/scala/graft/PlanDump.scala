package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for every
  * declared query to a directory (one file per query), so plan shape
  * (Exchange count, join strategy, PushedFilters/ReadSchema,
  * WholeStageCodegen spans) can be audited offline and before/after
  * diffs committed under plans/. Builds the Bench session so the
  * captured plan is the one the bench actually times. Both dirs are
  * required: without them it prints usage and exits 2.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: graft.PlanDump <sf dir> <out dir> [query ...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
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
