package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: writes `<out dir>/planshape.json`, one
  * [[PlanShape]] record per declared query (the query's name → its
  * record, or → `{"failed": "<exception class>: <message>"}` when
  * building it threw). `scripts/plan_diff.py` compares two such files
  * and names each query whose record differs; a round commits its
  * sf0.01 record as `PLANSHAPE_rNN.json`, the next round's baseline.
  * Builds the Bench session so the recorded plan is the one the bench
  * times; plans are not run, so an adaptive plan records its initial
  * shape. Both dirs are required: without them it prints usage and
  * exits 2.
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
    val shapes = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        name -> (try PlanShape.of(fn(spark, sfDir)) catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
            Map("failed" -> s"${e.getClass.getName}: ${e.getMessage}")
        })
      }
    Json.write(s"$outDir/planshape.json", shapes.toMap)
    spark.stop()
  }
}
