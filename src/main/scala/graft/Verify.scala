package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failures.json naming every query that threw (name → exception class
  * and message; `{}` when none did). A failed query leaves no output
  * dir, so the manifest is what tells a failure from a skipped query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict the dump to the named queries
    // (local iteration; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    SparkEntry.checkFilter("verify", only, SparkEntry.queries.keySet)
    val spark = GraftExtensions.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e)
        }
      }
    // Materialized-intermediate dumps are keyed by the sf-dir basename
    // (operators.Dumps) so interleaved sf0.01/sf0.1 driver executions
    // can't clobber each other; the static oracle SQL embeds the
    // placeholder tag, resolved here — after the queries above wrote
    // the matching dumps for THIS sf dir.
    val sfTag = graft.operators.Dumps.tag(sfDir)
    Json.write(s"$outDir/oracle_sql.json", SparkEntry.oracleSql.map {
      case (k, v) => k -> v.replace(graft.operators.Dumps.SfTag, sfTag) })
    Json.write(s"$outDir/failures.json", failures.map { case (name, e) =>
      name -> Map("class" -> e.getClass.getName,
        "message" -> String.valueOf(e.getMessage)) }.toMap)
    println(s"[verify] ${failures.size} queries failed (failures.json)")
    spark.stop()
  }
}
