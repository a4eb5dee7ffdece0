package graft
import java.nio.file.{Files, Paths}
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Materialized-intermediate dumps are keyed by the sf-dir basename
    // (operators.Dumps) so interleaved sf0.01/sf0.1 driver executions
    // can't clobber each other; the static oracle SQL embeds the
    // placeholder tag, resolved here — after the queries above wrote
    // the matching dumps for THIS sf dir.
    val sfTag = graft.operators.Dumps.tag(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(graft.operators.Dumps.SfTag, sfTag))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failed = failures.sortBy(_._1).map { case (name, e) =>
      s"${q(name)}: {${q("class")}: ${q(e.getClass.getName)}, " +
        s"${q("message")}: ${q(String.valueOf(e.getMessage))}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failed)
    println(s"[verify] ${failures.size} queries failed (failures.json)")
    spark.stop()
  }
}
