package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Seeded inputs. The engine only ever sees the files written here. */
object Inputs {

  /** Size of a generated news backlog. */
  final case class BacklogSize(rows: Int, keys: Int, days: Int, files: Int)

  /** Parquet fields of the harness fixture's `events` table, as parquet-mr
    * prints them. `ts` is timestamp[us] without the UTC flag, so Spark and
    * DuckDB read the same wall-clock values. */
  val FixtureEventFields: Seq[String] = Seq(
    "optional int64 event_id",
    "optional int64 ts (TIMESTAMP(MICROS,false))",
    "optional int64 user_id",
    "optional binary event_type (STRING)",
    "optional double value",
    "optional binary props (STRING)")

  /** Parquet fields of every part file under `path` (a file or a dir). */
  def parquetFields(path: String): Seq[Seq[String]] = {
    val f = new File(path)
    val parts =
      if (f.isDirectory) f.listFiles().toSeq
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
        .sortBy(_.getName)
      else Seq(f)
    parts.map { p =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p.getPath), new Configuration()))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.toString.trim).toSeq
      finally reader.close()
    }
  }

  /** Throws unless every part of `path` has the fixture's events schema. */
  def guardEventsSchema(path: String): Unit = {
    val found = parquetFields(path)
    require(found.nonEmpty, s"schema guard: no parquet parts under $path")
    found.find(_ != FixtureEventFields).foreach { bad =>
      throw new IllegalStateException(
        s"schema guard: $path has ${bad.mkString("; ")}; the fixture has " +
          FixtureEventFields.mkString("; "))
    }
  }

  private val TsFormat = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").withZone(ZoneOffset.UTC)
  private val Start = Instant.parse("2024-01-01T00:00:00Z")

  private val Fillers = Seq("shares", "quarter", "market", "report",
    "analysts", "revenue", "stock", "guidance", "sector", "deal", "earnings",
    "outlook", "investors", "forecast", "chip", "supply", "rates", "update",
    "board", "product", "launch", "cloud", "retail", "quarterly", "index")
  private val Boosters = Seq("very", "extremely", "really", "highly",
    "slightly", "hardly", "barely", "totally")
  private val Negators = Seq("not", "never", "no")

  /** Writes a news backlog as JSON-lines files in chronological order.
    *
    * Keys follow a Zipf(1.1) skew; every key carries a daily mood that
    * random-walks, and a headline draws positive or negative lexicon words
    * in proportion to its key's mood, with boosters, negators, a "but"
    * pivot, all-caps words and exclamation marks mixed in so every VADER
    * rule fires. `props` holds the headline and an integer `k` that the
    * signal stage correlates against. `value` is left null: the scoring
    * stage fills it. Returns `dir`.
    */
  def writeBacklog(dir: String, seed: Long, size: BacklogSize): String = {
    val rng = new SplittableRandom(seed)
    val lexicon = graft.functions.Vader.lexicon.toSeq.sortBy(_._1)
    val positive = lexicon.filter(_._2 > 0).map(_._1).toArray
    val negative = lexicon.filter(_._2 < 0).map(_._1).toArray
    val fillers = Fillers.filterNot(graft.functions.Vader.lexicon.contains)
      .toArray

    val zipf = {
      val w = (1 to size.keys).map(k => 1.0 / math.pow(k, 1.1))
      val cum = w.scanLeft(0.0)(_ + _).tail
      cum.map(_ / cum.last).toArray
    }
    def key(): Int = {
      val i = java.util.Arrays.binarySearch(zipf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, size.keys - 1)
    }
    val mood = Array.tabulate(size.keys) { _ =>
      val m = new Array[Double](size.days)
      var x = rng.nextDouble() * 2 - 1
      for (d <- 0 until size.days) {
        x = math.max(-1.0, math.min(1.0, 0.9 * x + 0.35 * gaussian(rng)))
        m(d) = x
      }
      m
    }
    val spanUs = size.days.toLong * 86400L * 1000000L
    val tsUs = Array.fill(size.rows)(rng.nextLong(spanUs))
    java.util.Arrays.sort(tsUs)
    val startUs = Start.getEpochSecond * 1000000L

    def pick(a: Array[String]): String = a(rng.nextInt(a.length))
    def headline(m: Double): String = {
      val words = Array.fill(6 + rng.nextInt(7)) {
        if (rng.nextDouble() < 0.45) {
          val w = pick(if (rng.nextDouble() < (1 + m) / 2) positive else negative)
          val r = rng.nextDouble()
          val shaped = if (r < 0.05) w.toUpperCase else w
          if (r < 0.15) s"${pick(Boosters.toArray)} $shaped"
          else if (r < 0.23) s"${pick(Negators.toArray)} $shaped"
          else shaped
        } else pick(fillers)
      }
      if (rng.nextDouble() < 0.08) words(words.length / 2) = "but"
      val bangs = if (rng.nextDouble() < 0.1) "!" * (1 + rng.nextInt(3)) else ""
      words.mkString(" ") + bangs
    }

    new File(dir).mkdirs()
    val perFile = (size.rows + size.files - 1) / size.files
    for (f <- 0 until size.files) {
      val out = new BufferedWriter(
        new FileWriter(new File(dir, f"part-$f%05d.json")), 1 << 16)
      try {
        for (i <- f * perFile until math.min(size.rows, (f + 1) * perFile)) {
          val k = key()
          val day = (tsUs(i) / 86400000000L).toInt
          val ts = TsFormat.format(Instant.ofEpochSecond(
            (startUs + tsUs(i)) / 1000000L, ((startUs + tsUs(i)) % 1000000L) * 1000L))
          val props = s"""{\\"k\\": ${rng.nextInt(100)}, \\"title\\": \\"${headline(mood(k)(day))}\\"}"""
          out.write(s"""{"event_id":$i,"ts":"$ts","user_id":${k + 1},""" +
            f""""event_type":"K${k + 1}%03d","props":"$props"}""")
          out.write('\n')
        }
      } finally out.close()
    }
    dir
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  /** A per-run alias of a read-only fixture: a fresh directory whose
    * basename is unique to the run, holding links to the fixture tables, so
    * every scratch path the engine derives from the basename is private to
    * this run. */
  def aliasFixture(fixture: String, alias: String): String = {
    val src = new File(fixture)
    require(src.isDirectory, s"fixture $fixture is missing")
    Files.createDirectories(Paths.get(alias))
    src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.createSymbolicLink(Paths.get(alias, f.getName), f.toPath)
    }
    alias
  }
}
