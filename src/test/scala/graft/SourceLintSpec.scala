package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint over every Scala file under `src/main`:
  *  - a doc comment sits directly on its definition: a line that
  *    closes a doc comment followed by a line that opens one leaves
  *    the first doc documenting nothing (or two docs over one
  *    definition);
  *  - a native kernel enters Catalyst only through `functions.Kernel`
  *    (Spark's `StaticInvoke`), so no source overrides `doGenCode`.
  */
class SourceLintSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, IndexedSeq[String])] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map(p => p -> Files.readAllLines(p).asScala.toIndexedSeq)
    finally walk.close()
  }

  test("the scan sees the sources") {
    assert(sources.exists(_._1.endsWith("functions/Kernel.scala")))
  }

  test("no doc comment directly followed by another") {
    val hits = for {
      (p, lines) <- sources
      i <- lines.indices.dropRight(1)
      if lines(i).trim.endsWith("*/") && lines(i + 1).trim.startsWith("/**")
    } yield s"$p:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no hand-written codegen: no doGenCode override") {
    val hits = for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex
      if l.contains("def doGenCode")
    } yield s"$p:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
