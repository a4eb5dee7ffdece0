package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** [[Fs]]: the JVM's one scratch root and the recursive delete that
  * its shutdown hook runs over it. */
class FsSpec extends AnyFunSuite {

  test("deleteRecursively removes a symlink, never its target's files") {
    val target = Files.createDirectories(
      Paths.get(Fs.scratch("fs-target"), "data"))
    Files.writeString(target.resolve("a.txt"), "a")
    Files.writeString(target.resolve("b.txt"), "b")
    val dir = Paths.get(Fs.scratch("fs-link"))
    val link = Files.createSymbolicLink(dir.resolve("data"), target)
    Fs.deleteRecursively(dir.toFile)
    assert(!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(!Files.exists(dir))
    assert(Files.readString(target.resolve("a.txt")) == "a")
    assert(Files.readString(target.resolve("b.txt")) == "b")
  }

  test("fixture dirs and Fs.scratch dirs share one root") {
    val fixture = Paths.get(SparkTestSession.fixtureDir("fs-fix"))
    val scratch = Paths.get(Fs.scratch("fs-scratch"))
    assert(fixture.getParent == scratch.getParent)
    assert(fixture.getParent.getParent ==
      Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath)
  }
}
