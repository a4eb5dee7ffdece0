package graft

import java.nio.file.{Files, LinkOption, Path}

/** One rule for scratch paths and one recursive delete. Every
  * JVM-scoped dir (streaming rig and run dirs, SourceSinks' staged
  * sinks, DS4's kept corpus, test fixtures) comes from [[scratch]]:
  * a fresh dir under this JVM's one root in `java.io.tmpdir`, so two
  * JVMs on one machine never share (or delete) each other's files.
  * The root is deleted at JVM exit and not earlier, because a
  * returned result may read its dir lazily. `Dumps` paths stay
  * outside it: their oracle reads them after the JVM exits.
  */
object Fs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-")
    sys.addShutdownHook(deleteRecursively(r.toFile))
    r
  }

  /** A fresh dir named `<tag>-<random>` under this JVM's root. */
  def scratch(tag: String): String =
    Files.createTempDirectory(root, s"$tag-").toString

  /** Deletes `f` and, if it is a real dir, everything in it. A symlink
    * is deleted itself and never followed, so a link a test planted in
    * a scratch dir cannot take its target's files with it. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (Files.isDirectory(f.toPath, LinkOption.NOFOLLOW_LINKS))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
