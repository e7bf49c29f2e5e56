package graft

import java.nio.file.{Files, Path}

/** Temp directories and files for specs; each is deleted when the test JVM
  * exits (`LocalSession.deleteAtExit`). */
object TempDirs {
  def dir(prefix: String): Path = atExit(Files.createTempDirectory(prefix))

  def file(prefix: String, suffix: String): Path =
    atExit(Files.createTempFile(prefix, suffix))

  private def atExit(p: Path): Path = { LocalSession.deleteAtExit(p); p }
}
