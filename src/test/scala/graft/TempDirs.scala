package graft

import java.nio.file.{Files, Path}

/** Scoped temp directories for specs: a spec that writes files gets a
  * fresh directory and leaves nothing behind in the temp root, whether
  * it passes or fails. */
object TempDirs {
  /** Runs `body` on a new temp dir named `prefix<random>`, then deletes
    * the dir and everything under it. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally ArtifactMemo.delete(dir)
  }
}
