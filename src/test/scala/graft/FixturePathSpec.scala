package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine reads its checked-in fixtures from the checkout it runs
  * in: a string literal holding an absolute path into
  * `src/test/resources` would make a run from a second clone read the
  * first clone's files (or fail where none exists). */
class FixturePathSpec extends AnyFunSuite {
  private val absFixture = "\"/[^\"]*/src/test/resources/".r

  /** `file:line` of every line under `dir` that `bad` matches. */
  private def offendingLines(bad: String => Boolean,
                             dir: String = "src/main/scala"): List[String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root))
    val files = Files.walk(root)
    try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if bad(line) => s"${root.relativize(p)}:${i + 1}"
        }
      }.toList
    finally files.close()
  }

  test("no absolute fixture path in src/main/scala") {
    val offenders = offendingLines(absFixture.findFirstIn(_).isDefined)
    assert(offenders.isEmpty,
      s"resolve fixtures against the working directory: ${offenders.mkString(", ")}")
  }

  test("no absolute fixture path in src/test/scala") {
    val offenders =
      offendingLines(absFixture.findFirstIn(_).isDefined, "src/test/scala")
    assert(offenders.isEmpty,
      s"resolve fixtures against the working directory: ${offenders.mkString(", ")}")
  }

  // A spec's temp file or directory goes through TempDirs.withTempDir,
  // which deletes it whether the spec passes or fails; only the helper
  // itself and the shared session's warehouse (one per JVM) create one.
  private val tempCreate = """createTemp(Directory|File)\(""".r
  private val tempOwners = Set("graft/TempDirs.scala", "graft/SharedSpark.scala")

  test("no temp file or directory created in src/test/scala outside TempDirs") {
    val offenders =
      offendingLines(tempCreate.findFirstIn(_).isDefined, "src/test/scala")
        .filterNot(o => tempOwners(o.takeWhile(_ != ':')))
    assert(offenders.isEmpty,
      s"create temp dirs through TempDirs.withTempDir: ${offenders.mkString(", ")}")
  }

  // A raw control character (a NUL inside a string literal, say) makes
  // grep treat the whole file as binary, so text search over it silently
  // finds nothing; write such characters as escapes. Lines are split on
  // LF and CR already, so only tab is allowed here.
  private def isControl(line: String): Boolean =
    line.exists(c => Character.isISOControl(c) && c != '\t')

  test("no control character other than tab in src/main/scala") {
    val offenders = offendingLines(isControl)
    assert(offenders.isEmpty,
      s"write control characters as escapes: ${offenders.mkString(", ")}")
  }

  test("no control character other than tab in src/test/scala") {
    val offenders = offendingLines(isControl, "src/test/scala")
    assert(offenders.isEmpty,
      s"write control characters as escapes: ${offenders.mkString(", ")}")
  }
}
