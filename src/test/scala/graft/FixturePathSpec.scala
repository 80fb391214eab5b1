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

  test("no absolute fixture path in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val files = Files.walk(root)
    val offenders = try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if absFixture.findFirstIn(line).isDefined =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }.toList
    finally files.close()
    assert(offenders.isEmpty,
      s"resolve fixtures against the working directory: ${offenders.mkString(", ")}")
  }
}
