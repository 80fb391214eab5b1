package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every DataFrame path write in the engine goes through [[LocalFs.write]].
  * Allowed elsewhere: `saveAsTable` (the writer's options would be
  * stored in the catalog) and `writeStream`. */
class WriteGuardSpec extends AnyFunSuite {
  // `.write` ending a line or followed by `.`: a DataFrameWriter chain,
  // not a method call such as `out.write(b)`
  private val dfWrite = """\.write(Stream)?\s*(\.|$)""".r

  test("no DataFrame .write outside graft.io.LocalFs") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val files = Files.walk(root)
    val offenders = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "LocalFs.scala")
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.flatMap { i =>
          dfWrite.findAllMatchIn(lines(i)).filterNot { m =>
            // the chain: the rest of this line and the `.`-led lines after it
            val chain = m.after.toString +: lines.drop(i + 1)
              .takeWhile(_.trim.startsWith("."))
            m.group(1) != null || chain.exists(_.contains(".saveAsTable("))
          }.map(_ => s"${root.relativize(p)}:${i + 1}")
        }
      }.toList
    finally files.close()
    assert(offenders.isEmpty,
      s"write through graft.io.LocalFs.write instead: ${offenders.mkString(", ")}")
  }
}
