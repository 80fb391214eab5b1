package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.withTempDir

class ZipSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val entries = Seq(
    "0.txt" -> "caption zero".getBytes(UTF_8),
    "0.json" -> """{"k":0}""".getBytes(UTF_8),
    "1.txt" -> ("y" * 700).getBytes(UTF_8),
    "1.json" -> """{"k":1}""".getBytes(UTF_8))

  test("write → readAll round trip; bytes are deterministic") {
    val z1 = Zip.write(entries)
    val z2 = Zip.write(entries)
    assert(z1.sameElements(z2), "writer bytes depend on wall clock")
    val back = Zip.readAll(z1)
    assert(back.map(_._1) == entries.map(_._1))
    back.zip(entries).foreach { case ((_, b), (_, want)) =>
      assert(b.sameElements(want))
    }
  }

  test("JDK jar tool reads our zips; we read jar's (incl. dir skip)") {
    withTempDir("zipspec") { dir =>
      Files.write(dir.resolve("ours.zip"), Zip.write(entries))
      // jar -t lists entries of a zip — validates central directory too
      val jar = System.getProperty("java.home") + "/bin/jar"
      val p1 = new ProcessBuilder(jar, "-tf",
        dir.resolve("ours.zip").toString).redirectErrorStream(true).start()
      val listing = new String(p1.getInputStream.readAllBytes(), UTF_8)
      assert(p1.waitFor() == 0, s"jar rejected our zip:\n$listing")
      entries.foreach { case (n, _) => assert(listing.contains(n)) }
      // jar-created archive (includes a directory entry we must skip)
      val src = dir.resolve("src")
      Files.createDirectories(src.resolve("sub"))
      Files.write(src.resolve("a.txt"), "alpha".getBytes(UTF_8))
      Files.write(src.resolve("sub/b.txt"), "beta".getBytes(UTF_8))
      val theirs = dir.resolve("theirs.zip")
      val p2 = new ProcessBuilder(jar, "-cMf", theirs.toString,
        "-C", src.toString, ".").start()
      assert(p2.waitFor() == 0)
      val got = Zip.readAll(Files.readAllBytes(theirs))
        .map { case (n, b) =>
          n.stripPrefix("./") -> new String(b, UTF_8)
        }.filter(_._2.nonEmpty).toMap
      assert(got == Map("a.txt" -> "alpha", "sub/b.txt" -> "beta"))
    }
  }

  test("torn tails keep prior entries; junk parses empty") {
    val z = Zip.write(entries)
    val torn = Zip.readAll(z.take(z.length / 2))
    assert(torn.nonEmpty && torn.length < entries.length)
    assert(torn.head._1 == "0.txt" &&
      torn.head._2.sameElements(entries.head._2))
    assert(Zip.readAll("not a zip".getBytes(UTF_8)).isEmpty)
    assert(Zip.readAll(Array.empty[Byte]).isEmpty)
  }

  test("shard build + parse round-trips samples distributively") {
    import spark.implicits._
    val docs = Seq((0L, "s0", "en", "hello zip"), (1L, "s1", "de", "zwei"))
      .toDF("doc_id", "source", "lang", "text")
    val shards = Zip.zipFromDocs(docs, nShards = 2)
      .select(org.apache.spark.sql.functions.col("shard").cast("string")
        .as("archive"), org.apache.spark.sql.functions.col("content"))
    val rows = Zip.parseArchives(shards).collect()
    assert(rows.length == 4) // 2 docs × (txt + json)
    val cap0 = rows.find(_.getString(1) == "0.txt").get
      .getAs[Array[Byte]](2)
    assert(new String(cap0, UTF_8) == "hello zip")
  }
}
