package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.withTempDir

class TarSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val entries = Seq(
    "0.txt" -> "caption zero".getBytes(UTF_8),
    "0.json" -> """{"k":0}""".getBytes(UTF_8),
    "1.txt" -> ("x" * 600).getBytes(UTF_8), // spans two data blocks
    "1.json" -> """{"k":1}""".getBytes(UTF_8))

  test("write → readAll round trip, names, sizes, padding") {
    val tar = Tar.write(entries)
    assert(tar.length % 512 == 0)
    val back = Tar.readAll(tar)
    assert(back.map(_.name) == entries.map(_._1))
    back.zip(entries).foreach { case (e, (_, bytes)) =>
      assert(e.bytes.sameElements(bytes))
    }
  }

  test("GNU tar reads our archives; we read GNU tar's") {
    withTempDir("tarspec") { dir =>
      // our writer → system tar
      Files.write(dir.resolve("ours.tar"), Tar.write(entries))
      val extract = dir.resolve("out")
      Files.createDirectory(extract)
      val p1 = new ProcessBuilder("tar", "-xf", dir.resolve("ours.tar").toString,
        "-C", extract.toString).start()
      assert(p1.waitFor() == 0, "system tar rejected our archive")
      entries.foreach { case (name, bytes) =>
        assert(Files.readAllBytes(extract.resolve(name)).sameElements(bytes),
          s"$name corrupted through system tar")
      }
      // system tar → our reader (includes a directory entry we must skip)
      val src = dir.resolve("src")
      Files.createDirectory(src)
      Files.createDirectory(src.resolve("sub"))
      Files.write(src.resolve("a.txt"), "alpha".getBytes(UTF_8))
      Files.write(src.resolve("sub/b.txt"), "beta".getBytes(UTF_8))
      val theirs = dir.resolve("theirs.tar")
      val p2 = new ProcessBuilder("tar", "-cf", theirs.toString,
        "-C", src.toString, "a.txt", "sub").start()
      assert(p2.waitFor() == 0)
      val got = Tar.readAll(Files.readAllBytes(theirs))
        .map(e => e.name -> new String(e.bytes, UTF_8)).toMap
      assert(got == Map("a.txt" -> "alpha", "sub/b.txt" -> "beta"))
    }
  }

  test("long entry names: ustar prefix field and GNU 'L' entries") {
    withTempDir("tarspec2") { dir =>
      val deep = "d" * 80 + "/" + "e" * 40 // 121 chars: overflows the name field
      val src = dir.resolve("src")
      Files.createDirectories(src.resolve("d" * 80))
      Files.write(src.resolve(deep), "deep".getBytes(UTF_8))
      // ustar splits prefix/name at offset 345; gnu emits an 'L'
      // pseudo-entry; pax (the modern default) an 'x' path= record
      for (fmt <- Seq("ustar", "gnu", "pax")) {
        val out = dir.resolve(s"$fmt.tar")
        val p = new ProcessBuilder("tar", s"--format=$fmt", "-cf",
          out.toString, "-C", src.toString, deep).start()
        assert(p.waitFor() == 0, s"system tar --format=$fmt failed")
        val got = Tar.readAll(Files.readAllBytes(out))
          .map(e => e.name -> new String(e.bytes, UTF_8)).toMap
        assert(got == Map(deep -> "deep"), s"format $fmt mangled the long name")
      }
    }
  }

  test("torn tail and corrupt checksum drop cleanly, junk parses empty") {
    val tar = Tar.write(entries)
    // first header + its (short) payload block: the complete first entry
    // survives, the truncated remainder drops
    assert(Tar.readAll(tar.take(512 + 100)).map(_.name) == Seq("0.txt"))
    // tear INSIDE a payload: 1.txt spans two data blocks; cutting after
    // its header + 100 bytes loses it but keeps everything before
    val offTxt1 = 512 * 4 // 0.txt hdr+data, 0.json hdr+data
    assert(Tar.readAll(tar.take(offTxt1 + 512 + 100)).map(_.name) ==
      Seq("0.txt", "0.json"))
    val twoPlus = Tar.write(entries.take(2)) ++ tar.take(700)
    // second archive's first entry is whole in the slice? no — slice tears
    // mid-entry; the two complete entries from the first archive survive…
    // except the first archive ends with its terminator, which stops the
    // parse — exactly the contract
    assert(Tar.readAll(twoPlus).map(_.name) == Seq("0.txt", "0.json"))
    val bad = tar.clone()
    bad(150) = '9' // corrupt the first checksum
    assert(Tar.readAll(bad).isEmpty)
    assert(Tar.readAll("not a tar at all padded".getBytes(UTF_8)).isEmpty)
  }

  test("webdataset samples: per-key grouping inside the shard, no shuffle") {
    import spark.implicits._
    val df = Seq(("s0", Tar.write(entries))).toDF("archive", "content")
    val rows = Tar.webdatasetSamples(df).collect()
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("0", "1"))
    val parts0 = rows.find(_.getString(1) == "0").get
      .getAs[Map[String, Array[Byte]]]("parts")
    assert(new String(parts0("txt"), UTF_8) == "caption zero")
    assert(new String(parts0("json"), UTF_8) == """{"k":0}""")
    val plan = Tar.webdatasetSamples(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }
}
