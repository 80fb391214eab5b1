package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.withTempDir
import graft.ext.Html

class WarcSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def rec(id: Long, text: String, source: String = "srcT") =
    Warc.writeResponse(s"<urn:graft:$id>", Html.dateFor(id),
      Html.uriFor(id, source), Html.pageFor(id, source, text).getBytes(UTF_8))

  test("single record round trip, uncompressed and gzip") {
    val raw = rec(7, "hello warc world")
    for (archive <- Seq(raw, Warc.gzipMembers(Seq(raw)))) {
      val rs = Warc.readAll(archive)
      assert(rs.length == 1)
      val r = rs.head
      assert(r.recordType == "response")
      assert(r.recordId == "<urn:graft:7>")
      assert(r.warcDate == "2024-01-01T00:00:07Z")
      assert(r.targetUri == "https://crawl.example/srcT/7")
      assert(r.httpStatus == 200)
      assert(r.httpContentType == "text/html; charset=utf-8")
      assert(new String(r.body, UTF_8) == Html.pageFor(7, "srcT", "hello warc world"))
    }
  }

  test("multi-record archive: concatenated gzip members all surface in order") {
    val recs = (0L until 25L).map(i => rec(i, s"document number $i body"))
    val archive = Warc.gzipMembers(recs)
    val out = Warc.readAll(archive)
    assert(out.length == 25)
    assert(out.map(_.targetUri) ==
      (0L until 25L).map(i => s"https://crawl.example/srcT/$i"))
    // and the same records concatenated UNcompressed parse identically
    val plain = Warc.readAll(recs.reduce(_ ++ _))
    assert(plain.map(_.recordId) == out.map(_.recordId))
  }

  test("framing is Content-Length only: body containing WARC/1.0 text survives") {
    val tricky = "fake header WARC/1.0 inside body\r\n\r\nContent-Length: 3"
    val archive = rec(1, tricky) ++ rec(2, "second")
    val out = Warc.readAll(archive)
    assert(out.length == 2)
    assert(new String(out.head.body, UTF_8).contains("WARC/1.0 inside body"))
    assert(out(1).recordId == "<urn:graft:2>")
  }

  test("header names are case-insensitive, order-free") {
    val html = "<html><body>x</body></html>".getBytes(UTF_8)
    val block = ("HTTP/1.1 404 Not Found\r\ncontent-type: text/plain\r\n\r\n")
      .getBytes(UTF_8) ++ html
    val scrambled =
      ("WARC/1.0\r\n" +
        s"content-length: ${block.length}\r\n" +
        "WARC-TARGET-URI: http://x.example/\r\n" +
        "warc-type: response\r\n" +
        "WARC-Record-ID: <urn:x:1>\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n\r\n").getBytes(UTF_8) ++
        block ++ "\r\n\r\n".getBytes(UTF_8)
    val out = Warc.readAll(scrambled)
    assert(out.length == 1)
    assert(out.head.targetUri == "http://x.example/")
    assert(out.head.httpStatus == 404)
    assert(out.head.httpContentType == "text/plain")
  }

  test("torn final record drops without losing the complete ones") {
    val good = rec(1, "intact")
    val torn = rec(2, "this one is cut off mid-block")
    val archive = good ++ torn.take(torn.length - 40)
    val out = Warc.readAll(archive)
    assert(out.length == 1)
    assert(out.head.recordId == "<urn:graft:1>")
    // junk that never was a WARC record parses to nothing, not a throw
    assert(Warc.readAll("not a warc at all".getBytes(UTF_8)).isEmpty)
    assert(Warc.readAll(Array.empty[Byte]).isEmpty)
  }

  test("readAllWithStats: torn flags for gzip tears, WARC tears, and junk " +
       "— clean parses stay unflagged") {
    val whole = Warc.gzipMembers(Seq(rec(1, "intact doc")))
    val (r0, t0) = Warc.readAllWithStats(whole)
    assert(r0.map(_.recordId) == Seq("<urn:graft:1>") && !t0)
    // gzip truncated mid-stream: no record, torn
    val (r1, t1) = Warc.readAllWithStats(whole.take(whole.length * 3 / 10))
    assert(r1.isEmpty && t1)
    // plain WARC truncated mid-block: records before the tear survive
    val two = rec(1, "first") ++ rec(2, "second")
    val (r2, t2) = Warc.readAllWithStats(two.take(two.length - 40))
    assert(r2.length == 1 && t2)
    // junk bytes: torn; empty archive: clean nothing
    assert(Warc.readAllWithStats("garbage".getBytes(UTF_8)) ==
      ((Seq.empty, true)))
    assert(Warc.readAllWithStats(Array.empty[Byte]) == ((Seq.empty, false)))
    // tear INSIDE the header section (blank line never arrives): the
    // remaining bytes must not be mis-framed as a block
    val midHeaders =
      "WARC/1.0\r\nWARC-Type: response\r\ncontent-length: 3\r\nabc"
        .getBytes(UTF_8)
    val (r3, t3) = Warc.readAllWithStats(midHeaders)
    assert(r3.isEmpty && t3, "unterminated headers fabricated a record")
  }

  test("negative Content-Length takes the torn branch, never throws") {
    val evil =
      ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:x:9>\r\n" +
        "Content-Length: -5\r\n\r\nbody\r\n\r\n").getBytes(UTF_8)
    val (r, torn) = Warc.readAllWithStats(rec(1, "fine") ++ evil)
    assert(r.map(_.recordId) == Seq("<urn:graft:1>") && torn)
  }

  test("gzip tear inside a member HEADER is torn, not silent clean EOF") {
    // JDK GZIPInputStream treats a truncated next-member header as clean
    // end-of-stream; the explicit member walk must flag it instead
    val m1 = Warc.gzipMembers(Seq(rec(1, "whole member")))
    val m2 = Warc.gzipMembers(Seq(rec(2, "lost member")))
    val (r, torn) = Warc.readAllWithStats(m1 ++ m2.take(5))
    assert(r.map(_.recordId) == Seq("<urn:graft:1>"))
    assert(torn, "tear inside a gzip member header went undetected")
    // corrupt member CRC: bytes inflate but the trailer must flag it
    val bad = m1.clone()
    bad(bad.length - 8) = (bad(bad.length - 8) ^ 0x55).toByte
    val (r2, torn2) = Warc.readAllWithStats(bad)
    assert(r2.length == 1 && torn2, "corrupt member CRC went undetected")
    // trailing garbage after a clean member: torn, records kept
    val (r3, torn3) = Warc.readAllWithStats(m1 ++ Array[Byte](1, 2, 3))
    assert(r3.length == 1 && torn3)
  }

  test("2 GiB blob cap fails closed with an actionable diagnostic") {
    val e = intercept[IllegalArgumentException] {
      Blobs.requireUnderCap(
        Seq("ok.warc.gz" -> 1000L, "big.warc.gz" -> (3L << 30)), "Warc.read")
    }
    assert(e.getMessage.contains("2 GiB"))
    assert(e.getMessage.contains("big.warc.gz"))
    assert(e.getMessage.contains("Warc.read"))
    // under the cap: no throw, including exactly at the cap
    Blobs.requireUnderCap(Seq("a" -> Int.MaxValue.toLong), "Warc.read")
  }

  test("non-HTTP block keeps raw bytes with status -1") {
    val payload = "just bytes".getBytes(UTF_8)
    val r = ("WARC/1.0\r\nWARC-Type: resource\r\nWARC-Record-ID: <urn:x:2>\r\n" +
      "WARC-Date: 2024-01-01T00:00:00Z\r\nWARC-Target-URI: http://y/\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(UTF_8) ++
      payload ++ "\r\n\r\n".getBytes(UTF_8)
    val out = Warc.readAll(r)
    assert(out.length == 1)
    assert(out.head.recordType == "resource")
    assert(out.head.httpStatus == -1)
    assert(out.head.httpContentType == null)
    assert(out.head.body.sameElements(payload))
  }

  test("file scan: binaryFile archives → records, per-file parallel") {
    withTempDir("warcspec") { d =>
      val dir = d.toFile
      val a = Warc.gzipMembers((0L until 3L).map(i => rec(i, s"file A doc $i")))
      val b = Warc.gzipMembers((10L until 14L).map(i => rec(i, s"file B doc $i")))
      java.nio.file.Files.write(new java.io.File(dir, "a.warc.gz").toPath, a)
      java.nio.file.Files.write(new java.io.File(dir, "b.warc.gz").toPath, b)
      val df = Warc.read(spark, dir.getAbsolutePath)
      val rows = df.collect()
      assert(rows.length == 7)
      assert(rows.map(_.getAs[String]("archive")).forall(_.endsWith(".warc.gz")))
      assert(rows.map(_.getAs[Int]("http_status")).forall(_ == 200))
    }
  }
}
