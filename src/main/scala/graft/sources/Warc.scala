package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, DataFormatException, GZIPOutputStream, Inflater}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC (ISO 28500) web-archive ingest — the container format the web
  * crawls behind every large LLM corpus actually ship in (Common Crawl
  * publishes ~100 TB of WARC per monthly snapshot). The reference's
  * ingest side reads GEE collections; a training pipeline's crawl side
  * reads WARC response records, extracts the HTTP payload, and hands the
  * HTML to text extraction ([[graft.ext.Html]]), so this source is the
  * crawl-facing sibling of [[JsonLines]].
  *
  * Format facts this reader follows (all from the WARC 1.0/1.1 spec and
  * the Common Crawl reality):
  *  - A record is a `WARC/1.0` version line, CRLF-separated named
  *    headers, a blank line, `Content-Length` octets of block, and a
  *    trailing CRLF CRLF. Header names are case-insensitive; order is
  *    arbitrary. Framing is by `Content-Length` ONLY — the block is
  *    binary and may contain anything, so scanning for separators would
  *    be wrong.
  *  - `.warc.gz` files are a CONCATENATION of per-record gzip members
  *    (the spec's recommendation precisely so that archives remain
  *    record-splittable: an index can seek to any member boundary and
  *    inflate one record without touching the rest). The reader
  *    inflates the member stream sequentially; the writer emits one
  *    member per record so its output has the real splittability
  *    property.
  *  - A `response` record's block is an HTTP/1.1 message: status line,
  *    CRLF headers, blank line, entity body. The entity body length is
  *    the remainder of the block (the stored message is already
  *    de-chunked by the crawler).
  *
  * Scale posture: one archive file = one input blob (`binaryFile`), one
  * task inflates members and emits records with no shuffle — parallelism
  * is across archive files, which is how Common Crawl is laid out
  * (64,000 × ~1 GB segments per snapshot). Records flow straight into
  * narrow extraction columns; nothing driver-side.
  */
object Warc {

  private val CRLF = "\r\n"

  /** One parsed WARC record: the headers every consumer needs, plus the
    * undecoded block body (for `response` records, the HTTP entity body
    * after the HTTP head is split off). */
  final case class WarcRec(
      recordType: String,
      recordId: String,
      warcDate: String,
      targetUri: String,
      contentLength: Long,
      httpStatus: Int,         // -1 when the block is not an HTTP message
      httpContentType: String, // null when absent
      body: Array[Byte])       // HTTP entity body (or raw block)

  // ---------------------------------------------------------------- write

  /** Serialize one `response` record (uncompressed): WARC head, HTTP
    * head, HTML body — the exact framing the parser consumes. */
  def writeResponse(recordId: String, date: String, uri: String,
                    html: Array[Byte]): Array[Byte] = {
    val httpHead =
      "HTTP/1.1 200 OK" + CRLF +
      "Content-Type: text/html; charset=utf-8" + CRLF +
      s"Content-Length: ${html.length}" + CRLF + CRLF
    val block = httpHead.getBytes(UTF_8) ++ html
    val warcHead =
      "WARC/1.0" + CRLF +
      "WARC-Type: response" + CRLF +
      s"WARC-Record-ID: $recordId" + CRLF +
      s"WARC-Date: $date" + CRLF +
      s"WARC-Target-URI: $uri" + CRLF +
      "Content-Type: application/http; msgtype=response" + CRLF +
      s"Content-Length: ${block.length}" + CRLF + CRLF
    warcHead.getBytes(UTF_8) ++ block ++ (CRLF + CRLF).getBytes(UTF_8)
  }

  /** Gzip-compress each record as its OWN member and concatenate — the
    * spec's record-per-member layout that keeps archives splittable. */
  def gzipMembers(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      val gz = new GZIPOutputStream(out)
      gz.write(r); gz.finish(); gz.close()
    }
    out.toByteArray
  }

  // ----------------------------------------------------------------- read

  private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  /** Little-endian uint32 at `at` (callers bounds-check). */
  private def le32(b: Array[Byte], at: Int): Long =
    (b(at) & 0xffL) | ((b(at + 1) & 0xffL) << 8) |
      ((b(at + 2) & 0xffL) << 16) | ((b(at + 3) & 0xffL) << 24)

  /** Offset of the deflate data of the gzip member starting at `pos`,
    * walking the RFC 1952 header (magic, CM=8, optional FEXTRA/FNAME/
    * FCOMMENT/FHCRC fields); None when the header is torn or not gzip. */
  private def memberDataAt(b: Array[Byte], pos: Int): Option[Int] = {
    if (pos + 10 > b.length || (b(pos) & 0xff) != 0x1f ||
      (b(pos + 1) & 0xff) != 0x8b || (b(pos + 2) & 0xff) != 8) return None
    val flg = b(pos + 3) & 0xff
    var p = pos + 10
    if ((flg & 4) != 0) { // FEXTRA
      if (p + 2 > b.length) return None
      p += 2 + ((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8))
    }
    def pastNul(from: Int): Int = {
      var i = from
      while (i < b.length && b(i) != 0) i += 1
      if (i >= b.length) -1 else i + 1
    }
    if ((flg & 8) != 0) { p = pastNul(p); if (p < 0) return None }  // FNAME
    if ((flg & 16) != 0) { p = pastNul(p); if (p < 0) return None } // FCOMMENT
    if ((flg & 2) != 0) p += 2                                     // FHCRC
    if (p > b.length) None else Some(p)
  }

  /** Inflate a (possibly multi-member) gzip stream; pass non-gzip bytes
    * through. Members are walked EXPLICITLY (header → `Inflater` →
    * CRC32+ISIZE trailer) rather than through `GZIPInputStream`, which
    * treats a truncated or corrupt next-member header as clean
    * end-of-stream and would silently drop the records behind a tear:
    * here `clean` is true only when every compressed byte was consumed
    * by a member whose trailer checks out. A truncated or corrupt
    * stream yields the bytes inflated so far with `clean = false` — a
    * torn tail must cost its records, not the task. */
  private def inflate(bytes: Array[Byte]): (Array[Byte], Boolean) =
    if (!isGzip(bytes)) (bytes, true)
    else {
      val out = new ByteArrayOutputStream(bytes.length * 4)
      var pos = 0
      var clean = true
      while (clean && pos < bytes.length) {
        memberDataAt(bytes, pos) match {
          case None => clean = false // tear landed inside a member header
          case Some(dataAt) =>
            val inf = new Inflater(true)
            try {
              inf.setInput(bytes, dataAt, bytes.length - dataAt)
              val crc = new CRC32
              var memberLen = 0L
              val buf = new Array[Byte](65536)
              var torn = false
              while (!torn && !inf.finished()) {
                val n =
                  try inf.inflate(buf)
                  catch { case _: DataFormatException => torn = true; 0 }
                if (n > 0) {
                  out.write(buf, 0, n); crc.update(buf, 0, n); memberLen += n
                } else if (!torn && !inf.finished() && inf.needsInput())
                  torn = true // deflate stream ran off the end of the file
              }
              val trailerAt = dataAt + inf.getBytesRead.toInt
              if (torn || trailerAt + 8 > bytes.length ||
                le32(bytes, trailerAt) != crc.getValue ||
                le32(bytes, trailerAt + 4) != (memberLen & 0xffffffffL))
                clean = false
              else pos = trailerAt + 8
            } finally inf.end()
        }
      }
      (out.toByteArray, clean)
    }

  /** Find the next CRLF from `from`; -1 when absent. */
  private def crlfAt(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Parse CRLF header lines from `start`. The third component is true
    * only when the terminating blank line was actually seen — a header
    * section cut off mid-stream must read as torn, not as a shorter
    * header list ([[readAllWithStats]] relies on this). */
  private def headerLines(b: Array[Byte], start: Int): (Map[String, String], Int, Boolean) = {
    var pos = start
    val hs = Map.newBuilder[String, String]
    var done = false
    var terminated = false
    while (!done) {
      val e = crlfAt(b, pos)
      if (e < 0) { done = true }
      else if (e == pos) { pos = e + 2; done = true; terminated = true }
      else {
        val line = new String(b, pos, e - pos, UTF_8)
        val c = line.indexOf(':')
        if (c > 0)
          // Locale.ROOT: a Turkish-locale JVM lowercases 'I' to dotless ı,
          // which would silently miss the WARC-*/Content-* lookups below
          hs += line.substring(0, c).trim
            .toLowerCase(java.util.Locale.ROOT) -> line.substring(c + 1).trim
        pos = e + 2
      }
    }
    (hs.result(), pos, terminated)
  }

  /** Split an HTTP/1.1 message block into (status, content-type, body).
    * Returns status -1 and the raw block when it is not HTTP. */
  private def splitHttp(block: Array[Byte]): (Int, String, Array[Byte]) = {
    val e0 = crlfAt(block, 0)
    val statusLine = if (e0 < 0) "" else new String(block, 0, e0, UTF_8)
    if (!statusLine.startsWith("HTTP/")) return (-1, null, block)
    val parts = statusLine.split(" ")
    val status = if (parts.length >= 2) parts(1).toIntOption.getOrElse(-1) else -1
    val (hs, bodyAt, _) = headerLines(block, e0 + 2)
    (status, hs.getOrElse("content-type", null),
      java.util.Arrays.copyOfRange(block, bodyAt, block.length))
  }

  /** Parse every record in an archive (gzip members or plain). Truncated
    * or malformed trailing bytes are dropped, never thrown — a 100 TB
    * crawl always has a torn final record somewhere. */
  def readAll(archive: Array[Byte]): Seq[WarcRec] =
    readAllWithStats(archive)._1

  /** [[readAll]] plus the operational truth a crawl-health audit needs:
    * whether the parse consumed the archive cleanly or stopped at torn/
    * malformed trailing bytes (`torn = true` — the records BEFORE the
    * tear are still returned and still good). */
  def readAllWithStats(archive: Array[Byte]): (Seq[WarcRec], Boolean) = {
    val (b, cleanGzip) = inflate(archive)
    val out = ArrayBuffer.empty[WarcRec]
    var pos = 0
    var ok = true
    var torn = !cleanGzip
    while (ok && pos < b.length) {
      // skip inter-record CRLFs
      while (pos + 1 < b.length && b(pos) == '\r' && b(pos + 1) == '\n') pos += 2
      if (pos >= b.length) ok = false
      else {
        val e0 = crlfAt(b, pos)
        if (e0 < 0 || !new String(b, pos, e0 - pos, UTF_8).startsWith("WARC/")) {
          ok = false; torn = true
        } else {
          val (hs, blockAt, headsDone) = headerLines(b, e0 + 2)
          hs.get("content-length").flatMap(_.toLongOption) match {
            // len >= 0: a malformed negative Content-Length must take the
            // torn branch, not reach copyOfRange and throw
            case Some(len) if len >= 0 && headsDone && blockAt + len <= b.length =>
              val block = java.util.Arrays.copyOfRange(b, blockAt, blockAt + len.toInt)
              val (status, ctype, body) = splitHttp(block)
              out += WarcRec(
                hs.getOrElse("warc-type", ""),
                hs.getOrElse("warc-record-id", ""),
                hs.getOrElse("warc-date", ""),
                hs.getOrElse("warc-target-uri", ""),
                len, status, ctype, body)
              pos = blockAt + len.toInt
            case _ => ok = false; torn = true // torn: stop, keep what we have
          }
        }
      }
    }
    (out.toSeq, torn)
  }

  // -------------------------------------------------------- DataFrame API

  val recordSchema: StructType = StructType(Seq(
    StructField("archive", StringType, nullable = true),
    StructField("record_type", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("http_status", IntegerType, nullable = false),
    StructField("http_content_type", StringType, nullable = true),
    StructField("html", BinaryType, nullable = true)))

  /** Read `.warc`/`.warc.gz` files under `path` into records — one blob
    * per file via `binaryFile`, per-task member inflation, no shuffle.
    * Files over the 2 GiB blob cap fail closed at plan time
    * ([[Blobs.read]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    parseArchives(Blobs.read(spark, path, "Warc.read"))

  val healthSchema: StructType = StructType(Seq(
    StructField("archive", StringType, nullable = true),
    StructField("n_records", IntegerType, nullable = false),
    StructField("torn", BooleanType, nullable = false)))

  /** Crawl-health audit over (archive, bytes) blobs: records recovered
    * and whether the parse hit a torn tail — the corrupt-rate metric an
    * ingest job alerts on (the [[JsonLines]] `bad_line` discipline at
    * archive granularity). Same narrow no-shuffle shape as
    * [[parseArchives]]; records before a tear still count. */
  def archiveHealth(archives: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(healthSchema)
    archives.mapPartitions { it =>
      it.map { r =>
        val name = if (r.isNullAt(0)) null else r.getString(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val (recs, torn) =
          if (bytes == null) (Seq.empty[WarcRec], true)
          else readAllWithStats(bytes)
        Row(name, recs.length, torn)
      }
    }(enc)
  }

  /** Parse a (archive-name, bytes) DataFrame into records. */
  def parseArchives(archives: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(recordSchema)
    archives.mapPartitions { it =>
      it.flatMap { r =>
        val name = if (r.isNullAt(0)) null else r.getString(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null) Iterator.empty
        else readAll(bytes).iterator.map { w =>
          Row(name, w.recordType, w.recordId, w.warcDate, w.targetUri,
            w.contentLength, w.httpStatus, w.httpContentType, w.body)
        }
      }
    }(enc)
  }
}
