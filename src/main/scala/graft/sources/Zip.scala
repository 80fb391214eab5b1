package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ZIP (APPNOTE.TXT / PKZIP) shard ingest — the third archive container
  * next to [[Tar]] and [[Warc]]: many public datasets (Kaggle exports,
  * HF dataset dumps, scraped-image bundles) ship zip rather than tar,
  * and the JDK carries the full codec (`java.util.zip`), so the engine
  * owns the format with no new dependency. Same WebDataset convention
  * on top: `<key>.<ext>` entries group into samples inside the shard
  * task.
  *
  * Reader posture mirrors the [[Tar]]/[[Warc]] contract: the STREAM
  * layout (local headers) is walked sequentially, directory entries
  * skip, and torn/corrupt tails drop the bad entry only — never a
  * thrown task. Writer determinism: entry timestamps are pinned to the
  * DOS epoch so shard bytes are a pure function of their content
  * (default `ZipEntry` stamps wall-clock time into every header).
  *
  * Scale posture: one shard = one blob (`binaryFile` + the 2 GiB
  * [[Blobs]] guard), entries and sample grouping resolve inside the
  * task that read the shard — no shuffle; shards are the parallelism
  * unit.
  */
object Zip {

  /** Fixed DOS-epoch timestamp (1980-01-01, the zip epoch) for
    * deterministic writer output. */
  private val Epoch: Long = {
    val c = java.util.Calendar.getInstance()
    c.clear(); c.set(1980, 0, 1, 0, 0, 0)
    c.getTimeInMillis
  }

  /** Serialize entries as a DEFLATE zip, deterministic bytes. */
  def write(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTime(Epoch)
      z.putNextEntry(e)
      z.write(bytes)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** Parse every regular entry (stream walk over local headers);
    * directories skip; a torn or corrupt tail yields the entries read
    * so far. */
  def readAll(zip: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    try {
      val in = new ZipInputStream(new ByteArrayInputStream(zip), UTF_8)
      var e = in.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val b = new ByteArrayOutputStream()
          val buf = new Array[Byte](65536)
          var n = in.read(buf)
          while (n >= 0) { b.write(buf, 0, n); n = in.read(buf) }
          out += e.getName -> b.toByteArray
        }
        e = in.getNextEntry
      }
      in.close()
    } catch { case _: Exception => () } // torn tail: keep what we have
    out.toSeq
  }

  val entrySchema: StructType = StructType(Seq(
    StructField("archive", StringType, nullable = true),
    StructField("name", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false)))

  /** Read `.zip` files under `path` into entry rows — one blob per
    * file via `binaryFile`, per-task walk, no shuffle; files over the
    * 2 GiB blob cap fail closed at plan time. */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    parseArchives(Blobs.read(spark, path, "Zip.read"))

  /** (archive, content) blobs → one row per entry; narrow. */
  def parseArchives(archives: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(entrySchema)
    archives.mapPartitions { it =>
      it.flatMap { r =>
        val name = if (r.isNullAt(0)) null else r.getString(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null) Iterator.empty
        else readAll(bytes).iterator.map { case (n, b) => Row(name, n, b) }
      }
    }(enc)
  }

  /** documents → zip shards of WebDataset-style samples (`<id>.txt`
    * caption + `<id>.json` sidecar), `doc_id % nShards` per shard,
    * entries in id order — the [[Tar.webdatasetFromDocs]] layout in the
    * zip container. ONE exchange (the shard groupBy). */
  def zipFromDocs(docs: DataFrame, nShards: Int = 8): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val mk = udf((rows: Seq[Row]) =>
      write(rows.flatMap { r =>
        val id = r.getLong(0)
        val json = s"""{"doc_id":$id,"source":${jsonStr(r.getString(1))},""" +
          s""""lang":${jsonStr(r.getString(2))}}"""
        Seq(s"$id.txt" -> r.getString(3).getBytes(UTF_8),
          s"$id.json" -> json.getBytes(UTF_8))
      }))
    docs
      .groupBy((col("doc_id") % nShards).as("shard"))
      .agg(sort_array(collect_list(struct(
        col("doc_id"), col("source"), col("lang"), col("text")))).as("recs"))
      .select(col("shard"), mk(col("recs")).as("content"))
  }
}
