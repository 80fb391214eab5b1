package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.GridMeta

/** SURVEY §2.1 S4 — GeoTIFF ingest, pure JVM (no GDAL/rasterio).
  *
  * Scoped to the subset the reference's pipeline actually emits and reads
  * back (regenerate_viirs_pngs.py:13-15 `src.read(1)`, `src.transform`;
  * fix_transparency.py:55-60 nodata handling): single-band float32,
  * striped OR tiled, north-up affine from the ModelTiepoint +
  * ModelPixelScale GeoTIFF tags, CRS from the GeoKeyDirectory, nodata
  * from GDAL_NODATA. Pixel chunks may be uncompressed (1), LZW (5, TIFF6
  * MSB-first with early change), Deflate (8/32946) — the codecs
  * rasterio/GDAL actually emit when re-writing the reference's exports —
  * or PackBits (32773, legacy scanner/Mac exports).
  * The tiled layout (TileWidth/TileLength/TileOffsets/TileByteCounts,
  * edge tiles padded to full size) is what GDAL writes by default for
  * anything beyond small rasters (`-co TILED=YES`, rasterio
  * `tiled=True`), so real exported artifacts routinely arrive tiled.
  * Anything outside that subset (predictors, other sample formats) fails
  * loudly rather than decoding wrong.
  *
  * Spark integration is the `binaryFile` source → per-file parse →
  * pixel-row iterator: each file decodes inside its own task (binaryFile
  * packs small rasters several-per-partition), no shuffle, no driver-side
  * loop. At 100 TB the unit of parallelism is the raster file — the
  * reference's exports are one small GeoTIFF per (month, band), which is
  * exactly this shape. A writer for the same subset closes the loop so
  * exported artifacts can be read back (and pins the fixture bytes).
  */
object GeoTiff {

  final case class Raster(meta: GridMeta, values: Array[Float])

  /** Multi-band raster: `values` is pixel-interleaved (chunky,
    * PlanarConfiguration=1) — sample s of pixel (x,y) lives at
    * `(y*width + x)*nBands + s`, exactly the order the file stores. */
  final case class MultiRaster(meta: GridMeta, nBands: Int,
                               values: Array[Float])

  // 16 = LONG8, the BigTIFF 64-bit unsigned integer type
  private val TypeSizes =
    Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 11 -> 4, 12 -> 8, 16 -> 8)

  /** The TIFF inline rule, for reader and writer alike: a value of at
    * most 4 bytes (8 in BigTIFF) lives in the entry's value field, a
    * longer one at the offset that field holds (the spec's
    * if-and-only-if rule). */
  private def inline(typ: Int, count: Int, big: Boolean): Boolean =
    TypeSizes(typ).toLong * count <= (if (big) 8 else 4)

  /** One IFD entry. `big` switches the BigTIFF conventions: the value
    * field is 8 bytes and external offsets are 64-bit. In-memory
    * payloads are capped at Array[Byte] size, so resolved offsets fit an
    * Int; a >2 GiB offset in a crafted small file fails loudly below. */
  private final case class Entry(tag: Int, typ: Int, count: Int, at: Int,
                                 buf: ByteBuffer, big: Boolean = false) {
    private def dataAt: Int = {
      require(TypeSizes.contains(typ), s"TIFF tag $tag: unsupported type $typ")
      if (inline(typ, count, big)) at
      else if (big) {
        val off = buf.getLong(at)
        require(off >= 0 && off <= Int.MaxValue,
          s"TIFF tag $tag: offset $off outside the loaded payload")
        off.toInt
      } else buf.getInt(at)
    }
    def ints: IndexedSeq[Long] = {
      val off = dataAt
      typ match {
        case 3 => (0 until count).map(i => (buf.getShort(off + 2 * i) & 0xFFFF).toLong)
        case 4 => (0 until count).map(i => buf.getInt(off + 4 * i) & 0xFFFFFFFFL)
        case 16 => (0 until count).map(i => buf.getLong(off + 8 * i))
        case t => throw new IllegalArgumentException(s"TIFF tag $tag: expected int type, got $t")
      }
    }
    def doubles: IndexedSeq[Double] = {
      val off = dataAt
      require(typ == 12, s"TIFF tag $tag: expected DOUBLE, got type $typ")
      (0 until count).map(i => buf.getDouble(off + 8 * i))
    }
    def ascii: String = {
      val off = dataAt
      val bs = new Array[Byte](count)
      var i = 0; while (i < count) { bs(i) = buf.get(off + i); i += 1 }
      new String(bs, "US-ASCII").takeWhile(_ != '\u0000').trim
    }
  }

  /** Pixel-chunk layout: offsets/byte-counts of strips or tiles, the
    * tile geometry when tiled (None = striped, chunks are consecutive
    * row bands), the predictor applied inside each chunk, and the
    * samples-per-pixel (bands, chunky-interleaved). */
  private final case class Layout(chunks: IndexedSeq[(Long, Long)],
                                  tile: Option[(Int, Int)],
                                  predictor: Int,
                                  spp: Int,
                                  sampleBits: Int = 32,
                                  sampleFmt: Int = 3) {
    def bytesPer: Int = sampleBits / 8

    /** Sample `k` of a decoded chunk; integer samples surface as exact
      * floats (|v| ≤ 65535 < 2^24). */
    def sample(bb: ByteBuffer, k: Int): Float = {
      val (pos, signed) = (k * bytesPer, sampleFmt == 2)
      sampleBits match {
        case 32 => bb.getFloat(pos)
        case 16 => if (signed) bb.getShort(pos).toFloat
                   else (bb.getShort(pos) & 0xFFFF).toFloat
        case _ => if (signed) bb.get(pos).toFloat else (bb.get(pos) & 0xFF).toFloat
      }
    }
  }

  /** Parse metadata only — never touches pixel data (S11 metadata
    * inspection stays cheap on big rasters). Returns the grid plus the
    * chunk layout needed to read pixels. */
  private def parseMeta(dataset: String, bytes: Array[Byte])
      : (GridMeta, Layout, ByteBuffer, Int) = {
    require(bytes.length >= 8, "not a TIFF: truncated header")
    val order = (bytes(0).toChar, bytes(1).toChar) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException("not a TIFF: bad byte-order mark")
    }
    val buf = ByteBuffer.wrap(bytes).order(order)
    val magic = buf.getShort(2)
    // 42 = classic TIFF; 43 = BigTIFF (8-byte offsets/counts, 20-byte
    // IFD entries) — the format any >4 GiB GDAL export arrives in
    val big = magic == 43
    require(magic == 42 || big, "not a TIFF: bad magic")
    val (entriesStart, n, stride, countAt, valueAt) =
      if (big) {
        require(buf.getShort(4) == 8 && buf.getShort(6) == 0,
          s"BigTIFF $dataset: bad offset-size header")
        val ifd8 = buf.getLong(8)
        require(ifd8 >= 16 && ifd8 <= Int.MaxValue,
          s"BigTIFF $dataset: IFD offset $ifd8 outside the loaded payload")
        val nEnt = buf.getLong(ifd8.toInt)
        require(nEnt >= 1 && nEnt <= 65535,
          s"BigTIFF $dataset: implausible IFD entry count $nEnt")
        (ifd8.toInt + 8, nEnt.toInt, 20, 4, 12)
      } else {
        val ifd = buf.getInt(4)
        (ifd + 2, buf.getShort(ifd) & 0xFFFF, 12, 4, 8)
      }
    val entries: Map[Int, Entry] = (0 until n).map { i =>
      val at = entriesStart + i * stride
      val cnt =
        if (big) {
          val c = buf.getLong(at + countAt)
          require(c >= 0 && c <= Int.MaxValue,
            s"BigTIFF $dataset: tag count $c outside the loaded payload")
          c.toInt
        } else buf.getInt(at + countAt)
      val e = Entry(buf.getShort(at) & 0xFFFF, buf.getShort(at + 2) & 0xFFFF,
                    cnt, at + valueAt, buf, big)
      e.tag -> e
    }.toMap
    def req(tag: Int, what: String): Entry =
      entries.getOrElse(tag, throw new IllegalArgumentException(
        s"GeoTIFF $dataset: missing required tag $tag ($what)"))
    def intOr(tag: Int, dflt: Long): Long =
      entries.get(tag).map(_.ints.head).getOrElse(dflt)

    val width = req(256, "ImageWidth").ints.head.toInt
    val height = req(257, "ImageLength").ints.head.toInt
    require(width >= 1 && height >= 1,
      s"GeoTIFF $dataset: empty ${width}x$height grid")
    val bits = entries.get(258).map(_.ints).getOrElse(IndexedSeq(1L))
    val compression = intOr(259, 1).toInt
    val spp = intOr(277, 1).toInt
    val fmt = entries.get(339).map(_.ints).getOrElse(IndexedSeq(1L))
    val planar = intOr(284, 1).toInt
    val predictor = intOr(317, 1).toInt
    require(Codecs.contains(compression),
      s"GeoTIFF $dataset: unsupported Compression=$compression (${Codecs.keys.mkString("/")})")
    // sample formats: float32 (SampleFormat=3, BitsPerSample=32 — the
    // reference's export format) plus the integer rasters GDAL emits for
    // byte/int16 products (quality flags, scaled indices): uint8/uint16
    // (SampleFormat=1, the TIFF default) and int16 (SampleFormat=2).
    // Bands must agree on one format (GDAL always writes them uniform).
    require(bits.nonEmpty && bits.forall(_ == bits.head),
      s"GeoTIFF $dataset: mixed per-band BitsPerSample=$bits unsupported")
    require(fmt.forall(_ == fmt.head),
      s"GeoTIFF $dataset: mixed per-band SampleFormat=$fmt unsupported")
    val sampleBits = bits.head.toInt
    val sampleFmt = fmt.head.toInt
    require((sampleBits == 32 && sampleFmt == 3) ||
            (Set(8, 16)(sampleBits) && Set(1, 2)(sampleFmt)),
      s"GeoTIFF $dataset: unsupported sample type (BitsPerSample=$sampleBits, SampleFormat=$sampleFmt)")
    // 1 = none; 3 = TIFF TechNote 3 floating-point predictor (float32
    // only); 2 = horizontal integer differencing (integer samples only)
    require(predictor == 1 ||
            (predictor == 3 && sampleBits == 32) ||
            (predictor == 2 && sampleBits < 32),
      s"GeoTIFF $dataset: Predictor=$predictor invalid for $sampleBits-bit samples")
    require(spp >= 1, s"GeoTIFF $dataset: bad SamplesPerPixel=$spp")
    // chunky (pixel-interleaved) only — the TIFF default and what GDAL
    // writes unless INTERLEAVE=BAND is forced; planar files fail loudly
    require(spp == 1 || planar == 1,
      s"GeoTIFF $dataset: only chunky interleave supported (PlanarConfiguration=$planar)")

    val layout =
      if (entries.contains(324) || entries.contains(322)) {
        val tw = req(322, "TileWidth").ints.head.toInt
        val th = req(323, "TileLength").ints.head.toInt
        require(tw > 0 && th > 0 && tw % 16 == 0 && th % 16 == 0,
          s"GeoTIFF $dataset: bad tile size ${tw}x$th (must be positive multiples of 16)")
        val offs = req(324, "TileOffsets").ints
        val counts = req(325, "TileByteCounts").ints
        require(offs.length == counts.length,
          s"GeoTIFF $dataset: tile offset/count mismatch")
        val expect = ((width + tw - 1) / tw) * ((height + th - 1) / th)
        require(offs.length == expect,
          s"GeoTIFF $dataset: ${offs.length} tiles for a $expect-tile grid")
        Layout(offs.zip(counts), Some((tw, th)), predictor, spp,
          sampleBits, sampleFmt)
      } else {
        val stripOffsets = req(273, "StripOffsets").ints
        val stripCounts = req(279, "StripByteCounts").ints
        require(stripOffsets.length == stripCounts.length,
          s"GeoTIFF $dataset: strip offset/count mismatch")
        Layout(stripOffsets.zip(stripCounts), None, predictor, spp,
          sampleBits, sampleFmt)
      }

    val scale = req(33550, "ModelPixelScale").doubles
    val tie = req(33922, "ModelTiepoint").doubles
    require(tie.length >= 6, s"GeoTIFF $dataset: short ModelTiepoint")
    // raster (i,j) ↦ model (X,Y): north-up affine
    val (sx, sy) = (scale(0), scale(1))
    val (i0, j0, x0, y0) = (tie(0), tie(1), tie(3), tie(4))
    val c = x0 - i0 * sx
    val f = y0 + j0 * sy
    val crs = entries.get(34735).map { gk =>
      val ks = gk.ints
      // GeoKeyDirectory: header of 4 shorts then (key, loc, count, value)*
      val keys = (4 until ks.length by 4)
        .map(i => ks(i).toInt -> ks(i + 3).toInt).toMap
      keys.get(3072).orElse(keys.get(2048)).map(code => s"EPSG:$code")
        .getOrElse("EPSG:4326")
    }.getOrElse("EPSG:4326")
    val nodata = entries.get(42113).map(_.ascii.toDouble)
    val scaleM =
      if (crs == "EPSG:4326") math.max(1, math.round(sx * 111320.0)).toInt
      else math.max(1, math.round(sx)).toInt
    val meta = GridMeta(dataset, sx, 0.0, c, 0.0, -sy, f, crs,
      width, height, nodata, scaleM)
    (meta, layout, buf, compression)
  }

  /** A Compression tag's codec; `encode` is None for a tag that is read
    * but never written. */
  private final case class Codec(decode: Array[Byte] => Array[Byte],
                                 encode: Option[Array[Byte] => Array[Byte]])

  private def inflate(src: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(src)
    val out = new java.io.ByteArrayOutputStream(src.length * 4)
    val chunk = new Array[Byte](8192)
    while (!inf.finished() && !inf.needsInput()) {
      val n = inf.inflate(chunk)
      if (n > 0) out.write(chunk, 0, n)
      else if (!inf.finished())
        throw new IllegalArgumentException("truncated deflate chunk")
    }
    inf.end()
    out.toByteArray
  }

  private def deflate(arr: Array[Byte]): Array[Byte] = {
    // fixed level so fixture bytes stay deterministic across JDKs
    val d = new java.util.zip.Deflater(6)
    d.setInput(arr); d.finish()
    val out = new java.io.ByteArrayOutputStream(arr.length / 2 + 16)
    val chunk = new Array[Byte](8192)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    out.toByteArray
  }

  /** Compression tag → codec, in the order messages list them. 32946 is
    * the pre-TIFF-6 Deflate tag: read, never written. */
  private val Codecs = scala.collection.immutable.ListMap(
    1 -> Codec(identity, Some(identity)),
    5 -> Codec(Lzw.decode, Some(Lzw.encode)),
    8 -> Codec(inflate, Some(deflate)),
    32946 -> Codec(inflate, None),
    32773 -> Codec(PackBits.decode, Some(PackBits.encode)))

  /** Decompress one pixel chunk (strip or tile) into a fresh array. */
  private def decodeChunk(dataset: String, buf: ByteBuffer, compression: Int,
                          off: Long, count: Long): Array[Byte] = {
    val src = new Array[Byte](count.toInt)
    buf.duplicate().position(off.toInt).get(src)
    try Codecs(compression).decode(src)
    catch { case e: IllegalArgumentException =>
      throw new IllegalArgumentException(s"GeoTIFF $dataset: ${e.getMessage}", e)
    }
  }

  /** Undo the TIFF TechNote 3 floating-point predictor over one chunk:
    * per `rowBytes`-wide row, cumulative-sum the horizontal byte deltas
    * (in place), then reassemble each float from its four byte planes
    * (most significant first — the predictor's layout is defined
    * big-endian independent of the file's byte order). Returns plain
    * big-endian float32 rows. */
  private def undoFpPredictor(data: Array[Byte], rowBytes: Int): Array[Byte] = {
    require(data.length % rowBytes == 0,
      s"fp-predictor chunk of ${data.length} bytes is not whole $rowBytes-byte rows")
    val w = rowBytes / 4
    val out = new Array[Byte](data.length)
    var r = 0
    while (r < data.length / rowBytes) {
      val base = r * rowBytes
      var i = 1
      while (i < rowBytes) { // undo horizontal differencing
        data(base + i) = (data(base + i) + data(base + i - 1)).toByte
        i += 1
      }
      var j = 0
      while (j < w) { // de-interleave the four byte planes
        out(base + 4 * j) = data(base + j)
        out(base + 4 * j + 1) = data(base + w + j)
        out(base + 4 * j + 2) = data(base + 2 * w + j)
        out(base + 4 * j + 3) = data(base + 3 * w + j)
        j += 1
      }
      r += 1
    }
    out
  }

  /** TIFF Predictor=2 (horizontal integer differencing) in place over
    * one chunk: per `rowBytes`-wide row, each sample is taken relative to
    * the previous SAME-BAND sample (stride = spp), in the sample's own
    * width with wrapping two's-complement arithmetic — correct for signed
    * and unsigned alike. `apply` differences right to left (the writer);
    * otherwise left to right accumulates (the reader). */
  private def intPredictor(data: Array[Byte], rowBytes: Int, spp: Int,
                           bytesPer: Int, order: ByteOrder,
                           apply: Boolean): Unit = {
    val bb = ByteBuffer.wrap(data).order(order)
    val samplesPerRow = rowBytes / bytesPer
    val sign = if (apply) -1 else 1
    var rowStart = 0
    while (rowBytes > 0 && rowStart + rowBytes <= data.length) { // never a 0-byte row
      var i = 0
      while (i < samplesPerRow - spp) {
        val s = if (apply) samplesPerRow - 1 - i else spp + i
        val pos = rowStart + s * bytesPer
        val prev = pos - spp * bytesPer
        if (bytesPer == 1)
          data(pos) = (data(pos) + sign * data(prev)).toByte
        else
          bb.putShort(pos, (bb.getShort(pos) + sign * bb.getShort(prev)).toShort)
        i += 1
      }
      rowStart += rowBytes
    }
  }

  /** Apply the floating-point predictor (inverse of [[undoFpPredictor]]):
    * split each row's floats into big-endian byte planes, then difference
    * horizontally. */
  private def applyFpPredictor(rows: Int, w: Int,
                               get: Int => Float): Array[Byte] = {
    val rowBytes = w * 4
    val out = new Array[Byte](rows * rowBytes)
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var j = 0
      while (j < w) {
        val bits = java.lang.Float.floatToIntBits(get(r * w + j))
        out(base + j) = (bits >>> 24).toByte
        out(base + w + j) = (bits >>> 16).toByte
        out(base + 2 * w + j) = (bits >>> 8).toByte
        out(base + 3 * w + j) = bits.toByte
        j += 1
      }
      var i = rowBytes - 1
      while (i >= 1) {
        out(base + i) = (out(base + i) - out(base + i - 1)).toByte
        i -= 1
      }
      r += 1
    }
    out
  }

  /** Parse a whole single-band raster: metadata + row-major float32
    * pixels. Multi-band files fail loudly here — use [[parseBands]]. */
  def parse(dataset: String, bytes: Array[Byte]): Raster = {
    val mr = parseBands(dataset, bytes)
    require(mr.nBands == 1,
      s"GeoTIFF $dataset: ${mr.nBands} bands — use parseBands/readBands for multi-band rasters")
    Raster(mr.meta, mr.values)
  }

  /** Parse a whole raster of any band count: metadata + pixel-interleaved
    * float32 samples (chunky layout, the file's own order). */
  def parseBands(dataset: String, bytes: Array[Byte]): MultiRaster = {
    val (meta, layout, buf, compression) = parseMeta(dataset, bytes)
    val spp = layout.spp
    val bp = layout.bytesPer
    val values = new Array[Float](meta.width * meta.height * spp)
    def chunk(off: Long, count: Long, rowBytes: Int): ByteBuffer = {
      val raw = decodeChunk(dataset, buf, compression, off, count)
      layout.predictor match {
        case 3 => ByteBuffer.wrap(undoFpPredictor(raw, rowBytes))
        case p =>
          if (p == 2) intPredictor(raw, rowBytes, spp, bp, buf.order(), apply = false)
          ByteBuffer.wrap(raw).order(buf.order())
      }
    }
    layout match {
      case Layout(strips, None, _, _, _, _) =>
        var k = 0
        strips.foreach { case (off, count) =>
          val raw = chunk(off, count, meta.width * spp * bp)
          val n = math.min(raw.capacity / bp, values.length - k)
          var i = 0
          while (i < n) { values(k + i) = layout.sample(raw, i); i += 1 }
          k += n
        }
        require(k == values.length,
          s"GeoTIFF $dataset: strip data holds $k samples, header promises ${values.length}")
      case Layout(tiles, Some((tw, th)), _, _, _, _) =>
        // tiles are row-major over a ceil(w/tw) x ceil(h/th) grid; edge
        // tiles are PADDED to full tw x th (TIFF6) — clip the scatter-copy
        val tilesAcross = (meta.width + tw - 1) / tw
        tiles.zipWithIndex.foreach { case ((off, count), idx) =>
          val raw = chunk(off, count, tw * spp * bp)
          require(raw.capacity >= tw * th * spp * bp,
            s"GeoTIFF $dataset: tile $idx holds ${raw.capacity / bp} samples, expected ${tw * th * spp}")
          val x0 = (idx % tilesAcross) * tw
          val y0 = (idx / tilesAcross) * th
          var ty = 0
          while (ty < th) {
            val y = y0 + ty
            var tx = 0
            while (tx < tw) {
              val x = x0 + tx
              if (x < meta.width && y < meta.height) {
                var s = 0
                while (s < spp) {
                  values((y * meta.width + x) * spp + s) =
                    layout.sample(raw, (ty * tw + tx) * spp + s)
                  s += 1
                }
              }
              tx += 1
            }
            ty += 1
          }
        }
    }
    MultiRaster(meta, spp, values)
  }

  /** A blob's dataset name: the last segment of its path. */
  private def datasetOf(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Grid metadata of the raster(s) at `pathGlob` — S11 inspection; strip
    * data is never read. */
  def grids(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    Blobs.read(spark, pathGlob, "GeoTiff.grids").as[(String, Array[Byte])]
      .map { case (path, bytes) => parseMeta(datasetOf(path), bytes)._1 }
      .toDF("dataset", "a", "b", "c", "d", "e", "f", "crs",
            "width", "height", "nodata", "scale_m")
  }

  /** The file → pixel core of every scan: each file is parsed in its own
    * task ([[parse]]'s single-band check when `oneBand`), then `rowOf`,
    * chosen per file from its grid, maps every sample — (y, x, band) in
    * file order, the pixel-centre model coordinates and the value with
    * nodata/NaN as None — to one output row `R`. The model coordinates
    * use the same center-offset expression as Unpivot.gridToPixels,
    * evaluated in the same operand order, so coordinates are
    * bit-identical across the ingest paths. */
  private def scan[R <: Product : TypeTag](spark: SparkSession,
      pathGlob: String, source: String, oneBand: Boolean, columns: String*)(
      rowOf: GridMeta => (Int, Int, Int, Double, Double, Option[Double]) => R)
      : DataFrame = {
    import spark.implicits._
    Blobs.read(spark, pathGlob, source).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val r =
          if (oneBand) {
            val one = parse(datasetOf(path), bytes)
            MultiRaster(one.meta, 1, one.values)
          } else parseBands(datasetOf(path), bytes)
        val m = r.meta
        val row = rowOf(m)
        val ndF = m.nodata.map(_.toFloat)
        Iterator.range(0, m.height).flatMap { y =>
          Iterator.range(0, m.width).flatMap { x =>
            val mx = m.c + (x + 0.5) * m.a + (y + 0.5) * m.b
            val my = m.f + (x + 0.5) * m.d + (y + 0.5) * m.e
            Iterator.range(0, r.nBands).map { s =>
              val v = r.values((y * m.width + x) * r.nBands + s)
              row(y, x, s, mx, my,
                if (v.isNaN || ndF.exists(_ == v)) None else Some(v.toDouble))
            }
          }
        }
      }
      .toDF(columns: _*)
  }

  /** Single-band scan with a per-file coordinate projection chosen from
    * the grid metadata. */
  private def scanPixels(spark: SparkSession, pathGlob: String,
                         projectionOf: GridMeta => (Double, Double) => (Double, Double))
      : DataFrame =
    scan(spark, pathGlob, "GeoTiff.read", oneBand = true,
        "dataset", "y", "x", "lon", "lat", "value") { m =>
      val project = projectionOf(m)
      (y, x, _, mx, my, value) => {
        val (lon, lat) = project(mx, my)
        (m.dataset, y, x, lon, lat, value)
      }
    }

  /** S4 — scan raster file(s) into the long pixel-coordinate table
    * (dataset, y, x, lon, lat, value); nodata/NaN → null value. Emits RAW
    * model coordinates in the lon/lat columns — correct only for
    * EPSG:4326 exports; use [[readLonLat]] for projected CRSs. */
  def read(spark: SparkSession, pathGlob: String): DataFrame =
    scanPixels(spark, pathGlob, _ => (mx, my) => (mx, my))

  /** S4 + F7 — scan raster file(s) with CRS-aware reprojection: the affine
    * model coordinates are routed through the EPSG registry
    * (graft.ops.Crs — geographic pass-through, Web-Mercator closed form,
    * all WGS84 UTM zones incl. southern via the Krüger inverse), so
    * `lon`/`lat` are true EPSG:4326 degrees whatever CRS the export used —
    * the general form of the reference's `rasterio.warp.transform(src.crs,
    * 'EPSG:4326')`. Files in an unregistered CRS fail loudly rather than
    * mislabeling projected meters as degrees. Reprojection is scalar math
    * inside the same per-file task as the decode — no extra stage, no
    * shuffle. */
  def readLonLat(spark: SparkSession, pathGlob: String): DataFrame =
    scanPixels(spark, pathGlob, m => {
      val proj = graft.ops.Crs.fromCrsString(m.crs).getOrElse(
        throw new IllegalArgumentException(
          s"GeoTIFF ${m.dataset}: no reprojection registered for ${m.crs}"))
      (mx, my) => graft.ops.Crs.toLonLat(proj, mx, my)
    })

  /** S4 multi-band — scan raster file(s) of any band count into the long
    * pixel table (dataset, band, y, x, lon, lat, value), one row per
    * sample; band is 0-based in file order. Same per-file-task shape as
    * [[read]]; nodata applies per sample (GDAL_NODATA is per-file). */
  def readBands(spark: SparkSession, pathGlob: String): DataFrame =
    scan(spark, pathGlob, "GeoTiff.readBands", oneBand = false,
        "dataset", "band", "y", "x", "lon", "lat", "value") { m =>
      (y, x, s, mx, my, value) => (m.dataset, s, y, x, mx, my, value)
    }

  // ------------------------------------------------------------------ write

  /** One IFD entry to write: `values` of TIFF type `typ`, each stored at
    * the type's width (ASCII as its bytes; every value is exact in a
    * Double). */
  private final case class Field(tag: Int, typ: Int, values: IndexedSeq[Double])

  /** Encode a GeoTIFF for `meta` — float32 (default) or single-band
    * uint8/uint16/int16 via `sampleBits`/`sampleFormat` (north-up affine only:
    * b = d = 0, a > 0, e < 0). The exact inverse of [[parse]]/
    * [[parseBands]]; deterministic bytes so fixtures pin byte-for-byte.
    * `compression`: 1 = none, 5 = LZW, 8 = Deflate, 32773 = PackBits.
    * `tileSize` = 0 writes
    * the striped layout (`rowsPerStrip` row bands); a positive multiple
    * of 16 writes the tiled layout GDAL emits for larger rasters (square
    * tiles, edge tiles zero-padded to full size per TIFF6). `bands` > 1
    * writes chunky pixel-interleaved samples (`values` in
    * [[MultiRaster]] order) with explicit PlanarConfiguration and
    * ExtraSamples tags; the single-band byte stream is unchanged.
    * `bigTiff` writes the BigTIFF container (version 43, 8-byte
    * offsets/counts, 20-byte IFD entries, LONG8 chunk offset arrays —
    * what GDAL emits past 4 GiB); single-band only.
    *
    * Layout: header, one IFD sorted by tag, the out-of-line values, then
    * the chunks. A value lives in its entry when it fits the value field
    * (4 bytes, 8 in BigTIFF — [[inline]], the rule the reader applies);
    * longer ones follow the IFD in a fixed order: chunk offsets, chunk
    * byte counts, pixel scale, tiepoint, GeoKeys, BitsPerSample,
    * SampleFormat, ExtraSamples, nodata. Image, strip and tile
    * dimensions are SHORT up to 65535 and LONG beyond. An empty grid or
    * a striped `rowsPerStrip` below 1 is refused before any byte is
    * written, as [[parse]] refuses an empty grid. */
  def write(meta: GridMeta, values: Array[Float], rowsPerStrip: Int = 64,
            bigEndian: Boolean = false, compression: Int = 1,
            tileSize: Int = 0, predictor: Int = 1,
            bands: Int = 1, sampleBits: Int = 32,
            sampleFormat: Int = 3, bigTiff: Boolean = false): Array[Byte] = {
    require(!bigTiff || bands == 1,
      "GeoTIFF writer: BigTIFF output is single-band only")
    require(meta.b == 0.0 && meta.d == 0.0 && meta.a > 0 && meta.e < 0,
      "GeoTIFF writer: only north-up affine grids")
    require(bands >= 1 && bands <= 4,
      s"GeoTIFF writer: bands must be 1..4, got $bands")
    require(meta.width >= 1 && meta.height >= 1,
      s"GeoTIFF writer: empty ${meta.width}x${meta.height} grid")
    require(values.length == meta.width * meta.height * bands,
      s"GeoTIFF writer: ${values.length} values for ${meta.width}x${meta.height}x$bands")
    val writable = Codecs.collect { case (tag, Codec(_, Some(_))) => tag }
    require(writable.exists(_ == compression),
      s"GeoTIFF writer: unsupported compression $compression (${writable.mkString("/")})")
    require(tileSize == 0 || (tileSize > 0 && tileSize % 16 == 0),
      s"GeoTIFF writer: tileSize must be 0 (striped) or a positive multiple of 16, got $tileSize")
    require(tileSize > 0 || rowsPerStrip >= 1,
      s"GeoTIFF writer: rowsPerStrip must be positive, got $rowsPerStrip")
    require((sampleBits == 32 && sampleFormat == 3) ||
            (Set(8, 16)(sampleBits) && Set(1, 2)(sampleFormat)),
      s"GeoTIFF writer: unsupported sample type ($sampleBits-bit, SampleFormat=$sampleFormat)")
    require(sampleBits == 32 || bands == 1,
      "GeoTIFF writer: integer samples are single-band only")
    require(predictor == 1 ||
            (predictor == 3 && sampleBits == 32) ||
            (predictor == 2 && sampleBits < 32),
      s"GeoTIFF writer: Predictor=$predictor invalid for $sampleBits-bit samples")
    val bytesPer = sampleBits / 8
    val signed = sampleFormat == 2
    // integer samples must BE integers in range — refuse silent truncation
    def checkInt(v: Float): Int = {
      val i = v.toInt
      val (lo, hi) = (sampleBits, signed) match {
        case (8, false) => (0, 255)
        case (8, true) => (-128, 127)
        case (16, false) => (0, 65535)
        case _ => (-32768, 32767)
      }
      require(i.toFloat == v && i >= lo && i <= hi,
        s"GeoTIFF writer: $v not a valid $sampleBits-bit ${if (signed) "signed" else "unsigned"} sample")
      i
    }
    def putSample(bb: ByteBuffer, v: Float): Unit = sampleBits match {
      case 32 => bb.putFloat(v)
      case 16 => bb.putShort(checkInt(v).toShort)
      case _ => bb.put(checkInt(v).toByte)
    }
    val epsg = meta.crs.stripPrefix("EPSG:").toInt
    val geographic = epsg == 4326
    val tiled = tileSize > 0
    val order = if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val encode = Codecs(compression).encode.get
    // one chunk of `rows` rows of `rowSamples` samples, sample k = at(k):
    // predictor, then codec
    def chunk(rows: Int, rowSamples: Int, at: Int => Float): Array[Byte] =
      encode(
        if (predictor == 3) applyFpPredictor(rows, rowSamples, at)
        else {
          val bb = ByteBuffer.allocate(rows * rowSamples * bytesPer).order(order)
          var k = 0
          while (k < rows * rowSamples) { putSample(bb, at(k)); k += 1 }
          if (predictor == 2)
            intPredictor(bb.array(), rowSamples * bytesPer, bands, bytesPer,
              order, apply = true)
          bb.array()
        })
    val chunks: IndexedSeq[Array[Byte]] =
      if (tiled) {
        val tilesAcross = (meta.width + tileSize - 1) / tileSize
        val tilesDown = (meta.height + tileSize - 1) / tileSize
        val tileRowSamples = tileSize * bands
        (0 until tilesAcross * tilesDown).map { idx =>
          val x0 = (idx % tilesAcross) * tileSize
          val y0 = (idx / tilesAcross) * tileSize
          chunk(tileSize, tileRowSamples, { k =>
            val y = y0 + k / tileRowSamples
            val rem = k % tileRowSamples
            val x = x0 + rem / bands
            if (x < meta.width && y < meta.height)
              values((y * meta.width + x) * bands + rem % bands)
            else 0.0f
          })
        }
      } else {
        val rowSamples = meta.width * bands
        (0 until (meta.height + rowsPerStrip - 1) / rowsPerStrip).map { s =>
          val base = s * rowsPerStrip * rowSamples
          chunk(math.min(rowsPerStrip, meta.height - s * rowsPerStrip),
            rowSamples, k => values(base + k))
        }
      }
    val chunkBytes = chunks.map(_.length.toDouble)

    // the entry table; chunk offsets depend on where the data starts
    def fields(dataAt: Int): Seq[Field] = {
      def field(tag: Int, typ: Int, vs: Double*) = Field(tag, typ, vs.toIndexedSeq)
      def dim(tag: Int, v: Int) = field(tag, if (v > 65535) 4 else 3, v)
      def perBand(tag: Int, v: Int) = Field(tag, 3, IndexedSeq.fill(bands)(v.toDouble))
      val offTyp = if (bigTiff) 16 else 4 // LONG8 chunk arrays in BigTIFF
      val (offTag, countTag) = if (tiled) (324, 325) else (273, 279)
      // out-of-line payloads are laid out in this declaration order
      Seq(Field(offTag, offTyp, chunkBytes.scanLeft(dataAt.toDouble)(_ + _).init),
        Field(countTag, offTyp, chunkBytes),
        field(33550, 12, meta.a, -meta.e, 0.0),
        field(33922, 12, 0.0, 0.0, 0.0, meta.c, meta.f, 0.0), // (0,0,0) -> (c,f,0)
        field(34735, 3,
          1, 1, 0, 3, // version, revision, minor, numKeys
          1024, 0, 1, if (geographic) 2 else 1, // GTModelType
          1025, 0, 1, 1, // GTRasterType = PixelIsArea
          if (geographic) 2048 else 3072, 0, 1, epsg),
        perBand(258, sampleBits),
        perBand(339, sampleFormat)) ++
      (if (bands > 1) // unspecified extras, explicit chunky interleave
        Seq(Field(338, 3, IndexedSeq.fill(bands - 1)(0.0)), field(284, 3, 1))
      else Nil) ++
      meta.nodata.map { nd =>
        val s = if (nd == nd.toLong.toDouble) nd.toLong.toString else nd.toString
        Field(42113, 2, (s + "\u0000").getBytes("US-ASCII").map(_.toDouble).toIndexedSeq)
      } ++
      Seq(dim(256, meta.width), dim(257, meta.height), field(259, 3, compression),
        field(262, 3, 1), field(277, 3, bands)) ++
      (if (predictor != 1) Seq(field(317, 3, predictor)) else Nil) ++
      (if (tiled) Seq(dim(322, tileSize), dim(323, tileSize))
      else Seq(dim(278, rowsPerStrip)))
    }
    def size(f: Field): Int = TypeSizes(f.typ) * f.values.size
    def outOfLine(fs: Seq[Field]) =
      fs.filterNot(f => inline(f.typ, f.values.size, bigTiff))
    val (ifdAt, word, countBytes, entryBytes) =
      if (bigTiff) (16, 8, 8, 20) else (8, 4, 2, 12)
    val sized = fields(0)
    val extAt = ifdAt + countBytes + sized.size * entryBytes + word // + next IFD
    val dataAt = extAt + outOfLine(sized).map(size).sum
    val fs = fields(dataAt)
    val ext = outOfLine(fs)
    val placed = ext.map(_.tag).zip(ext.scanLeft(extAt)(_ + size(_))).toMap

    val buf = ByteBuffer.allocate(dataAt + chunks.map(_.length).sum).order(order)
    def putWord(at: Int, v: Int): Unit =
      if (bigTiff) buf.putLong(at, v.toLong) else buf.putInt(at, v)
    buf.put(0, (if (bigEndian) 'M' else 'I').toByte)
    buf.put(1, (if (bigEndian) 'M' else 'I').toByte)
    if (bigTiff) {
      buf.putShort(2, 43).putShort(4, 8) // offset byte size, then 0
      buf.putLong(8, ifdAt.toLong).putLong(ifdAt, fs.size.toLong)
    } else buf.putShort(2, 42).putInt(4, ifdAt).putShort(ifdAt, fs.size.toShort)
    fs.sortBy(_.tag).zipWithIndex.foreach { case (f, i) =>
      val e = ifdAt + countBytes + i * entryBytes
      buf.putShort(e, f.tag.toShort).putShort(e + 2, f.typ.toShort)
      putWord(e + 4, f.values.size)
      val at = placed.getOrElse(f.tag, e + 4 + word)
      if (placed.contains(f.tag)) putWord(e + 4 + word, at)
      f.values.zipWithIndex.foreach { case (v, k) =>
        val p = at + k * TypeSizes(f.typ)
        f.typ match {
          case 2 => buf.put(p, v.toByte)
          case 3 => buf.putShort(p, v.toInt.toShort)
          case 4 => buf.putInt(p, v.toLong.toInt)
          case 12 => buf.putDouble(p, v)
          case _ => buf.putLong(p, v.toLong)
        }
      }
    }
    chunks.foldLeft(dataAt) { (off, data) =>
      System.arraycopy(data, 0, buf.array(), off, data.length)
      off + data.length
    }
    buf.array()
  }
}
