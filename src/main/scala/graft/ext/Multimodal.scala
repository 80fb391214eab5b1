package graft.ext

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video payloads as opaque `binary`
  * columns plus typed metadata, with decode / feature-extract / resize /
  * frame-sample as per-partition batch transforms.
  *
  * All three modalities decode REAL payloads with in-JDK codecs, no
  * native libraries: images via `javax.imageio` (PNG/BMP/GIF/JPEG) to
  * pixel-histogram features; audio via `javax.sound.sampled` (WAV/PCM) to
  * sample-rate/duration/RMS/zero-crossing features; video via animated
  * GIF (`VideoCodec`) to temporally sampled per-frame features; G.711
  * μ-law/A-law telephone WAVs expand through the JDK codec SPI; MP4/MOV
  * containers yield box-level metadata (dimensions, duration, codec
  * fourcc, frame count) via the pure-JVM `Mp4Probe` walk. Only FRAME
  * DECODE of containers the JDK cannot read (mp4/webm pixels) falls back
  * to the clearly-declared `FakeCodec` stub rather than erroring, so
  * mixed-media tables keep flowing.
  *
  * At 100 TB: payloads live in their own parquet column chunk (columnar →
  * metadata-only queries never touch bytes); transforms run as
  * mapPartitions so codec state (decoder contexts, model weights) is
  * initialized once per task, not per row.
  */
object Multimodal {

  /** Spread a fixture-generator input across the session's task width
    * before per-row codec CPU. A single small parquet fixture file
    * scans as ONE partition (one row group, under maxPartitionBytes),
    * so every downstream encode/decode UDF and mapPartitions codec pass
    * runs serially on one core — the one-straggler shape of guide §2.5
    * (r18 measurement: x102's three stages ran 3 tasks TOTAL; the
    * entire 3 s bench cost was one core's MJPEG work while 31 idled).
    * The exchange moves only the generator's NARROW input (ids, or ids
    * + the text a payload derives from — never a generated payload or
    * decoded pixels, keeping the media-tier "nothing pixel-level rides
    * an exchange" posture), and the guard derives the decision from the
    * OBSERVED input width: a production-scale input that already
    * arrives thousands-of-partitions wide from object storage skips
    * the shuffle entirely, so this is scale-adaptive, not a local
    * constant (guide §2.2's "derive from input size" applied in the
    * too-narrow direction). */
  private[graft] def spreadNarrowInput(df: DataFrame): DataFrame = {
    // streaming inputs pass through untouched: observing the partition
    // count (.rdd) is illegal on a stream, and microbatch parallelism
    // is the source's rate/partitioning concern, not the generator's
    if (df.isStreaming) return df
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** Media row schema: payload + sidecar metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("mime", StringType, nullable = true))), nullable = true)))

  /** A [[mediaSchema]] table over `in`'s documents: `doc_id` becomes
    * `media_id`, and each absent meta value is a null int.
    *
    * A generator whose payload encode is real per-row codec CPU spreads
    * its narrow input first ([[spreadNarrowInput]]). Two kinds do NOT:
    *  - probe inputs, whose consumers are header/metadata walks (~0.1 s
    *    serial at fixture scale): the spread exchange costs more than the
    *    CPU it would parallelize (r18 subset A/B: probes regressed ~2x);
    *  - WAV inputs: AudioSystem encode/decode funnels through the JDK's
    *    synchronized service-provider registry, so wide stages convoy on
    *    that lock (r18: 8-wide x46 tasks sat ~2 s blocked per task at
    *    0.3 s CPU) and measure SLOWER than the serial scan chain. */
  private def mediaTable(in: DataFrame, payload: Column, kind: String,
                         mime: String, width: Option[Int] = None,
                         height: Option[Int] = None,
                         sampleRate: Option[Int] = None,
                         nFrames: Option[Int] = None): DataFrame = {
    def int(v: Option[Int]): Column = v.fold(lit(null).cast("int"))(lit(_))
    in.select(
      col("doc_id").as("media_id"),
      lit(kind).as("kind"),
      payload.as("payload"),
      struct(
        int(width).as("width"), int(height).as("height"),
        int(sampleRate).as("sample_rate"), int(nFrames).as("n_frames"),
        lit(mime).as("mime")).as("meta"))
  }

  /** One narrow pass over `media`'s payloads: `rows(media_id, payload)`
    * (payload null when absent) yields the output rows, `media_id`
    * first and then `fields`, all non-null; a payload it cannot read
    * yields none. mapPartitions, so codec state is set up once per task;
    * no shuffle, and it runs on a stream as on a batch. */
  private def payloadPass(media: DataFrame, fields: (String, DataType)*)(
      rows: (Long, Array[Byte]) => IterableOnce[Row]): DataFrame = {
    val schema = StructType((("media_id" -> LongType) +: fields).map {
      case (name, t) => StructField(name, t, nullable = false) })
    media.select("media_id", "payload").mapPartitions { it =>
      it.flatMap { r =>
        rows(r.getLong(0), if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Mean of a row-major 8-bit gray frame: an exact integer sum over the
    * pixel count. */
  private def meanLum(gray: Array[Byte]): Double = {
    var sum = 0L
    var i = 0
    while (i < gray.length) { sum += gray(i) & 0xFF; i += 1 }
    sum.toDouble / gray.length
  }

  /** Temporal frame sampling: every `everyNth` frame of each payload →
    * (media_id, frame_idx, mean_lum). `frames` lists a payload's frames
    * (none when the container does not read it) and `gray` decodes one
    * frame to row-major 8-bit luminance. Only the sampled frames are
    * decoded; one that does not decode drops its row. */
  private def sampleGrayFrames[F](media: DataFrame, everyNth: Int)(
      frames: Array[Byte] => Seq[F])(
      gray: F => Option[Array[Byte]]): DataFrame = {
    require(everyNth > 0, s"everyNth must be positive, got $everyNth")
    payloadPass(media, "frame_idx" -> IntegerType,
        "mean_lum" -> DoubleType) { (id, payload) =>
      frames(payload).iterator.zipWithIndex
        .filter { case (_, k) => k % everyNth == 0 }
        .flatMap { case (f, k) => gray(f).map(g => Row(id, k, meanLum(g))) }
    }
  }

  /** ImageIO's stream cache defaults to DISK: every read/write spills
    * through a temp file plus synchronized registry work, which
    * serializes concurrent decode tasks on filesystem churn (r18
    * measurement: 32-wide decode stages burned ~20x the single-task
    * CPU in cache-file syscalls). Payloads here are in-memory byte
    * arrays — force memory-backed streams once, JVM-wide. Every
    * ImageIO-using codec object calls [[init]] in its initializer, so
    * whichever codec a driver or executor JVM loads first sets it. */
  private[ext] object ImageIoStreams {
    javax.imageio.ImageIO.setUseCache(false)
    def init(): Unit = ()
  }

  /** Real image codec on the JDK's ImageIO. All operations are
    * deterministic: 8-bit gray PNG round-trips samples losslessly. */
  object ImageCodec {
    ImageIoStreams.init()

    /** The decoded image, or None for a null payload, a format ImageIO
      * has no reader for, or bytes its reader rejects (a malformed or
      * unsupported JPEG raises `IIOException`, an `IOException`): every
      * image pass then takes its documented undecodable branch instead
      * of failing the job. */
    def decode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (payload == null) None
      else try Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(payload)))
      catch { case _: java.io.IOException => None }

    /** Encode 8-bit grayscale samples (row-major) as PNG bytes. */
    def encodeGrayPng(samples: Array[Byte], width: Int, height: Int): Array[Byte] = {
      require(samples.length == width * height, "sample count != w*h")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      var i = 0
      while (i < samples.length) {
        img.getRaster.setSample(i % width, i / width, 0, samples(i) & 0xFF)
        i += 1
      }
      val out = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** 8-bit luminance of pixel (x,y), robust across decoded layouts:
      * palette images go through the color model (indices are NOT
      * luminance); gray / gray+alpha use band 0; color uses the integer
      * mean of the first three bands; >8-bit samples shift down to 8.
      * Integer-only — no float colorspace math, deterministic. */
    private[ext] def lum8(img: java.awt.image.BufferedImage, x: Int, y: Int): Int = {
      val raster = img.getRaster
      if (img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]) {
        val rgb = img.getRGB(x, y)
        ((rgb >> 16 & 0xFF) + (rgb >> 8 & 0xFF) + (rgb & 0xFF)) / 3
      } else {
        val bands = raster.getNumBands
        val shift = math.max(0, img.getColorModel.getComponentSize(0) - 8)
        val v =
          if (bands <= 2) raster.getSample(x, y, 0) // gray or gray+alpha
          else (raster.getSample(x, y, 0) + raster.getSample(x, y, 1) +
                raster.getSample(x, y, 2)) / 3
        math.min(255, v >> shift)
      }
    }

    /** [[lum8]] of every pixel, row-major. */
    private[ext] def gray8(img: java.awt.image.BufferedImage): Array[Byte] = {
      val w = img.getWidth
      Array.tabulate(w * img.getHeight)(i => lum8(img, i % w, i / w).toByte)
    }

    /** 16-bucket luminance histogram over DECODED pixels, L1-normalized.
      * Non-decodable payloads fall back to the byte-histogram stub. */
    def decodeFeatures(payload: Array[Byte]): Array[Float] =
      decode(payload) match {
        case Some(img) =>
          val (w, h) = (img.getWidth, img.getHeight)
          val hist = new Array[Float](16)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              hist(lum8(img, x, y) >> 4) += 1f
              x += 1
            }
            y += 1
          }
          val n = math.max(1f, (w * h).toFloat)
          var i = 0
          while (i < 16) { hist(i) /= n; i += 1 }
          hist
        case None => FakeCodec.decodeFeatures(payload)
      }

    /** Real thumbnail: decode, nearest-neighbor scale to size×size gray,
      * re-encode PNG. Nearest-neighbor keeps it integer-deterministic. */
    def resize(payload: Array[Byte], size: Int): Array[Byte] =
      decode(payload) match {
        case Some(img) =>
          val out = Array.tabulate(size * size) { i =>
            val (ty, tx) = (i / size, i % size)
            lum8(img, tx * img.getWidth / size, ty * img.getHeight / size).toByte
          }
          encodeGrayPng(out, size, size)
        case None => FakeCodec.resize(payload, size)
      }
  }

  /** Real audio codec on the JDK's `javax.sound.sampled` — WAV/PCM read
    * and write with zero native dependencies. Scoped to what the sampled
    * API decodes losslessly: PCM_SIGNED 16-bit and PCM_UNSIGNED 8-bit,
    * any channel count (channel 0 is taken), either endianness — plus
    * G.711 μ-law/A-law (telephone-band WAVs), which the JDK's codec SPI
    * expands to 16-bit linear with the published G.711 tables (verified
    * bit-exact against the spec formula for all 256 code bytes in
    * MultimodalSpec). */
  object AudioCodec {
    final case class Pcm(sampleRate: Int, samples: Array[Int])

    private val ULAW = javax.sound.sampled.AudioFormat.Encoding.ULAW
    private val ALAW = javax.sound.sampled.AudioFormat.Encoding.ALAW

    /** Decode a WAV payload to channel-0 integer samples. None when the
      * payload is not a WAV the JDK can read (caller falls back). */
    def decodeWav(payload: Array[Byte]): Option[Pcm] = {
      if (payload == null) return None
      try {
        val in0 = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(payload))
        // G.711 companded WAVs: route through the JDK's μ-law/A-law codec
        // to PCM_SIGNED 16-bit (the exact spec expansion table), then fall
        // into the common PCM path below
        val in =
          if (in0.getFormat.getEncoding == ULAW ||
              in0.getFormat.getEncoding == ALAW) {
            val f0 = in0.getFormat
            javax.sound.sampled.AudioSystem.getAudioInputStream(
              new javax.sound.sampled.AudioFormat(
                javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
                f0.getSampleRate, 16, f0.getChannels, f0.getChannels * 2,
                f0.getSampleRate, false), in0)
          } else in0
        val f = in.getFormat
        val enc = f.getEncoding
        val ok = (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                    f.getSampleSizeInBits == 16) ||
                 (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED &&
                    f.getSampleSizeInBits == 8)
        if (!ok) return None
        val bytes = in.readAllBytes()
        val frameSize = f.getFrameSize
        if (frameSize <= 0) return None // AudioSystem.NOT_SPECIFIED = -1
        val n = bytes.length / frameSize
        val out = new Array[Int](n)
        var i = 0
        if (f.getSampleSizeInBits == 16) {
          val (lo, hi) = if (f.isBigEndian) (1, 0) else (0, 1)
          while (i < n) { // channel 0 = first sample of the frame
            out(i) = ((bytes(i * frameSize + hi) << 8) |
                      (bytes(i * frameSize + lo) & 0xFF)).toShort.toInt
            i += 1
          }
        } else {
          while (i < n) { out(i) = (bytes(i * frameSize) & 0xFF) - 128; i += 1 }
        }
        Some(Pcm(math.round(f.getSampleRate), out))
      } catch {
        // the JDK's RIFF header parser throws unchecked exceptions on some
        // malformed payloads (index/negative-size errors) — any decode
        // failure means "not decodable audio", never a crashed task
        case scala.util.control.NonFatal(_) => None
      }
    }

    /** Encode mono 16-bit signed PCM as WAV bytes (deterministic — the
      * JDK writer emits a plain RIFF/fmt/data layout). */
    def encodeWavPcm16(samples: Array[Int], sampleRate: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val bytes = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        val s = samples(i)
        require(s >= Short.MinValue && s <= Short.MaxValue,
          s"sample $s out of 16-bit range")
        bytes(2 * i) = (s & 0xFF).toByte
        bytes(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(bytes), fmt, samples.length.toLong)
      val out = new ByteArrayOutputStream(bytes.length + 64)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    /** Encode raw G.711 code bytes (one byte per mono sample) as a μ-law
      * or A-law WAV — the container telephone-band corpora ship in
      * (WAVE_FORMAT_MULAW/ALAW). Deterministic bytes: the JDK WAVE writer
      * passes code bytes through untouched. */
    def encodeWavG711(codes: Array[Byte], sampleRate: Int,
                      aLaw: Boolean): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(
        if (aLaw) ALAW else ULAW, sampleRate.toFloat, 8, 1, 1,
        sampleRate.toFloat, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(codes), fmt, codes.length.toLong)
      val out = new ByteArrayOutputStream(codes.length + 64)
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    /** Scalar features of a decoded payload: all integer or
      * exactly-computed doubles (sqrt of an exact integer ratio), so an
      * independent engine recomputing them from the sample definition gets
      * bit-identical values. */
    final case class AudioFeatures(sampleRate: Int, nSamples: Long,
                                   durationSec: Double, rms: Double,
                                   peak: Long, zeroCrossings: Long)

    def features(pcm: Pcm): AudioFeatures = {
      var sumSq = 0L
      var peak = 0L
      var zc = 0L
      var i = 0
      val s = pcm.samples
      while (i < s.length) {
        val v = s(i).toLong
        sumSq += v * v
        if (math.abs(v) > peak) peak = math.abs(v)
        if (i > 0 && ((s(i - 1) >= 0) != (s(i) >= 0))) zc += 1
        i += 1
      }
      val n = s.length.toLong
      AudioFeatures(pcm.sampleRate, n,
        n.toDouble / pcm.sampleRate,
        if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n),
        peak, zc)
    }
  }

  /** Real video-frame codec on the JDK's animated-GIF ImageIO support —
    * the one multi-frame container the JVM decodes without native libs.
    * 8-bit gray frames round-trip losslessly (a 256-entry gray palette).
    * Containers the JDK cannot read (mp4/webm/…) fall back to the
    * declared [[FakeCodec]] stub. */
  object VideoCodec {
    ImageIoStreams.init()

    /** Encode gray frames (row-major, all w×h) as an animated GIF. */
    def encodeAnimatedGifGray(frames: Seq[Array[Byte]], width: Int,
                              height: Int): Array[Byte] = {
      require(frames.nonEmpty, "need at least one frame")
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      val bos = new ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        require(f.length == width * height, "frame size != w*h")
        val img = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        img.getRaster.setDataElements(0, 0, width, height, f)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      ios.close(); writer.dispose()
      bos.toByteArray
    }

    /** Per-frame (left, top) offset from the GIF image descriptor — GIF
      * optimizers store later frames as changed-region patches positioned
      * on the logical screen, NOT full frames. */
    private def frameOffset(reader: javax.imageio.ImageReader,
                            i: Int): (Int, Int) =
      try {
        val fmt = "javax_imageio_gif_image_1.0"
        val md = reader.getImageMetadata(i)
        if (md == null || !md.getMetadataFormatNames.contains(fmt)) (0, 0)
        else {
          val root = md.getAsTree(fmt).asInstanceOf[org.w3c.dom.Element]
          val nodes = root.getElementsByTagName("ImageDescriptor")
          if (nodes.getLength == 0) (0, 0)
          else {
            val e = nodes.item(0).asInstanceOf[org.w3c.dom.Element]
            (e.getAttribute("imageLeftPosition").toInt,
             e.getAttribute("imageTopPosition").toInt)
          }
        }
      } catch { case scala.util.control.NonFatal(_) => (0, 0) }

    /** Decode every frame COMPOSITED onto the logical screen: delta-
      * encoded GIFs (later frames = offset sub-rectangle patches) render
      * each patch over the previous state, so per-frame features always
      * see the full picture, not the patch. Disposal modes are treated as
      * do-not-dispose — correct for the overwhelmingly common case and
      * never wrong by more than the disposed background. Empty when the
      * payload is not a readable image container. */
    def decodeFrames(payload: Array[Byte]): Seq[java.awt.image.BufferedImage] = {
      if (payload == null) return Seq.empty
      val iis =
        try javax.imageio.ImageIO.createImageInputStream(
          new ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => return Seq.empty }
      var reader: javax.imageio.ImageReader = null
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return Seq.empty
        reader = readers.next()
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        var canvas: java.awt.image.BufferedImage = null
        (0 until n).map { i =>
          val img = reader.read(i)
          val (ox, oy) = frameOffset(reader, i)
          val needW = ox + img.getWidth
          val needH = oy + img.getHeight
          if (canvas == null ||
              needW > canvas.getWidth || needH > canvas.getHeight) {
            val w = math.max(Option(canvas).map(_.getWidth).getOrElse(0), needW)
            val h = math.max(Option(canvas).map(_.getHeight).getOrElse(0), needH)
            val grown = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            if (canvas != null) {
              val g = grown.createGraphics()
              g.drawImage(canvas, 0, 0, null); g.dispose()
            }
            canvas = grown
          }
          val g = canvas.createGraphics()
          g.drawImage(img, ox, oy, null)
          g.dispose()
          val copy = new java.awt.image.BufferedImage(canvas.getWidth,
            canvas.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g2 = copy.createGraphics()
          g2.drawImage(canvas, 0, 0, null); g2.dispose()
          copy
        }
      } catch { case scala.util.control.NonFatal(_) => Seq.empty }
      finally {
        if (reader != null) reader.dispose() // also on the exception path
        iis.close()
      }
    }
  }

  /** The RIFF 'AVI ' container of [[AviCodec]] (DIB) and [[MjpegCodec]]
    * (MJPG): one writer and one chunk walker. The two codecs differ only
    * in stream handler, bit depth, compression, palette, frame chunk id
    * and frame bodies. */
  private object Riff {
    private def le32(out: ByteArrayOutputStream, v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    private def le16(out: ByteArrayOutputStream, v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    }
    private def fourcc(out: ByteArrayOutputStream, s: String): Unit =
      out.write(s.getBytes("US-ASCII"), 0, 4)

    private def chunk(id: String)(body: ByteArrayOutputStream => Unit)
        : Array[Byte] = {
      val b = new ByteArrayOutputStream()
      body(b)
      val payload = b.toByteArray
      val out = new ByteArrayOutputStream()
      fourcc(out, id); le32(out, payload.length)
      out.write(payload, 0, payload.length)
      if (payload.length % 2 == 1) out.write(0) // RIFF word alignment
      out.toByteArray
    }
    private def list(kind: String)(parts: Array[Byte]*): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      fourcc(out, "LIST")
      le32(out, 4 + parts.map(_.length).sum)
      fourcc(out, kind)
      parts.foreach(p => out.write(p, 0, p.length))
      out.toByteArray
    }

    /** RIFF('AVI ') → LIST hdrl (avih, LIST strl (strh 'vids'/`handler`,
      * strf BITMAPINFOHEADER + `palette`)) → LIST movi (one `chunkId`
      * chunk per frame body) → idx1, every frame a keyframe. The
      * suggested buffer size is the largest body. Deterministic bytes. */
    def writeAvi(handler: String, bitCount: Int, compression: Int,
                 palette: Array[Byte], chunkId: String, width: Int,
                 height: Int, fps: Int, bodies: Seq[Array[Byte]])
        : Array[Byte] = {
      val bufSize = bodies.map(_.length).max
      val avih = chunk("avih") { b =>
        le32(b, 1000000 / fps)        // dwMicroSecPerFrame
        le32(b, bufSize * fps)        // dwMaxBytesPerSec
        le32(b, 0)                    // dwPaddingGranularity
        le32(b, 0x10)                 // dwFlags: AVIF_HASINDEX
        le32(b, bodies.length)        // dwTotalFrames
        le32(b, 0)                    // dwInitialFrames
        le32(b, 1)                    // dwStreams
        le32(b, bufSize)              // dwSuggestedBufferSize
        le32(b, width); le32(b, height)
        (0 until 4).foreach(_ => le32(b, 0)) // dwReserved
      }
      val strh = chunk("strh") { b =>
        fourcc(b, "vids"); fourcc(b, handler)
        le32(b, 0)                    // dwFlags
        le16(b, 0); le16(b, 0)        // wPriority, wLanguage
        le32(b, 0)                    // dwInitialFrames
        le32(b, 1); le32(b, fps)      // dwScale / dwRate = frame rate
        le32(b, 0)                    // dwStart
        le32(b, bodies.length)        // dwLength
        le32(b, bufSize)              // dwSuggestedBufferSize
        le32(b, -1)                   // dwQuality (default)
        le32(b, 0)                    // dwSampleSize
        le16(b, 0); le16(b, 0); le16(b, width); le16(b, height) // rcFrame
      }
      val strf = chunk("strf") { b =>
        le32(b, 40)                   // biSize
        le32(b, width); le32(b, height)
        le16(b, 1); le16(b, bitCount) // biPlanes, biBitCount
        le32(b, compression)          // biCompression
        le32(b, bufSize)              // biSizeImage
        le32(b, 0); le32(b, 0)        // ppm
        le32(b, palette.length / 4); le32(b, 0) // biClrUsed, biClrImportant
        b.write(palette, 0, palette.length)
      }
      val frameChunks = bodies.map(f => chunk(chunkId)(_.write(f, 0, f.length)))
      val movi = list("movi")(frameChunks: _*)
      val idx1 = chunk("idx1") { b =>
        var off = 4                   // offsets relative to 'movi' fourcc
        frameChunks.foreach { fc =>
          fourcc(b, chunkId); le32(b, 0x10) // AVIIF_KEYFRAME
          le32(b, off); le32(b, fc.length - 8)
          off += fc.length
        }
      }
      val hdrl = list("hdrl")(avih, list("strl")(strh, strf))
      val out = new ByteArrayOutputStream()
      fourcc(out, "RIFF")
      le32(out, 4 + hdrl.length + movi.length + idx1.length)
      fourcc(out, "AVI ")
      out.write(hdrl, 0, hdrl.length)
      out.write(movi, 0, movi.length)
      out.write(idx1, 0, idx1.length)
      out.toByteArray
    }

    /** The avih frame rate and strf BITMAPINFOHEADER fields a decoder
      * reads; -1 until the walk meets them. */
    final class Header {
      var fps = -1; var width = -1; var height = -1
      var bits = -1; var compression = -1
    }

    /** Walk a RIFF 'AVI ' payload: LIST chunks recurse into their body,
      * avih and strf fill the [[Header]], each `frameId` chunk goes to
      * `frame(header, bodyStart, size)`, and other chunks are skipped
      * (word-aligned). A malformed size ends the walk. None when the
      * payload is not RIFF 'AVI ' or the walk throws — a probe, never a
      * crash. */
    def readAvi(payload: Array[Byte], frameId: String)(
        frame: (Header, Int, Int) => Unit): Option[Header] = {
      if (payload == null || payload.length < 24) return None
      val bb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
      def cc(pos: Int): String = new String(payload, pos, 4, "US-ASCII")
      if (cc(0) != "RIFF" || cc(8) != "AVI ") return None
      val h = new Header
      def walk(from: Int, to: Int): Unit = {
        var pos = from
        while (pos + 8 <= to) {
          val id = cc(pos)
          val size = bb.getInt(pos + 4)
          if (size < 0 || pos + 8 + size > to) return // malformed: stop
          if (id == "LIST") walk(pos + 12, pos + 8 + size)
          else if (id == "avih" && size >= 32) {
            val usPerFrame = bb.getInt(pos + 8)
            if (usPerFrame > 0) h.fps = 1000000 / usPerFrame
          } else if (id == "strf" && size >= 40) {
            h.width = bb.getInt(pos + 12)
            h.height = bb.getInt(pos + 16)
            h.bits = bb.getShort(pos + 22).toInt
            h.compression = bb.getInt(pos + 24)
          } else if (id == frameId) frame(h, pos + 8, size)
          pos += 8 + size + (size & 1)
        }
      }
      try walk(12, math.min(payload.length, 8 + bb.getInt(4)))
      catch { case scala.util.control.NonFatal(_) => return None }
      Some(h)
    }
  }

  /** Pure-JVM AVI (RIFF) container codec for uncompressed 8-bit DIB
    * video — full FRAME decode, not just a metadata probe: the third
    * real video path next to animated GIF (decode) and mp4/webm
    * (probers). Uncompressed AVI is what scientific capture rigs and
    * `ffmpeg -c:v rawvideo` emit, and RIFF is a length-prefixed chunk
    * walk — no entropy coding, so a standalone engine can own the whole
    * format.
    *
    * Writer: RIFF('AVI ') → LIST hdrl (avih, LIST strl (strh
    * 'vids'/'DIB ', strf BITMAPINFOHEADER biBitCount=8 + 256-entry gray
    * palette)) → LIST movi ('00db' raw frames, bottom-up rows padded to
    * 4-byte stride) → idx1. Deterministic bytes. Reader: chunk walk that
    * validates fourccs and sizes, reads dimensions/fps from the headers,
    * and de-pads + flips each '00db' frame back to row-major gray.
    * Gray-8 round-trips losslessly. */
  object AviCodec {
    final case class Avi(width: Int, height: Int, fps: Int,
                         frames: Seq[Array[Byte]])

    private def stride(width: Int): Int = (width + 3) / 4 * 4

    /** Encode row-major gray frames as an uncompressed 8-bit DIB AVI. */
    def encodeAviGray(frames: Seq[Array[Byte]], width: Int, height: Int,
                      fps: Int = 10): Array[Byte] = {
      require(frames.nonEmpty, "need at least one frame")
      require(fps > 0, s"fps must be positive: $fps")
      frames.foreach(f => require(f.length == width * height,
        "frame size != w*h"))
      val pad = stride(width)
      // gray RGBQUAD palette (b, g, r, 0)
      val palette = Array.tabulate[Byte](1024)(i =>
        if (i % 4 == 3) 0 else (i / 4).toByte)
      Riff.writeAvi("DIB ", bitCount = 8, compression = 0, palette, "00db",
        width, height, fps, frames.map { f =>
          val b = new ByteArrayOutputStream(pad * height)
          var y = height - 1          // DIB rows are bottom-up
          while (y >= 0) {
            b.write(f, y * width, width)
            var p = width
            while (p < pad) { b.write(0); p += 1 }
            y -= 1
          }
          b.toByteArray
        })
    }

    /** Decode an uncompressed 8-bit DIB AVI to row-major gray frames.
      * None when the payload is not such an AVI (other containers, other
      * bit depths, compressed streams — a probe, never a crash). */
    def decodeAviGray(payload: Array[Byte]): Option[Avi] = {
      val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      Riff.readAvi(payload, "00db") { (h, at, size) =>
        val (w, pad) = (h.width, stride(h.width))
        if (w > 0 && h.height > 0 && size >= pad * h.height) {
          val f = new Array[Byte](w * h.height)
          var y = 0
          while (y < h.height) {
            System.arraycopy(payload, at + (h.height - 1 - y) * pad,
              f, y * w, w)
            y += 1
          }
          frames += f
        }
      }.filter(h => h.width > 0 && h.height > 0 && h.bits == 8 &&
          h.compression == 0 && h.fps > 0 && frames.nonEmpty)
        .map(h => Avi(h.width, h.height, h.fps, frames.toSeq))
    }
  }

  /** Motion-JPEG sibling of [[AviCodec]] — the FIRST compressed video
    * codec the engine decodes for real, because the JDK already ships a
    * JPEG codec (javax.imageio): an MJPEG AVI is the same RIFF walk
    * with `MJPG` as the stream handler and each `00dc` chunk a complete
    * baseline JPEG. Capture hardware, webcams and ffmpeg's `-c:v mjpeg`
    * emit exactly this. Narrows the [[FakeCodec]] boundary to codecs
    * the JVM genuinely lacks (H.264/VP9).
    *
    * Writer: gray frames → per-frame JPEG at compressionQuality 1.0
    * (all-ones quantization) → `00dc` chunks in the [[AviCodec]]
    * container layout with biCompression = 'MJPG'. Reader: RIFF walk →
    * ImageIO decode per chunk → row-major gray.
    *
    * Determinism note: JPEG is lossy in general, but a FLAT 8×8 block
    * is DC-only — every AC coefficient is exactly zero and the DC
    * quantizer is 1 at quality 1.0 — so single-valued frames round-trip
    * EXACTLY (MjpegSpec asserts it, and x102's closed-form oracle
    * depends on it); textured frames round-trip within the usual ±few
    * gray levels. */
  object MjpegCodec {
    ImageIoStreams.init()

    /** 'MJPG' as the little-endian biCompression dword. */
    val MJPG: Int = 0x47504A4D

    /** One gray frame → baseline JPEG bytes at quality 1.0. */
    def jpegEncodeGray(gray: Array[Byte], w: Int, h: Int): Array[Byte] = {
      require(gray.length == w * h, "frame size != w*h")
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, gray)
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      val bos = new ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
      bos.toByteArray
    }

    /** JPEG bytes → (row-major gray, w, h); None on undecodable bytes.
      * Non-gray sources convert by the integer Rec.601 luma
      * `(299r + 587g + 114b + 500) / 1000` — deterministic, no AWT
      * color-management path. */
    def jpegDecodeGray(bytes: Array[Byte]): Option[(Array[Byte], Int, Int)] =
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val out = new Array[Byte](w * h)
          if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
            img.getRaster.getDataElements(0, 0, w, h, out)
          } else {
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val r = (rgb >> 16) & 0xFF
                val g = (rgb >> 8) & 0xFF
                val b = rgb & 0xFF
                out(y * w + x) = ((299 * r + 587 * g + 114 * b + 500) / 1000).toByte
                x += 1
              }
              y += 1
            }
          }
          Some((out, w, h))
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Encode gray frames as an MJPEG AVI ('MJPG' handler, `00dc`
      * JPEG chunks) — the [[AviCodec]] container layout. */
    def encodeAviMjpeg(frames: Seq[Array[Byte]], width: Int, height: Int,
                       fps: Int = 10): Array[Byte] = {
      require(frames.nonEmpty, "need at least one frame")
      require(fps > 0, s"fps must be positive: $fps")
      // MJPEG decodes to 24-bit
      Riff.writeAvi("MJPG", bitCount = 24, compression = MJPG,
        palette = Array.emptyByteArray, "00dc", width, height, fps,
        frames.map(jpegEncodeGray(_, width, height)))
    }

    /** Decode an MJPEG AVI to row-major gray frames; None for other
      * containers/codecs (the [[AviCodec.decodeAviGray]] probe
      * contract — never a crash). */
    def decodeAviMjpeg(payload: Array[Byte]): Option[AviCodec.Avi] = {
      var width = -1; var height = -1
      val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      Riff.readAvi(payload, "00dc") { (_, at, size) =>
        if (size > 0)
          jpegDecodeGray(java.util.Arrays.copyOfRange(payload, at, at + size))
            .foreach { case (f, w, h) =>
              if (width < 0) { width = w; height = h }
              if (w == width && h == height) frames += f
            }
      }.filter(h => h.compression == MJPG && width > 0 && h.fps > 0 &&
          frames.nonEmpty)
        .map(h => AviCodec.Avi(width, height, h.fps, frames.toSeq))
    }
  }

  /** MJPEG video table from documents: each doc gets a REAL MJPEG AVI of
    * `nFrames` FLAT 8×8 frames, frame k uniformly
    * `(doc_id·13 + k·29) mod 256` — flat blocks are DC-only, so the
    * JPEG layer is exact (see [[MjpegCodec]]) and per-frame luminance is
    * closed-form for the oracle, while the engine runs the full
    * container walk + entropy decode. */
  def mjpegFromDocs(docs: DataFrame, nFrames: Int = 4): DataFrame = {
    val aviUdf = udf((docId: Long) => {
      val frames = (0 until nFrames).map { k =>
        Array.fill[Byte](64)(((docId * 13 + k * 29) % 256).toByte)
      }
      MjpegCodec.encodeAviMjpeg(frames, 8, 8, fps = 10)
    })
    mediaTable(spreadNarrowInput(docs.select(col("doc_id"))),
      aviUdf(col("doc_id")), "video", "video/x-msvideo",
      width = Some(8), height = Some(8), nFrames = Some(nFrames))
  }

  /** [[sampleAviFrames]] with the MJPEG decoder: every `everyNth`
    * decoded frame → (media_id, frame_idx, mean_lum); mapPartitions,
    * no shuffle, non-MJPEG payloads drop. */
  def sampleMjpegFrames(media: DataFrame, everyNth: Int): DataFrame =
    sampleGrayFrames(media, everyNth)(p =>
      MjpegCodec.decodeAviMjpeg(p).toSeq.flatMap(_.frames))(Some(_))

  /** Motion-JPEG-in-MP4 table from documents — the ISO-BMFF twin of
    * [[mjpegFromDocs]]: each doc gets a REAL MP4 whose 'jpeg' sample
    * track carries `nFrames` FLAT 8×8 baseline JPEGs (frame k
    * uniformly `(doc_id·13 + k·29) mod 256` — DC-only, so the JPEG
    * layer is exact and per-frame luminance is closed-form for the
    * oracle) behind a full stts/stsc/stsz/stco sample table. This is
    * the one compressed-video MP4 profile whose PIXELS decode for
    * real in a pure JVM — the documented FakeCodec boundary stays
    * only for H.264/VP9/AAC. */
  def mp4JpegFromDocs(docs: DataFrame, nFrames: Int = 4): DataFrame = {
    val mp4Udf = udf((docId: Long) => {
      val jpegs = (0 until nFrames).map { k =>
        MjpegCodec.jpegEncodeGray(
          Array.fill[Byte](64)(((docId * 13 + k * 29) % 256).toByte), 8, 8)
      }
      Mp4Probe.encodeMp4Jpeg(jpegs, 8, 8)
    })
    mediaTable(spreadNarrowInput(docs.select(col("doc_id"))),
      mp4Udf(col("doc_id")), "video", "video/mp4",
      width = Some(8), height = Some(8), nFrames = Some(nFrames))
  }

  /** [[sampleMjpegFrames]] for the MP4 container: demux the 'jpeg'
    * sample track ([[Mp4Probe.jpegSamples]] — the real stsc/stsz/stco
    * walk), decode every `everyNth` sample, emit (media_id, frame_idx,
    * mean_lum). mapPartitions, no shuffle; non-MP4 / non-jpeg-track
    * payloads drop. */
  def sampleMp4JpegFrames(media: DataFrame, everyNth: Int): DataFrame =
    sampleGrayFrames(media, everyNth)(Mp4Probe.jpegSamples)(
      MjpegCodec.jpegDecodeGray(_).map(_._1))

  /** IMAGE-TEXT WebDataset shards — the LAION-style sample triple a
    * contrastive-training job consumes: per document, `{key}.jpg` (a
    * REAL baseline JPEG — the flat 8×8 frame `(doc_id·7 + 13) % 256`,
    * DC-exact so the pixel layer is closed-form), `{key}.txt` (the
    * caption) and `{key}.json` (metadata), packed doc_id-ordered into
    * `doc_id % nShards` tar shards via [[graft.sources.Tar.write]].
    * The image twin of [[graft.sources.Tar.webdatasetFromDocs]]: x95
    * proved the txt/json sample plumbing; this adds the binary member
    * a multimodal shard actually exists for. One shard = one blob
    * built inside its task — nothing pixel-level rides an exchange. */
  def webdatasetImagesFromDocs(docs: DataFrame, nShards: Int = 8)
      : DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val mk = udf((rows: Seq[Row]) =>
      graft.sources.Tar.write(rows.flatMap { r =>
        val id = r.getLong(0)
        val jpg = MjpegCodec.jpegEncodeGray(
          Array.fill[Byte](64)(((id * 7 + 13) % 256).toByte), 8, 8)
        val json = s"""{"doc_id":$id,"width":8,"height":8}"""
        Seq(s"$id.jpg" -> jpg,
          s"$id.txt" -> r.getString(1)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          s"$id.json" -> json
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }))
    docs
      .groupBy((col("doc_id") % nShards).as("shard"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
        .as("recs"))
      .select(col("shard").cast("string").as("archive"),
        mk(col("recs")).as("content"))
  }

  /** Pack an ALREADY-CURATED media table `(media_id, payload, text)`
    * into image-text WebDataset shards: `{key}.{imgExt}` carries the
    * payload VERBATIM (whatever codec produced it — the export is a
    * byte mover, never a re-encoder), plus `{key}.txt` caption and
    * `{key}.json`. The terminal step of a multimodal corpus build:
    * gates and dedup run upstream on the media table, survivors land
    * here. */
  def webdatasetFromMedia(media: DataFrame, imgExt: String = "png",
                          nShards: Int = 8): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val mk = udf((rows: Seq[Row]) =>
      graft.sources.Tar.write(rows.flatMap { r =>
        val id = r.getLong(0)
        Seq(s"$id.$imgExt" -> r.getAs[Array[Byte]](1),
          s"$id.txt" -> r.getString(2)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          s"$id.json" -> s"""{"media_id":$id}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }))
    media
      .groupBy((col("media_id") % nShards).as("shard"))
      .agg(sort_array(collect_list(struct(
        col("media_id"), col("payload"), col("text")))).as("recs"))
      .select(col("shard").cast("string").as("archive"),
        mk(col("recs")).as("content"))
  }

  /** Decode the `.{imgExt}` member of each WebDataset sample and pair
    * it with its caption: (media_id, width, height, mean_lum,
    * caption_chars). mapPartitions over the sample rows
    * ([[graft.sources.Tar.webdatasetSamples]] output) — no shuffle;
    * samples missing either member, or with undecodable image bytes,
    * drop (the probe contract). */
  def webdatasetImageStats(samples: DataFrame, imgExt: String = "jpg")
      : DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("mean_lum", DoubleType, nullable = false),
      StructField("caption_chars", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    samples.select("key", "parts").mapPartitions { it =>
      it.flatMap { r =>
        val parts = r.getAs[Map[String, Array[Byte]]](1)
        for {
          id <- scala.util.Try(r.getString(0).toLong).toOption
          img <- parts.get(imgExt)
          txt <- parts.get("txt")
          (f, w, h) <- MjpegCodec.jpegDecodeGray(img)
        } yield Row(id, w, h, meanLum(f),
          new String(txt, java.nio.charset.StandardCharsets.UTF_8).length)
      }
    }(enc)
  }

  /** Build an AVI video table from documents: each doc gets a REAL
    * uncompressed-DIB AVI whose 8×8 gray frames follow a closed integer
    * formula — pixel i of frame k = `(doc_id·11 + k·17 + i·5) mod 241` —
    * so sampled-frame features are oracle-checkable end-to-end through
    * the container walk (the AVI twin of the x19 GIF path). */
  def aviFromDocs(docs: DataFrame, nFrames: Int = 4): DataFrame = {
    val aviUdf = udf((docId: Long) => {
      val frames = (0 until nFrames).map { k =>
        Array.tabulate(64)(i =>
          ((docId * 11 + k * 17 + i * 5) % 241).toByte)
      }
      AviCodec.encodeAviGray(frames, 8, 8, fps = 10)
    })
    // NOT spread: a probe input (see mediaTable)
    mediaTable(docs, aviUdf(col("doc_id")), "video", "video/x-msvideo",
      width = Some(8), height = Some(8), nFrames = Some(nFrames))
  }

  /** Temporal frame sampling over REAL decoded AVI frames: every
    * `everyNth` frame → (media_id, frame_idx, mean_lum). The exact
    * shape of [[sampleVideoFrames]] with the RIFF walk as the decoder;
    * mapPartitions, no shuffle, non-AVI payloads drop. */
  def sampleAviFrames(media: DataFrame, everyNth: Int): DataFrame =
    sampleGrayFrames(media, everyNth)(p =>
      AviCodec.decodeAviGray(p).toSeq.flatMap(_.frames))(Some(_))

  /** STUB codec for media the JVM cannot decode (non-GIF video
    * containers; arbitrary bytes). Deterministic and clearly declared —
    * real mp4/webm decode needs native codecs this container doesn't
    * ship. */
  object FakeCodec {
    /** Byte histogram over 16 buckets, L1-normalized. */
    def decodeFeatures(payload: Array[Byte]): Array[Float] = {
      val h = new Array[Float](16)
      if (payload != null) {
        payload.foreach(b => h((b & 0xFF) >> 4) += 1f)
        val n = math.max(1f, payload.length.toFloat)
        var i = 0
        while (i < 16) { h(i) /= n; i += 1 }
      }
      h
    }

    /** "Resize" = truncate/pad payload to size. */
    def resize(payload: Array[Byte], size: Int): Array[Byte] =
      if (payload == null) null
      else java.util.Arrays.copyOf(payload, size)

    /** "Frame sample" = every nth 256-byte block as a frame payload. */
    def sampleFrames(payload: Array[Byte], everyNth: Int): Seq[Array[Byte]] =
      if (payload == null) Seq.empty
      else payload.grouped(256).zipWithIndex
        .collect { case (b, i) if i % everyNth == 0 => b }.toSeq
  }

  /** Build a media table from documents: each doc's first 64 UTF-8 bytes
    * (zero-padded) become an 8×8 grayscale PNG — REAL image payloads with
    * a closed-form pixel definition, so decoded-feature queries are
    * oracle-checkable. In production payloads arrive from object storage. */
  def mediaFromDocs(docs: DataFrame): DataFrame = {
    val pngUdf = udf((text: String) => {
      val bs = if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
      val px = Array.tabulate(64)(i => if (i < bs.length) bs(i) else 0: Byte)
      ImageCodec.encodeGrayPng(px, 8, 8)
    })
    mediaTable(spreadNarrowInput(docs.select(col("doc_id"), col("text"))),
      pngUdf(col("text")), "image", "image/png",
      width = Some(8), height = Some(8))
  }

  /** Build an audio table from documents: each doc gets a REAL WAV payload
    * whose 16-bit PCM samples follow a closed integer formula of
    * (doc_id, i) — `((doc_id*31 + i*7) mod 2048) − 1024`, `n = 400 +
    * (doc_id mod 32)·8`, 8 kHz — so decoded-feature queries are
    * oracle-checkable end-to-end through the codec, like the x14 image
    * path. In production payloads arrive from object storage. */
  def audioFromDocs(docs: DataFrame): DataFrame = {
    val wavUdf = udf((docId: Long) => {
      val n = 400 + (docId % 32).toInt * 8
      val samples = Array.tabulate(n)(i =>
        ((docId * 31 + i.toLong * 7) % 2048).toInt - 1024)
      AudioCodec.encodeWavPcm16(samples, 8000)
    })
    // NOT spread: a WAV input (see mediaTable)
    mediaTable(docs, wavUdf(col("doc_id")), "audio", "audio/wav",
      sampleRate = Some(8000))
  }

  /** Build a telephone-band audio table from documents: each doc gets a
    * REAL G.711 WAV (A-law for odd doc_id, μ-law for even) whose code
    * BYTES follow a closed formula — `(doc_id·31 + i·17) mod 256`,
    * `n = 240 + (doc_id mod 16)·8`, 8 kHz — so decoded-feature queries
    * are oracle-checkable end-to-end through the JDK's G.711 expansion
    * (the spec table is SQL-expressible, see the x46 oracle). */
  def g711FromDocs(docs: DataFrame): DataFrame = {
    val wavUdf = udf((docId: Long) => {
      val n = 240 + (docId % 16).toInt * 8
      val codes = Array.tabulate(n)(i =>
        ((docId * 31 + i.toLong * 17) % 256).toByte)
      AudioCodec.encodeWavG711(codes, 8000, aLaw = docId % 2 == 1)
    })
    // NOT spread: a WAV input (see mediaTable)
    mediaTable(docs, wavUdf(col("doc_id")), "audio", "audio/wav",
      sampleRate = Some(8000))
  }

  /** Audio feature extraction over payload batches — decodes REAL WAV via
    * the JDK sampled API inside mapPartitions (per-task codec init, no
    * shuffle). Rows whose payload is not decodable WAV are dropped —
    * their features would be meaningless. */
  def extractAudioFeatures(media: DataFrame): DataFrame =
    payloadPass(media, "sample_rate" -> IntegerType, "n_samples" -> LongType,
        "duration_sec" -> DoubleType, "rms" -> DoubleType,
        "peak" -> LongType, "zero_crossings" -> LongType) { (id, payload) =>
      AudioCodec.decodeWav(payload).map { pcm =>
        val f = AudioCodec.features(pcm)
        Row(id, f.sampleRate, f.nSamples, f.durationSec, f.rms, f.peak,
          f.zeroCrossings)
      }
    }

  /** Build a video table from documents: each doc gets a REAL 4-frame
    * animated GIF whose 8×8 gray frames follow a closed integer formula —
    * pixel i of frame k = `(doc_id·7 + k·13 + i·3) mod 251` — so sampled-
    * frame features are oracle-checkable end-to-end through the codec
    * (the video twin of x14/x18). */
  def videoFromDocs(docs: DataFrame, nFrames: Int = 4): DataFrame = {
    val gifUdf = udf((docId: Long) => {
      val frames = (0 until nFrames).map { k =>
        Array.tabulate(64)(i =>
          ((docId * 7 + k * 13 + i * 3) % 251).toByte)
      }
      VideoCodec.encodeAnimatedGifGray(frames, 8, 8)
    })
    mediaTable(spreadNarrowInput(docs.select(col("doc_id"))),
      gifUdf(col("doc_id")), "video", "image/gif",
      width = Some(8), height = Some(8), nFrames = Some(nFrames))
  }

  /** Temporal frame sampling + per-frame features over REAL decoded
    * frames: every `everyNth` frame → (media_id, frame_idx, mean_lum).
    * mapPartitions (per-task codec init); undecodable payloads drop. */
  def sampleVideoFrames(media: DataFrame, everyNth: Int): DataFrame =
    sampleGrayFrames(media, everyNth)(VideoCodec.decodeFrames)(img =>
      Some(ImageCodec.gray8(img)))

  /** Feature extraction over payload batches — mapPartitions so per-task
    * codec init happens once. Output: (media_id, features array<float>). */
  def extractFeatures(media: DataFrame): DataFrame =
    payloadPass(media, "features" -> ArrayType(FloatType)) { (id, payload) =>
      Some(Row(id, ImageCodec.decodeFeatures(payload).toSeq))
    }

  /** Perceptual image hashes over REAL decoded pixels — the image-dedup
    * primitive (a training corpus carries the same photo re-encoded,
    * resized, or re-compressed thousands of times; byte-level dedup sees
    * none of that, pixel-level hashes do). Each payload decodes through
    * ImageIO, is nearest-neighbor resampled to the canonical 8×8
    * luminance grid (integer index math, deterministic), and yields
    *
    *  - aHash: bit i set iff pixel_i·64 > Σ pixels — strictly above the
    *    mean, compared in exact integer arithmetic (no float mean), split
    *    into two unsigned 32-bit halves `ahash_hi`/`ahash_lo` so both
    *    values stay positive BIGINTs;
    *  - dHash: bit y·7+x set iff pixel(y,x+1) > pixel(y,x) — 56 row
    *    gradient-sign bits in one positive long, robust to global
    *    brightness shifts the way aHash is not.
    *
    * mapPartitions (per-task codec init), no shuffle; undecodable
    * payloads drop. At 100 TB this is a narrow pass over the payload
    * column chunk — the expensive part is the decode, and it runs exactly
    * once per image with both hashes extracted from one pixel pass. */
  def imageHashes(media: DataFrame): DataFrame =
    payloadPass(media, "ahash_hi" -> LongType, "ahash_lo" -> LongType,
        "dhash" -> LongType) { (id, payload) =>
      ImageCodec.decode(payload).map { img =>
        val pix = Array.tabulate(64) { i =>
          ImageCodec.lum8(img, (i % 8) * img.getWidth / 8,
                               (i / 8) * img.getHeight / 8)
        }
        val sum = pix.sum
        var hi = 0L
        var lo = 0L
        var i = 0
        while (i < 64) {
          if (pix(i) * 64 > sum) {
            if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
          }
          i += 1
        }
        var dh = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 7) {
            if (pix(y * 8 + x + 1) > pix(y * 8 + x)) dh |= 1L << (y * 7 + x)
            x += 1
          }
          y += 1
        }
        Row(id, hi, lo, dh)
      }
    }

  /** Near-duplicate image pairs by Hamming distance over the aHash.
    * Reuses the proven simhash machinery ([[graft.ext.Dedup
    * .simhashNearDupsFromFp]]): the reassembled 64-bit hash blocks into
    * four 16-bit bands (pigeonhole: ≤3 flipped bits leave ≥1 band clean,
    * so candidates come from band-keyed equi-joins — never an all-pairs
    * product), and the exact popcount verify runs only on bucket
    * collisions. Output: (media_a, media_b, dist), dist ≤ maxDist.
    *
    * The decode is the dominant cost and the banding self-join has two
    * consumers of the hash table — the explicit repartition makes both
    * sides read the SAME exchange (ReuseExchange, the
    * [[graft.ext.Dedup.minhashVerifiedDups]] discipline), so every image
    * decodes exactly once; the extra shuffle carries 16-byte rows. */
  def imageNearDups(hashes: DataFrame, maxDist: Int = 3): DataFrame =
    Dedup.simhashNearDupsFromFp(
      hashes.select(col("media_id").as("doc_id"),
        shiftleft(col("ahash_hi"), 32).bitwiseOR(col("ahash_lo"))
          .as("simhash"))
        .repartition(col("doc_id")),
      maxDist)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
              col("dist"))

  /** Build a text-derived audio table: each doc's first `n` UTF-8 bytes
    * (zero-padded) become the 16-bit PCM samples of a REAL WAV — the
    * audio twin of [[mediaFromDocs]]'s closed-form pixel definition, so
    * fingerprint queries are oracle-checkable end-to-end through the
    * codec, and duplicate documents yield byte-identical audio. */
  def audioFromTextDocs(docs: DataFrame, n: Int = 200): DataFrame = {
    val wavUdf = udf((text: String) => {
      val bs = if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
      val samples = Array.tabulate(n)(i =>
        if (i < bs.length) bs(i) & 0xFF else 0)
      AudioCodec.encodeWavPcm16(samples, 8000)
    })
    // NOT spread: a WAV input (see mediaTable)
    mediaTable(docs, wavUdf(col("text")), "audio", "audio/wav",
      sampleRate = Some(8000))
  }

  /** Acoustic fingerprints over REAL decoded PCM — the audio-dedup
    * primitive (the same clip re-encoded or re-exported keeps its energy
    * envelope; byte-level dedup misses it, the envelope hash does not):
    * the clip is cut into 65 equal frames, each frame's energy is the
    * exact integer Σ s², and bit k is set iff `E(k+1) > E(k)` — 64
    * energy-gradient sign bits (the audio analogue of dHash; the
    * envelope SHAPE, invariant to uniform gain applied as an exact
    * integer factor). Split into two unsigned 32-bit halves
    * `afp_hi`/`afp_lo` so both stay positive BIGINTs.
    *
    * mapPartitions, no shuffle, non-WAV payloads drop; clips shorter
    * than 65 samples yield well-defined (mostly-empty-frame) bits. */
  def audioFingerprints(media: DataFrame): DataFrame =
    payloadPass(media, "afp_hi" -> LongType, "afp_lo" -> LongType) {
      (id, payload) =>
        AudioCodec.decodeWav(payload).map { pcm =>
          val s = pcm.samples
          val n = s.length
          val e = Array.tabulate(65) { k =>
            var sum = 0L
            var i = k * n / 65
            val end = (k + 1) * n / 65
            while (i < end) { sum += s(i).toLong * s(i); i += 1 }
            sum
          }
          var hi = 0L
          var lo = 0L
          var k = 0
          while (k < 64) {
            if (e(k + 1) > e(k)) {
              if (k >= 32) hi |= 1L << (k - 32) else lo |= 1L << k
            }
            k += 1
          }
          Row(id, hi, lo)
        }
    }

  /** VOICED-segment report over REAL decoded PCM — the
    * silence-structure profile a speech-data pipeline reads before
    * deciding chunk boundaries (the energy-gate core of VAD, without the
    * model): the clip splits into fixed `frameLen`-sample frames, a
    * frame is VOICED iff its exact integer energy (sum of s^2) exceeds
    * `threshold`, and the report is the run structure — voiced frame
    * count, segment count (maximal voiced runs), longest run, total
    * frames. Decode + run walk in ONE mapPartitions pass (the
    * fingerprint shape): no shuffle, non-WAV rows drop, a trailing
    * partial frame is dropped (fixed-length frames keep the oracle
    * closed-form). */
  def voicedSegments(media: DataFrame, frameLen: Int = 20,
                     threshold: Long = 20L * 64 * 64): DataFrame = {
    require(frameLen >= 1, s"need frameLen >= 1: $frameLen")
    payloadPass(media, "n_frames" -> LongType, "n_voiced" -> LongType,
        "n_segments" -> LongType, "longest_run" -> LongType) { (id, payload) =>
      AudioCodec.decodeWav(payload).map { pcm =>
        val sm = pcm.samples
        val nf = sm.length / frameLen
        var voiced = 0L; var segs = 0L; var longest = 0L; var run = 0L
        var f = 0
        while (f < nf) {
          var e = 0L
          var i = f * frameLen
          val end = i + frameLen
          while (i < end) { e += sm(i).toLong * sm(i); i += 1 }
          if (e > threshold) {
            voiced += 1
            if (run == 0L) segs += 1
            run += 1
            if (run > longest) longest = run
          } else run = 0L
          f += 1
        }
        Row(id, nf.toLong, voiced, segs, longest)
      }
    }
  }

  /** Near-duplicate audio pairs by Hamming distance over the acoustic
    * fingerprint — the audio member of the dedup triad (text shingles,
    * image aHash, audio envelope), riding the same pigeonhole banding
    * machinery as [[imageNearDups]]. Output: (media_a, media_b, dist). */
  def audioNearDups(fps: DataFrame, maxDist: Int = 3): DataFrame =
    Dedup.simhashNearDupsFromFp(
      fps.select(col("media_id").as("doc_id"),
        shiftleft(col("afp_hi"), 32).bitwiseOR(col("afp_lo"))
          .as("simhash"))
        .repartition(col("doc_id")),
      maxDist)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
              col("dist"))

  /** End-to-end image-corpus dedup — the multimodal twin of
    * [[graft.ext.Dedup.dedupCorpus]]: perceptual-hash near-dup pairs
    * (banded, exact-verified) complete to duplicate CLUSTERS via
    * connected components (a∼b, b∼c ⇒ {a,b,c} keep one), and every
    * non-representative cluster member leaves the media table through
    * one anti-join. Representatives are the minimum media_id of each
    * cluster, so the kept set is deterministic. All three stages are the
    * proven scale shapes: one decode, banded equi-joins, log-round CC. */
  def dedupImages(media: DataFrame, maxDist: Int = 3): DataFrame = {
    val pairs = imageNearDups(imageHashes(media), maxDist)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    val drop = Dedup.duplicateMembers(pairs)
      .select(col("doc_id").as("media_id"))
    media.join(drop, Seq("media_id"), "left_anti")
  }

  /** Cross-modal duplicate-consistency audit — the QA report a curation
    * pipeline reads when a corpus carries more than one modality per
    * document: the union of text near-dup pairs (exact-verified jaccard)
    * and image near-dup pairs (perceptual hash), flagged per modality.
    * A pair that is a text-dup but not an image-dup (or vice versa) is a
    * labeling/association error candidate — same article re-crawled
    * with a different lead image, or the same image attached to
    * unrelated articles. Both pair sets are the proven banded shapes;
    * the merge is one full-outer equi-join on the pair key. */
  def crossModalAudit(docs: DataFrame, minJaccard: Double = 0.4,
                      maxDist: Int = 3): DataFrame = {
    val textPairs = Dedup.jaccardPairs(docs, shingleK = 3, minJaccard)
      .select(col("doc_a"), col("doc_b"), lit(true).as("text_dup"))
    val imagePairs = imageNearDups(imageHashes(mediaFromDocs(docs)), maxDist)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"),
        lit(true).as("image_dup"))
    textPairs.join(imagePairs, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("text_dup"), lit(false)).as("text_dup"),
        coalesce(col("image_dup"), lit(false)).as("image_dup"))
  }

  /** Resize pass — payload→payload, metadata updated in place. */
  def resizeAll(media: DataFrame, size: Int): DataFrame = {
    val resizeUdf = udf((p: Array[Byte]) => ImageCodec.resize(p, size))
    media.withColumn("payload", resizeUdf(col("payload")))
      .withColumn("meta", col("meta")
        .withField("width", lit(size))
        .withField("height", lit(size)))
  }

  /** Frame sampling — one output row per sampled frame. */
  def sampleFrames(media: DataFrame, everyNth: Int): DataFrame = {
    val framesUdf = udf((p: Array[Byte]) => FakeCodec.sampleFrames(p, everyNth))
    media.filter(col("kind").isin("video", "image"))
      .select(col("media_id"),
        posexplode(framesUdf(col("payload"))).as(Seq("frame_idx", "frame")))
  }

  /** Metadata-only profile — reads sidecar struct fields exclusively, so
    * the payload column chunk is never scanned. */
  def metaProfile(media: DataFrame): DataFrame =
    media.groupBy("kind").agg(
      count(lit(1)).as("n"),
      avg(col("meta.width")).as("avg_width"),
      avg(col("meta.height")).as("avg_height"))

  /** Content-derived profile: decode every payload and aggregate facts of
    * the DECODED images — dimensions read from the codec, mean luminance
    * over real pixels — rather than trusting the metadata sidecar. This is
    * the profile a pipeline runs to AUDIT its metadata: a corrupt or
    * mislabeled payload shows up as a dimension/luminance drift. Per-image
    * mean is an exact multiple of 1/(w·h); the corpus average routes
    * through Stable.avgD (decimal) so it is partition-order-independent
    * and oracle-exact. Undecodable payloads are counted separately, never
    * silently dropped. */
  def contentProfile(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("kind", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("mean_luma", DoubleType, nullable = true)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    val decoded = media.select("kind", "payload").mapPartitions { it =>
      it.map { r =>
        val kind = r.getString(0)
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        ImageCodec.decode(payload) match {
          case Some(img) =>
            Row(kind, img.getWidth, img.getHeight,
              meanLum(ImageCodec.gray8(img)))
          case None => Row(kind, null, null, null)
        }
      }
    }(encoder)
    decoded.groupBy("kind").agg(
      count(lit(1)).as("n"),
      count(col("width")).as("n_decoded"),
      avg(col("width")).as("avg_width"),
      avg(col("height")).as("avg_height"),
      graft.ops.Stable.avgD(col("mean_luma")).as("avg_luma"))
  }

  /** ISO-BMFF (MP4/MOV) box-level METADATA prober — the corpus-profiling
    * half of mp4 support, pure JVM and deterministic. Walks the published
    * box grammar (ISO/IEC 14496-12): ftyp brand, mvhd timescale/duration,
    * per-trak tkhd 16.16 dimensions, hdlr handler (vide/soun), stsd
    * sample-entry fourcc, stsz sample count. Frame DECODE stays with the
    * declared [[FakeCodec]] stub (an H.264 decoder is out of scope);
    * at 100 TB the metadata pass is what media curation runs corpus-wide
    * anyway — width/height/duration/codec gates never need pixel bytes. */
  object Mp4Probe {

    final case class Mp4Meta(brand: String, timescale: Long, duration: Long,
                             width: Int, height: Int, videoCodec: String,
                             audioCodec: String, nFrames: Long)

    private def be32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
        ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Iterate child boxes of b[lo, hi): (type, payloadStart, payloadEnd). */
    private def boxes(b: Array[Byte], lo: Int, hi: Int)
        : Iterator[(String, Int, Int)] = new Iterator[(String, Int, Int)] {
      private var p = lo
      def hasNext: Boolean = p + 8 <= hi
      def next(): (String, Int, Int) = {
        val size32 = be32(b, p)
        val typ = fourcc(b, p + 4)
        val (payload, end) =
          if (size32 == 1) {
            // 64-bit largesize directly after the type; reject sizes that
            // cannot fit this payload rather than letting toInt wrap
            val big = (be32(b, p + 8) << 32) | be32(b, p + 12)
            require(big >= 16 && big <= (hi - p).toLong,
              s"mp4: largesize $big out of range at $p")
            (p + 16, p + big.toInt)
          } else if (size32 == 0) (p + 8, hi) // box extends to EOF
          else (p + 8, p + size32.toInt)
        require(end >= payload && end <= hi, s"mp4: bad box size at $p")
        p = end
        (typ, payload, end)
      }
    }

    /** Probe an MP4 payload; None when it is not ISO-BMFF. */
    def probe(payload: Array[Byte]): Option[Mp4Meta] = {
      if (payload == null || payload.length < 8) return None
      try {
        var brand = ""
        var timescale = 0L; var duration = 0L
        var width = 0; var height = 0
        var vCodec = ""; var aCodec = ""
        var nFrames = 0L
        var sawMoov = false
        boxes(payload, 0, payload.length).foreach {
          case ("ftyp", s, _) => brand = fourcc(payload, s)
          case ("moov", ms, me) =>
            sawMoov = true
            boxes(payload, ms, me).foreach {
              case ("mvhd", s, _) =>
                val v = payload(s) & 0xFF
                if (v == 1) {
                  timescale = be32(payload, s + 20)
                  duration = (be32(payload, s + 24) << 32) | be32(payload, s + 28)
                } else {
                  timescale = be32(payload, s + 12)
                  duration = be32(payload, s + 16)
                }
              case ("trak", ts, te) =>
                var w = 0; var h = 0; var handler = ""; var codec = ""
                var frames = 0L
                boxes(payload, ts, te).foreach {
                  case ("tkhd", s, _) =>
                    // width/height live after verflags + times/ids +
                    // reserved + layer/alt/volume + matrix: offset 76 in
                    // v0 (32-bit times), 88 in v1 (64-bit times)
                    val v = payload(s) & 0xFF
                    val base = if (v == 1) s + 88 else s + 76
                    w = (be32(payload, base) >> 16).toInt     // 16.16 fixed
                    h = (be32(payload, base + 4) >> 16).toInt
                  case ("mdia", ds, de) =>
                    boxes(payload, ds, de).foreach {
                      case ("hdlr", s, _) => handler = fourcc(payload, s + 8)
                      case ("minf", fs, fe) =>
                        boxes(payload, fs, fe).foreach {
                          case ("stbl", bs, be2) =>
                            boxes(payload, bs, be2).foreach {
                              case ("stsd", s, _) =>
                                if (be32(payload, s + 4) >= 1)
                                  codec = fourcc(payload, s + 12)
                              case ("stsz", s, _) =>
                                frames = be32(payload, s + 8)
                              case _ => ()
                            }
                          case _ => ()
                        }
                      case _ => ()
                    }
                  case _ => ()
                }
                if (handler == "vide") {
                  width = w; height = h; vCodec = codec; nFrames = frames
                } else if (handler == "soun") aCodec = codec
              case _ => ()
            }
          case _ => ()
        }
        if (sawMoov) Some(Mp4Meta(brand, timescale, duration, width, height,
          vCodec, aCodec, nFrames))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    // ------------------------------------------------------ fixture writer

    private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
      val size = 8 + payload.map(_.length).sum
      val out = java.nio.ByteBuffer.allocate(size)
      out.putInt(size)
      out.put(typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      payload.foreach(out.put)
      out.array()
    }
    private def u32(vs: Long*): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(vs.length * 4)
      vs.foreach(v => out.putInt(v.toInt))
      out.array()
    }

    private def u16(vs: Int*): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(vs.length * 2)
      vs.foreach(v => out.putShort(v.toShort))
      out.array()
    }

    /** Write a REAL ISO-BMFF file carrying `jpegs` as a 'jpeg' video
      * sample track — full sample table (stts/stsc/stsz/stco,
      * VisualSampleEntry per 14496-12 §12.1.3, vmhd/dinf), all samples
      * in ONE chunk inside mdat. The Motion-JPEG-in-MP4 profile: the
      * one compressed-video MP4 whose pixel layer a pure JVM decodes
      * for real (ImageIO baseline JPEG), closing the FakeCodec gap for
      * this profile. Two-pass build: the moov renders once to learn
      * its size, then re-renders with the true mdat payload offset in
      * stco (the offset does not change the moov's length). */
    def encodeMp4Jpeg(jpegs: Seq[Array[Byte]], width: Int, height: Int,
                      timescale: Long = 1000L, frameDelta: Long = 100L)
        : Array[Byte] = {
      require(jpegs.nonEmpty, "need at least one sample")
      val duration = frameDelta * jpegs.length
      val ftyp = box("ftyp", "isom".getBytes, u32(512),
        "isomiso2".getBytes)
      def moovAt(chunkOff: Long): Array[Byte] = {
        val mvhd = box("mvhd", u32(0, 0, 0, timescale, duration),
          u32(0x00010000, 0), new Array[Byte](8),
          u32(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000),
          new Array[Byte](24), u32(2))
        val tkhd = box("tkhd", u32(7, 0, 0, 1, 0, duration, 0, 0),
          new Array[Byte](4), u32(0),
          u32(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000),
          u32(width.toLong << 16, height.toLong << 16))
        val mdhd = box("mdhd", u32(0, 0, 0, timescale, duration),
          Array[Byte](0x55, 0xC4.toByte, 0, 0))
        val hdlr = box("hdlr", u32(0, 0), "vide".getBytes,
          new Array[Byte](12), Array[Byte](0))
        val entry = box("jpeg", new Array[Byte](6), Array[Byte](0, 1),
          new Array[Byte](16), u16(width, height),
          u32(0x00480000, 0x00480000, 0), u16(1),
          new Array[Byte](32), u16(24, 0xFFFF))
        val stsd = box("stsd", u32(0, 1), entry)
        val stts = box("stts", u32(0, 1, jpegs.length.toLong, frameDelta))
        val stsc = box("stsc", u32(0, 1, 1, jpegs.length.toLong, 1))
        val stsz = box("stsz",
          u32((Seq(0L, 0L, jpegs.length.toLong) ++
            jpegs.map(_.length.toLong)): _*))
        val stco = box("stco", u32(0, 1, chunkOff))
        val vmhd = box("vmhd", u32(1, 0, 0))
        val dinf = box("dinf", box("dref", u32(0, 1),
          box("url ", u32(1))))
        val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
        val minf = box("minf", vmhd, dinf, stbl)
        val mdia = box("mdia", mdhd, hdlr, minf)
        box("moov", mvhd, box("trak", tkhd, mdia))
      }
      val m0 = moovAt(0L)
      val moov = moovAt(ftyp.length.toLong + m0.length + 8)
      require(moov.length == m0.length, "moov size changed on repass")
      ftyp ++ moov ++ box("mdat", jpegs: _*)
    }

    /** Extract the video track's JPEG samples from an ISO-BMFF payload
      * — the full sample-table walk an MP4 demuxer runs: stsd fourcc
      * must be `jpeg`; stsz fixed OR per-sample sizes; stsc
      * sample-to-chunk runs expanded per chunk; stco/co64 chunk
      * offsets. A sample whose byte range falls outside the payload
      * ends the walk (torn-tail discipline: the fitting prefix
      * survives); non-BMFF or a non-jpeg video track → Nil, never a
      * throw. */
    def jpegSamples(payload: Array[Byte]): Seq[Array[Byte]] = {
      if (payload == null || payload.length < 8) return Nil
      // `out` survives the catch: a torn TRAILING box (truncated mdat,
      // raw bytes after the last box) must not discard samples already
      // demuxed from an intact moov — the torn-tail discipline
      var out: Seq[Array[Byte]] = Nil
      try {
        boxes(payload, 0, payload.length).foreach {
          case ("moov", ms, me) =>
            boxes(payload, ms, me).foreach {
              case ("trak", ts, te) =>
                var handler = ""
                var codec = ""
                var sizes: Array[Long] = null
                var fixedSize = 0L
                var nSamples = 0
                var chunkOffs: Array[Long] = null
                var stscRuns: Array[(Long, Long)] = null
                boxes(payload, ts, te).foreach {
                  case ("mdia", ds, de) =>
                    boxes(payload, ds, de).foreach {
                      case ("hdlr", s, _) =>
                        handler = fourcc(payload, s + 8)
                      case ("minf", fs, fe) =>
                        boxes(payload, fs, fe).foreach {
                          case ("stbl", bs, be2) =>
                            boxes(payload, bs, be2).foreach {
                              case ("stsd", s, _) =>
                                if (be32(payload, s + 4) >= 1)
                                  codec = fourcc(payload, s + 12)
                              case ("stsz", s, _) =>
                                fixedSize = be32(payload, s + 4)
                                nSamples = be32(payload, s + 8).toInt
                                if (fixedSize == 0)
                                  sizes = Array.tabulate(nSamples)(i =>
                                    be32(payload, s + 12 + 4 * i))
                              case ("stco", s, _) =>
                                chunkOffs = Array.tabulate(
                                  be32(payload, s + 4).toInt)(i =>
                                  be32(payload, s + 8 + 4 * i))
                              case ("co64", s, _) =>
                                chunkOffs = Array.tabulate(
                                  be32(payload, s + 4).toInt)(i =>
                                  (be32(payload, s + 8 + 8 * i) << 32) |
                                    be32(payload, s + 12 + 8 * i))
                              case ("stsc", s, _) =>
                                stscRuns = Array.tabulate(
                                  be32(payload, s + 4).toInt)(i =>
                                  (be32(payload, s + 8 + 12 * i),
                                    be32(payload, s + 12 + 12 * i)))
                              case _ => ()
                            }
                          case _ => ()
                        }
                      case _ => ()
                    }
                  case _ => ()
                }
                if (handler == "vide" && codec == "jpeg" && nSamples > 0 &&
                  chunkOffs != null && chunkOffs.nonEmpty &&
                  stscRuns != null && stscRuns.nonEmpty) {
                  val buf = Seq.newBuilder[Array[Byte]]
                  var ri = 0
                  var si = 0
                  var c = 0
                  var keep = true
                  while (c < chunkOffs.length && si < nSamples && keep) {
                    // the stsc run in force for 1-based chunk c+1
                    while (ri + 1 < stscRuns.length &&
                      stscRuns(ri + 1)._1 <= c + 1) ri += 1
                    var off = chunkOffs(c)
                    var k = 0L
                    while (k < stscRuns(ri)._2 && si < nSamples && keep) {
                      val sz = if (fixedSize > 0) fixedSize
                        else sizes(si)
                      if (off < 0 || sz <= 0 ||
                        off + sz > payload.length.toLong) keep = false
                      else {
                        buf += java.util.Arrays.copyOfRange(
                          payload, off.toInt, (off + sz).toInt)
                        off += sz
                        si += 1
                      }
                      k += 1
                    }
                    c += 1
                  }
                  out = buf.result()
                }
              case _ => ()
            }
          case _ => ()
        }
      } catch { case scala.util.control.NonFatal(_) => () }
      out
    }

    /** Minimal deterministic ISO-BMFF skeleton: ftyp + moov with one video
      * and one audio trak (tkhd/mdhd/hdlr/stsd/stsz), no media samples —
      * the structure [[probe]] reads, byte-deterministic for fixtures. */
    def encodeMp4(timescale: Long, duration: Long, width: Int, height: Int,
                  videoCodec: String, audioCodec: String,
                  nFrames: Long): Array[Byte] = {
      require(videoCodec.length == 4 && audioCodec.length == 4, "fourcc")
      val ftyp = box("ftyp",
        "isom".getBytes, u32(512), "isomiso2".getBytes)
      val mvhd = box("mvhd", u32(0, 0, 0, timescale, duration),
        u32(0x00010000, 0), new Array[Byte](8), // rate/volume+res, reserved
        u32(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000), // matrix
        new Array[Byte](24), u32(3)) // predefined, next_track_ID
      def trak(handler: String, codec: String, w: Int, h: Int,
               frames: Long): Array[Byte] = {
        val tkhd = box("tkhd", u32(7, 0, 0, 1, 0, duration, 0, 0),
          new Array[Byte](4), // layer/alternate_group
          u32(0), // volume + reserved
          u32(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000),
          u32(w.toLong << 16, h.toLong << 16))
        val mdhd = box("mdhd", u32(0, 0, 0, timescale, duration),
          Array[Byte](0x55, ((0xC4): Int).toByte, 0, 0)) // und language
        val hdlr = box("hdlr", u32(0, 0), handler.getBytes,
          new Array[Byte](12), Array[Byte](0))
        val entry = box(codec, new Array[Byte](6), Array[Byte](0, 1))
        val stsd = box("stsd", u32(0, 1), entry)
        val stsz = box("stsz", u32(0, 0, frames))
        val stbl = box("stbl", stsd, stsz)
        val minf = box("minf", stbl)
        val mdia = box("mdia", mdhd, hdlr, minf)
        box("trak", tkhd, mdia)
      }
      val moov = box("moov", mvhd,
        trak("vide", videoCodec, width, height, nFrames),
        trak("soun", audioCodec, 0, 0, 0))
      ftyp ++ moov ++ box("mdat")
    }
  }

  /** Matroska/WebM (EBML) box-level METADATA prober — the webm twin of
    * [[Mp4Probe]], pure JVM. Walks the published EBML grammar (RFC 8794 +
    * the Matroska element registry): Segment > Info (TimestampScale,
    * Duration) and Segment > Tracks > TrackEntry (TrackType, CodecID,
    * Video > PixelWidth/PixelHeight). Cluster/frame data is never read. */
  object EbmlProbe {

    final case class WebmMeta(durationSec: Double, width: Int, height: Int,
                              videoCodec: String, audioCodec: String)

    private def vintLen(first: Int): Int = {
      var mask = 0x80
      var len = 1
      while (len <= 8 && (first & mask) == 0) { mask >>= 1; len += 1 }
      len
    }

    /** Read (id, size, payloadStart, payloadEnd) at p. Element IDs keep
      * their marker bit (the registry convention); sizes strip it. */
    private def element(b: Array[Byte], p: Int, hi: Int)
        : (Long, Int, Int) = {
      val idLen = vintLen(b(p) & 0xFF)
      var id = 0L
      (0 until idLen).foreach(i => id = (id << 8) | (b(p + i) & 0xFFL))
      val sp = p + idLen
      val szLen = vintLen(b(sp) & 0xFF)
      var size = (b(sp) & 0xFFL) & ((1L << (8 - szLen)) - 1)
      (1 until szLen).foreach(i => size = (size << 8) | (b(sp + i) & 0xFFL))
      val payload = sp + szLen
      val allOnes = size == (1L << (7 * szLen)) - 1
      val end = if (allOnes) hi else payload + size.toInt // unknown-size → to hi
      require(end >= payload && end <= hi, s"ebml: bad element size at $p")
      (id, payload, end)
    }

    private def elements(b: Array[Byte], lo: Int, hi: Int)
        : Iterator[(Long, Int, Int)] = new Iterator[(Long, Int, Int)] {
      private var p = lo
      def hasNext: Boolean = p + 2 <= hi
      def next(): (Long, Int, Int) = {
        val e = element(b, p, hi)
        p = e._3
        e
      }
    }

    private def uint(b: Array[Byte], lo: Int, hi: Int): Long = {
      var v = 0L
      (lo until hi).foreach(i => v = (v << 8) | (b(i) & 0xFFL))
      v
    }
    private def float(b: Array[Byte], lo: Int, hi: Int): Double =
      if (hi - lo == 4)
        java.lang.Float.intBitsToFloat(uint(b, lo, hi).toInt).toDouble
      else java.lang.Double.longBitsToDouble(uint(b, lo, hi))

    /** Probe a WebM/Matroska payload; None when it is not EBML. */
    def probe(payload: Array[Byte]): Option[WebmMeta] = {
      if (payload == null || payload.length < 4) return None
      try {
        // must start with the EBML header element 0x1A45DFA3
        if (uint(payload, 0, 4) != 0x1A45DFA3L) return None
        var scale = 1000000L // TimestampScale default: 1 ms in ns
        var duration = 0.0
        var width = 0; var height = 0
        var vCodec = ""; var aCodec = ""
        var sawSegment = false // EBML magic alone is not a WebM file
        elements(payload, 0, payload.length).foreach {
          case (0x18538067L, ss, se) => // Segment
            sawSegment = true
            elements(payload, ss, se).foreach {
              case (0x1549A966L, is, ie) => // Info
                elements(payload, is, ie).foreach {
                  case (0x2AD7B1L, s, e) => scale = uint(payload, s, e)
                  case (0x4489L, s, e) => duration = float(payload, s, e)
                  case _ => ()
                }
              case (0x1654AE6BL, ts, te) => // Tracks
                elements(payload, ts, te).foreach {
                  case (0xAEL, es, ee) => // TrackEntry
                    var typ = 0L; var codec = ""; var w = 0; var h = 0
                    elements(payload, es, ee).foreach {
                      case (0x83L, s, e) => typ = uint(payload, s, e)
                      case (0x86L, s, e) => codec = new String(payload, s,
                        e - s, java.nio.charset.StandardCharsets.US_ASCII)
                      case (0xE0L, vs, ve) => // Video
                        elements(payload, vs, ve).foreach {
                          case (0xB0L, s, e) => w = uint(payload, s, e).toInt
                          case (0xBAL, s, e) => h = uint(payload, s, e).toInt
                          case _ => ()
                        }
                      case _ => ()
                    }
                    if (typ == 1L) { vCodec = codec; width = w; height = h }
                    else if (typ == 2L) aCodec = codec
                  case _ => ()
                }
              case _ => ()
            }
          case _ => ()
        }
        if (sawSegment)
          Some(WebmMeta(duration * scale / 1e9, width, height, vCodec, aCodec))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    // ------------------------------------------------------ fixture writer

    private def vint(n: Long): Array[Byte] = {
      // shortest data-size form: marker bit in the first byte
      var len = 1
      while (len < 8 && n >= (1L << (7 * len)) - 1) len += 1
      val out = new Array[Byte](len)
      var v = n | (1L << (7 * len))
      (len - 1 to 0 by -1).foreach { i => out(i) = (v & 0xFF).toByte; v >>= 8 }
      out
    }
    private def idBytes(id: Long): Array[Byte] = {
      var len = 1
      while (len < 8 && (id >> (8 * len)) != 0) len += 1
      val out = new Array[Byte](len)
      var v = id
      (len - 1 to 0 by -1).foreach { i => out(i) = (v & 0xFF).toByte; v >>= 8 }
      out
    }
    private def el(id: Long, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.foldLeft(Array.empty[Byte])(_ ++ _)
      idBytes(id) ++ vint(body.length.toLong) ++ body
    }
    private def uintBytes(v: Long): Array[Byte] = {
      var len = 1
      while (len < 8 && (v >> (8 * len)) != 0) len += 1
      val out = new Array[Byte](len)
      var x = v
      (len - 1 to 0 by -1).foreach { i => out(i) = (x & 0xFF).toByte; x >>= 8 }
      out
    }

    /** Minimal deterministic WebM skeleton: EBML header + Segment with
      * Info and two TrackEntry elements, no clusters. */
    def encodeWebm(durationUnits: Double, width: Int, height: Int,
                   videoCodec: String, audioCodec: String): Array[Byte] = {
      val header = el(0x1A45DFA3L,
        el(0x4282L, "webm".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
      val info = el(0x1549A966L,
        el(0x2AD7B1L, uintBytes(1000000L)),
        el(0x4489L, {
          val bb = java.nio.ByteBuffer.allocate(8)
          bb.putDouble(durationUnits)
          bb.array()
        }))
      def track(typ: Long, codec: String, video: Option[(Int, Int)]) =
        el(0xAEL,
          el(0x83L, uintBytes(typ)),
          el(0x86L, codec.getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
          video.map { case (w, h) =>
            el(0xE0L, el(0xB0L, uintBytes(w.toLong)),
              el(0xBAL, uintBytes(h.toLong)))
          }.getOrElse(Array.empty[Byte]))
      val tracks = el(0x1654AE6BL,
        track(1L, videoCodec, Some((width, height))),
        track(2L, audioCodec, None))
      header ++ el(0x18538067L, info, tracks)
    }
  }

  /** Build a webm table from documents with closed-form structure (the
    * EBML twin of [[mp4FromDocs]]). */
  def webmFromDocs(docs: DataFrame): DataFrame = {
    val webmUdf = udf((docId: Long) =>
      EbmlProbe.encodeWebm(
        durationUnits = (2000L + (docId % 40) * 125L).toDouble,
        width = 256 + (docId % 5).toInt * 128,
        height = 144 + (docId % 4).toInt * 96,
        videoCodec = if (docId % 2 == 0) "V_VP9" else "V_VP8",
        audioCodec = "A_OPUS"))
    // NOT spread: a probe input (see mediaTable)
    mediaTable(docs, webmUdf(col("doc_id")), "video", "video/webm")
  }

  /** WebM metadata extraction over payload batches — EBML walk only, no
    * shuffle; non-EBML rows are dropped. */
  def probeWebm(media: DataFrame): DataFrame =
    payloadPass(media, "duration_sec" -> DoubleType, "width" -> IntegerType,
        "height" -> IntegerType, "video_codec" -> StringType,
        "audio_codec" -> StringType) { (id, payload) =>
      EbmlProbe.probe(payload).map { m =>
        Row(id, m.durationSec, m.width, m.height, m.videoCodec, m.audioCodec)
      }
    }

  /** Build an mp4 table from documents: each doc gets a REAL ISO-BMFF
    * skeleton whose structure follows closed formulas of doc_id — so the
    * box-walking prober is oracle-checkable end-to-end (the metadata twin
    * of x18/x19/x46). */
  def mp4FromDocs(docs: DataFrame): DataFrame = {
    val mp4Udf = udf((docId: Long) =>
      Mp4Probe.encodeMp4(
        timescale = 1000L,
        duration = 1000L + (docId % 50) * 40L,
        width = 320 + (docId % 4).toInt * 160,
        height = 240 + (docId % 3).toInt * 120,
        videoCodec = if (docId % 2 == 0) "avc1" else "hev1",
        audioCodec = "mp4a",
        nFrames = 24L + (docId % 10) * 6L))
    // NOT spread: a probe input (see mediaTable)
    mediaTable(docs, mp4Udf(col("doc_id")), "video", "video/mp4")
  }

  /** MP4 metadata extraction over payload batches — box walk only, never
    * pixel bytes; per-task prober, no shuffle (the x14/x18 shape). Rows
    * that are not ISO-BMFF are dropped. */
  def probeMp4(media: DataFrame): DataFrame =
    payloadPass(media, "brand" -> StringType, "duration_sec" -> DoubleType,
        "width" -> IntegerType, "height" -> IntegerType,
        "video_codec" -> StringType, "audio_codec" -> StringType,
        "n_frames" -> LongType) { (id, payload) =>
      Mp4Probe.probe(payload).map { m =>
        Row(id, m.brand, m.duration.toDouble / m.timescale, m.width,
          m.height, m.videoCodec, m.audioCodec, m.nFrames)
      }
    }

  /** Compressed-audio FRAME-HEADER prober — the metadata half of AAC/MP3
    * support (the [[Mp4Probe]] convention: profile the stream, never
    * decode payload bits). Walks ADTS (ISO/IEC 13818-7 §6.2) and MPEG-1
    * Layer III (ISO/IEC 11172-3 §2.4.1.3) frame headers: per stream, the
    * sample rate / channel count from the first header, a full frame
    * census, and the measured duration + bitrate
    *
    *   duration_sec = Σ samples-per-frame / sample_rate
    *   bitrate_bps  = stream_bytes · 8 / duration_sec
    *
    * (1024 samples per ADTS raw-data block, 1152 per Layer III frame —
    * the spec constants). Both formulas are one exact integer product
    * and one IEEE division each, so the oracle replays them bit-for-bit.
    * Payload bits after each header are never inspected. */
  object FrameAudioProbe {

    final case class FrameAudioMeta(format: String, sampleRate: Int,
                                    nChannels: Int, nFrames: Long,
                                    durationSec: Double, bitrateBps: Double)

    /** ADTS sampling_frequency_index table (13818-7 table 35). */
    val adtsRates: Array[Int] = Array(96000, 88200, 64000, 48000, 44100,
      32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)
    /** MPEG-1 sampling rates, header index order (11172-3 §2.4.2.3). */
    val mp3Rates: Array[Int] = Array(44100, 48000, 32000)
    /** MPEG-1 Layer III bitrates, kbit/s, index 1–14 (11172-3 table B.2;
      * index 0 = free format, 15 = forbidden). */
    val mp3BitratesKbps: Array[Int] = Array(0, 32, 40, 48, 56, 64, 80, 96,
      112, 128, 160, 192, 224, 256, 320)

    /** Probe a payload; None unless it is a whole number of well-formed
      * ADTS or MPEG-1 Layer III frames (after an optional leading ID3v2
      * tag — real-world MP3s almost always carry one). The two syncs
      * are disjoint in byte 1's layer bits: ADTS is 1111_0xx0 (layer
      * '00'), MPEG-1 Layer III is 1111_101x — so 0xF6/0xFE masks
      * dispatch unambiguously. */
    def probe(payload: Array[Byte]): Option[FrameAudioMeta] = {
      if (payload == null || payload.length < 4) return None
      // ID3v2 prefix (id3.org spec): "ID3" + version(2) + flags(1) +
      // 28-bit syncsafe size (4 × 7 bits); frames start right after
      val b =
        if (payload.length > 10 && payload(0) == 'I' && payload(1) == 'D' &&
            payload(2) == '3' &&
            (6 to 9).forall(i => (payload(i) & 0x80) == 0)) {
          val size = ((payload(6) & 0x7F) << 21) | ((payload(7) & 0x7F) << 14) |
            ((payload(8) & 0x7F) << 7) | (payload(9) & 0x7F)
          // ID3v2.4 footer flag (0x10): the tag carries a 10-byte '3DI'
          // footer AFTER the syncsafe-sized body — skip it too, or the
          // sync test lands on the footer and drops a valid stream
          val footer = if ((payload(5) & 0x10) != 0) 10 else 0
          if (10 + size + footer >= payload.length) return None
          java.util.Arrays.copyOfRange(payload, 10 + size + footer,
            payload.length)
        } else payload
      if (b.length < 4) return None
      if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xF6) == 0xF0) probeAdts(b)
      else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFE) == 0xFA) probeMp3(b)
      else None
    }

    private def probeAdts(b: Array[Byte]): Option[FrameAudioMeta] = {
      var p = 0; var nFrames = 0L; var samples = 0L
      var sr = -1; var ch = -1
      while (p + 7 <= b.length) {
        if ((b(p) & 0xFF) != 0xFF || (b(p + 1) & 0xF0) != 0xF0 ||
            ((b(p + 1) >> 1) & 3) != 0) return None // sync + layer '00'
        val sfi = (b(p + 2) >> 2) & 0xF
        if (sfi >= adtsRates.length) return None
        val chan = ((b(p + 2) & 1) << 2) | ((b(p + 3) >> 6) & 3)
        val frameLen = ((b(p + 3) & 3) << 11) | ((b(p + 4) & 0xFF) << 3) |
          ((b(p + 5) >> 5) & 7)
        if (frameLen < 7 || p + frameLen > b.length) return None
        val nBlocks = (b(p + 6) & 3) + 1
        if (sr < 0) { sr = adtsRates(sfi); ch = chan }
        else if (sr != adtsRates(sfi) || ch != chan) return None
        samples += 1024L * nBlocks
        nFrames += 1
        p += frameLen
      }
      if (nFrames == 0 || p != b.length) return None
      val dur = samples.toDouble / sr
      Some(FrameAudioMeta("aac", sr, ch, nFrames, dur, b.length * 8L / dur))
    }

    private def probeMp3(b: Array[Byte]): Option[FrameAudioMeta] = {
      var p = 0; var nFrames = 0L
      var sr = -1; var ch = -1
      while (p + 4 <= b.length) {
        // sync + MPEG-1 ('11') + Layer III ('01'): FF FA/FB
        if ((b(p) & 0xFF) != 0xFF || (b(p + 1) & 0xFE) != 0xFA) return None
        val bIdx = (b(p + 2) >> 4) & 0xF
        val srIdx = (b(p + 2) >> 2) & 3
        val pad = (b(p + 2) >> 1) & 1
        val chan = if (((b(p + 3) >> 6) & 3) == 3) 1 else 2
        if (bIdx == 0 || bIdx == 15 || srIdx == 3) return None
        val rate = mp3Rates(srIdx)
        // frame size, 11172-3 §2.4.3.1: 144 · bitrate / fs + padding
        val frameLen = 144 * mp3BitratesKbps(bIdx) * 1000 / rate + pad
        if (frameLen < 4 || p + frameLen > b.length) return None
        if (sr < 0) { sr = rate; ch = chan }
        else if (sr != rate || ch != chan) return None
        nFrames += 1
        p += frameLen
      }
      if (nFrames == 0 || p != b.length) return None
      val dur = nFrames * 1152L.toDouble / sr
      Some(FrameAudioMeta("mp3", sr, ch, nFrames, dur, b.length * 8L / dur))
    }

    // ------------------------------------------------------ fixture writer

    /** Deterministic ADTS stream: `nFrames` frames of `payloadLen` junk
      * bytes each behind correct headers (AAC-LC, protection absent, one
      * raw data block per frame). */
    def encodeAdts(sfi: Int, channels: Int, nFrames: Int,
                   payloadLen: Int): Array[Byte] = {
      require(sfi < adtsRates.length && channels >= 1 && channels <= 7)
      val frameLen = 7 + payloadLen
      require(frameLen < (1 << 13), s"ADTS frame length $frameLen overflows")
      val out = new ByteArrayOutputStream()
      (0 until nFrames).foreach { _ =>
        out.write(0xFF)
        out.write(0xF1)                // MPEG-4, layer 00, protection absent
        out.write((1 << 6) | (sfi << 2) | (channels >> 2)) // AAC-LC profile
        out.write(((channels & 3) << 6) | ((frameLen >> 11) & 3))
        out.write((frameLen >> 3) & 0xFF)
        out.write(((frameLen & 7) << 5) | 0x1F) // buffer fullness hi (VBR)
        out.write(0xFC)               // fullness lo + single raw data block
        out.write(new Array[Byte](payloadLen))
      }
      out.toByteArray
    }

    /** Deterministic MPEG-1 Layer III stream: headers + zero payload to
      * the exact spec frame size, no padding. */
    def encodeMp3(bitrateIdx: Int, srIdx: Int, mono: Boolean,
                  nFrames: Int): Array[Byte] = {
      require(bitrateIdx >= 1 && bitrateIdx <= 14 && srIdx >= 0 && srIdx <= 2)
      val frameLen = 144 * mp3BitratesKbps(bitrateIdx) * 1000 / mp3Rates(srIdx)
      val out = new ByteArrayOutputStream()
      (0 until nFrames).foreach { _ =>
        out.write(0xFF)
        out.write(0xFB)                       // MPEG-1, Layer III, no CRC
        out.write((bitrateIdx << 4) | (srIdx << 2))
        out.write(if (mono) 3 << 6 else 0)
        out.write(new Array[Byte](frameLen - 4))
      }
      out.toByteArray
    }
  }

  /** Build a compressed-audio table from documents: even doc_ids get an
    * ADTS/AAC stream, odd a MPEG-1 Layer III stream, every header field
    * a closed formula of doc_id — so the frame-header prober is
    * oracle-checkable end-to-end (the audio twin of x47/x48). */
  def frameAudioFromDocs(docs: DataFrame): DataFrame = {
    val enc = udf((docId: Long) =>
      if (docId % 2 == 0)
        FrameAudioProbe.encodeAdts(
          sfi = 3 + ((docId / 2) % 3).toInt,          // 48000/44100/32000
          channels = 1 + ((docId / 2) % 2).toInt,
          nFrames = 8 + (docId % 16).toInt,
          payloadLen = 16 + (docId % 32).toInt)
      else
        FrameAudioProbe.encodeMp3(
          bitrateIdx = 1 + (docId % 14).toInt,
          srIdx = ((docId / 2) % 3).toInt,            // 44100/48000/32000
          mono = (docId / 2) % 2 == 0,
          nFrames = 8 + (docId % 16).toInt))
    // NOT spread: a probe input (see mediaTable)
    mediaTable(docs, enc(col("doc_id")), "audio", "audio/aac-or-mpeg")
  }

  /** JPEG JFIF/EXIF SEGMENT prober — the corpus-profiling metadata
    * half of the single most common real image format (the [[Mp4Probe]]
    * convention: walk the structure, never the entropy-coded bits;
    * pixel decode already exists via ImageIO in [[MjpegCodec]]).
    *
    * Marker walk per ITU-T T.81 §B: SOI, then length-prefixed segments
    * until SOS. Extracted:
    *  - APP0 "JFIF\0": version, density unit, X/Y density;
    *  - APP1 "Exif\0\0": a real TIFF IFD0 walk (both "II" and "MM"
    *    byte orders; inline values for ≤4-byte fields, value-offset
    *    indirection for longer ASCII fields) for Make (0x010F),
    *    Orientation (0x0112) and DateTime (0x0132);
    *  - SOF0/SOF2: precision, height, width, component count, and
    *    whether the scan is progressive;
    *  - the pre-SOS segment census.
    *
    * Every extracted field is closed-form in the writer, so the oracle
    * replays the formulas directly (the x47/x48 discipline). */
  object JpegExif {

    final case class JpegMeta(hasJfif: Boolean, xDensity: Int,
                              yDensity: Int, make: String,
                              orientation: Int, datetime: String,
                              width: Int, height: Int, precision: Int,
                              nComponents: Int, progressive: Boolean,
                              nSegments: Int,
                              gpsLat: Option[Double] = None,
                              gpsLon: Option[Double] = None)

    /** A GPS fix as EXIF stores it — hemisphere refs plus
      * degree/minute/second RATIONALs (seconds carry a /100
      * denominator, the common sub-second encoding). */
    final case class GpsFix(latRef: String, latDeg: Int, latMin: Int,
                            latSecNum: Int, lonRef: String, lonDeg: Int,
                            lonMin: Int, lonSecNum: Int)

    private def be16(out: ByteArrayOutputStream, v: Int): Unit = {
      out.write((v >> 8) & 0xFF); out.write(v & 0xFF)
    }

    /** One TIFF IFD0 (Make / Orientation / DateTime, tags ascending as
      * the spec requires) in the requested byte order; offsets are
      * relative to the TIFF header start. With a [[GpsFix]], IFD0
      * additionally carries the 0x8825 GPS-IFD pointer (LONG) and the
      * GPS sub-IFD follows the value area: GPSLatitudeRef (0x0001,
      * ASCII 2 inline), GPSLatitude (0x0002, 3 RATIONALs by offset),
      * GPSLongitudeRef (0x0003), GPSLongitude (0x0004) — the layout
      * every geotagging camera writes (EXIF 2.3 §4.6.6). */
    private def tiffBytes(littleEndian: Boolean, make: String,
                          orientation: Int, datetime: String,
                          gps: Option[GpsFix] = None)
        : Array[Byte] = {
      val makeB = (make + "\u0000").getBytes("ISO-8859-1")
      val dtB = (datetime + "\u0000").getBytes("ISO-8859-1")
      require(dtB.length == 20, "EXIF DateTime must be 19 chars + NUL")
      val nEntries = if (gps.isDefined) 4 else 3
      val ifdStart = 8
      val valueArea = ifdStart + 2 + nEntries * 12 + 4
      val gpsIfd = valueArea + makeB.length + dtB.length
      // GPS IFD: count + 4 entries + next-ptr, then 2 × 3 RATIONALs
      val gpsLen = if (gps.isDefined) 2 + 4 * 12 + 4 + 48 else 0
      val bb = ByteBuffer.allocate(gpsIfd + gpsLen)
        .order(if (littleEndian) ByteOrder.LITTLE_ENDIAN
               else ByteOrder.BIG_ENDIAN)
      bb.put((if (littleEndian) "II" else "MM").getBytes("ISO-8859-1"))
      bb.putShort(42.toShort)
      bb.putInt(ifdStart)
      bb.putShort(nEntries.toShort)
      // 0x010F Make: ASCII, > 4 bytes -> value offset
      bb.putShort(0x010F.toShort); bb.putShort(2.toShort)
      bb.putInt(makeB.length); bb.putInt(valueArea)
      // 0x0112 Orientation: SHORT, inline (left-aligned in the field)
      bb.putShort(0x0112.toShort); bb.putShort(3.toShort)
      bb.putInt(1); bb.putShort(orientation.toShort); bb.putShort(0.toShort)
      // 0x0132 DateTime: ASCII 20 bytes -> value offset
      bb.putShort(0x0132.toShort); bb.putShort(2.toShort)
      bb.putInt(dtB.length); bb.putInt(valueArea + makeB.length)
      // 0x8825 GPS IFD pointer: LONG, inline
      if (gps.isDefined) {
        bb.putShort(0x8825.toShort); bb.putShort(4.toShort)
        bb.putInt(1); bb.putInt(gpsIfd)
      }
      bb.putInt(0) // next IFD
      bb.put(makeB); bb.put(dtB)
      gps.foreach { g =>
        val ratArea = gpsIfd + 2 + 4 * 12 + 4
        def ref(tag: Int, r: String): Unit = {
          bb.putShort(tag.toShort); bb.putShort(2.toShort)
          bb.putInt(2)
          bb.put(r.getBytes("ISO-8859-1")(0)); bb.put(0.toByte)
          bb.putShort(0.toShort)
        }
        def coord(tag: Int, off: Int): Unit = {
          bb.putShort(tag.toShort); bb.putShort(5.toShort)
          bb.putInt(3); bb.putInt(off)
        }
        bb.putShort(4.toShort)
        ref(0x0001, g.latRef)
        coord(0x0002, ratArea)
        ref(0x0003, g.lonRef)
        coord(0x0004, ratArea + 24)
        bb.putInt(0) // next IFD
        Seq((g.latDeg, g.latMin, g.latSecNum),
            (g.lonDeg, g.lonMin, g.lonSecNum)).foreach {
          case (dg, mn, sn) =>
            bb.putInt(dg); bb.putInt(1)
            bb.putInt(mn); bb.putInt(1)
            bb.putInt(sn); bb.putInt(100)
        }
      }
      bb.array()
    }

    /** A structurally honest JPEG: SOI, APP0 JFIF, APP1 EXIF, DQT,
      * SOFn, SOS header, a token entropy byte, EOI. */
    def encodeJpeg(littleEndian: Boolean, xDensity: Int, yDensity: Int,
                   make: String, orientation: Int, datetime: String,
                   width: Int, height: Int, progressive: Boolean,
                   gps: Option[GpsFix] = None)
        : Array[Byte] = {
      val out = new ByteArrayOutputStream(256)
      out.write(0xFF); out.write(0xD8) // SOI
      // APP0 JFIF: version 1.02, dpi unit
      out.write(0xFF); out.write(0xE0); be16(out, 16)
      out.write("JFIF".getBytes("ISO-8859-1")); out.write(0)
      out.write(1); out.write(2); out.write(1)
      be16(out, xDensity); be16(out, yDensity)
      out.write(0); out.write(0) // no thumbnail
      // APP1 EXIF
      val tiff = tiffBytes(littleEndian, make, orientation, datetime, gps)
      out.write(0xFF); out.write(0xE1); be16(out, 2 + 6 + tiff.length)
      out.write("Exif".getBytes("ISO-8859-1")); out.write(0); out.write(0)
      out.write(tiff)
      // DQT (one all-ones table — never read back, structural only)
      out.write(0xFF); out.write(0xDB); be16(out, 67); out.write(0)
      (0 until 64).foreach(_ => out.write(1))
      // SOF0 (baseline) / SOF2 (progressive): 3 components, 8-bit
      out.write(0xFF); out.write(if (progressive) 0xC2 else 0xC0)
      be16(out, 17); out.write(8)
      be16(out, height); be16(out, width); out.write(3)
      Seq(1, 2, 3).foreach { c =>
        out.write(c); out.write(0x11); out.write(0)
      }
      // SOS + one stuffed entropy byte + EOI
      out.write(0xFF); out.write(0xDA); be16(out, 12); out.write(3)
      Seq(1, 2, 3).foreach { c => out.write(c); out.write(0) }
      out.write(0); out.write(63); out.write(0)
      out.write(0x55)
      out.write(0xFF); out.write(0xD9) // EOI
      out.toByteArray
    }

    private def u16(b: Array[Byte], p: Int, le: Boolean): Int =
      if (le) (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
      else ((b(p) & 0xFF) << 8) | (b(p + 1) & 0xFF)

    private def u32(b: Array[Byte], p: Int, le: Boolean): Long =
      if (le) (u16(b, p, le) & 0xFFFFL) | ((u16(b, p + 2, le) & 0xFFFFL) << 16)
      else ((u16(b, p, le) & 0xFFFFL) << 16) | (u16(b, p + 2, le) & 0xFFFFL)

    private def asciiAt(b: Array[Byte], tiff: Int, count: Int,
                        fieldP: Int, le: Boolean): String = {
      val p = if (count <= 4) fieldP else tiff + u32(b, fieldP, le).toInt
      val end = p + count
      if (end > b.length) return ""
      val s = new String(b, p, count, "ISO-8859-1")
      if (s.nonEmpty && s.last == '\u0000') s.dropRight(1) else s
    }

    /** Parse the TIFF IFD0 inside an APP1 EXIF payload (after the
      * "Exif\0\0" preamble). Returns (make, orientation, datetime,
      * gpsLat, gpsLon) with empty/zero/None defaults for absent tags;
      * the 0x8825 pointer, when present, walks the GPS sub-IFD and
      * folds the hemisphere refs + deg/min/sec RATIONALs into signed
      * decimal degrees (S and W negative). */
    private def parseTiff(b: Array[Byte], tiff: Int, hi: Int)
        : (String, Int, String, Option[Double], Option[Double]) = {
      val none = ("", 0, "", Option.empty[Double], Option.empty[Double])
      if (tiff + 8 > hi) return none
      val le = b(tiff) == 'I'.toByte && b(tiff + 1) == 'I'.toByte
      val be = b(tiff) == 'M'.toByte && b(tiff + 1) == 'M'.toByte
      if (!le && !be) return none
      if (u16(b, tiff + 2, le) != 42) return none
      val ifd = tiff + u32(b, tiff + 4, le).toInt
      if (ifd + 2 > hi) return none
      val n = u16(b, ifd, le)
      var make = ""; var orient = 0; var dt = ""
      var gpsOff = -1
      var i = 0
      while (i < n) {
        val e = ifd + 2 + i * 12
        if (e + 12 <= hi) {
          val tag = u16(b, e, le)
          val count = u32(b, e + 4, le).toInt
          val fieldP = e + 8
          tag match {
            case 0x010F => make = asciiAt(b, tiff, count, fieldP, le)
            case 0x0112 => orient = u16(b, fieldP, le)
            case 0x0132 => dt = asciiAt(b, tiff, count, fieldP, le)
            case 0x8825 => gpsOff = u32(b, fieldP, le).toInt
            case _ => ()
          }
        }
        i += 1
      }
      var lat = Option.empty[Double]
      var lon = Option.empty[Double]
      if (gpsOff > 0 && tiff + gpsOff + 2 <= hi) {
        val gifd = tiff + gpsOff
        val gn = u16(b, gifd, le)
        var latRef = ""; var lonRef = ""
        var latV = Option.empty[Double]; var lonV = Option.empty[Double]
        // 3 RATIONALs (deg/min/sec) at the entry's value offset →
        // decimal degrees; a zero denominator voids the fix
        def dms(fieldP: Int): Option[Double] = {
          val p = tiff + u32(b, fieldP, le).toInt
          if (p + 24 > hi) return None
          val vs = (0 until 3).map { k =>
            val num = u32(b, p + k * 8, le)
            val den = u32(b, p + k * 8 + 4, le)
            if (den == 0L) return None
            num.toDouble / den.toDouble
          }
          Some(vs(0) + vs(1) / 60.0 + vs(2) / 3600.0)
        }
        var j = 0
        while (j < gn) {
          val e = gifd + 2 + j * 12
          if (e + 12 <= hi) {
            val tag = u16(b, e, le)
            val fieldP = e + 8
            tag match {
              case 0x0001 => latRef = new String(b, fieldP, 1, "ISO-8859-1")
              case 0x0002 => latV = dms(fieldP)
              case 0x0003 => lonRef = new String(b, fieldP, 1, "ISO-8859-1")
              case 0x0004 => lonV = dms(fieldP)
              case _ => ()
            }
          }
          j += 1
        }
        lat = latV.map(v => if (latRef == "S") -v else v)
        lon = lonV.map(v => if (lonRef == "W") -v else v)
      }
      (make, orient, dt, lat, lon)
    }

    /** Probe a JPEG payload; None when the bytes are not a JPEG. */
    def probe(b: Array[Byte]): Option[JpegMeta] = {
      if (b == null || b.length < 4) return None
      if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return None
      var hasJfif = false; var xd = 0; var yd = 0
      var make = ""; var orient = 0; var dt = ""
      var gpsLat = Option.empty[Double]; var gpsLon = Option.empty[Double]
      var w = 0; var h = 0; var prec = 0; var nc = 0
      var prog = false; var nSeg = 0
      var p = 2
      try {
        var done = false
        while (!done && p + 4 <= b.length) {
          if ((b(p) & 0xFF) != 0xFF) { done = true }
          else {
            val m = b(p + 1) & 0xFF
            if (m == 0xD9 || m == 0xDA) { // EOI / SOS: stop the walk
              if (m == 0xDA) nSeg += 1
              done = true
            } else {
              val len = u16(b, p + 2, le = false)
              val lo = p + 4
              val hi = math.min(p + 2 + len, b.length)
              nSeg += 1
              if (m == 0xE0 && hi - lo >= 14 &&
                new String(b, lo, 5, "ISO-8859-1") == "JFIF\u0000") {
                hasJfif = true
                xd = u16(b, lo + 8, le = false)
                yd = u16(b, lo + 10, le = false)
              } else if (m == 0xE1 && hi - lo >= 8 &&
                new String(b, lo, 6, "ISO-8859-1") == "Exif\u0000\u0000") {
                val t = parseTiff(b, lo + 6, hi)
                make = t._1; orient = t._2; dt = t._3
                gpsLat = t._4; gpsLon = t._5
              } else if (m >= 0xC0 && m <= 0xCF && m != 0xC4 &&
                m != 0xC8 && m != 0xCC && hi - lo >= 6) {
                prec = b(lo) & 0xFF
                h = u16(b, lo + 1, le = false)
                w = u16(b, lo + 3, le = false)
                nc = b(lo + 5) & 0xFF
                prog = m == 0xC2 || m == 0xC6 || m == 0xCA || m == 0xCE
              }
              p = p + 2 + len
            }
          }
        }
        Some(JpegMeta(hasJfif, xd, yd, make, orient, dt, w, h, prec, nc,
          prog, nSeg, gpsLat, gpsLon))
      } catch { case _: IndexOutOfBoundsException => None }
    }
  }

  /** JPEG table from documents: each doc gets a real JFIF+EXIF file
    * with closed-form fields (byte order, density, camera make,
    * orientation, timestamp, dimensions, progressive flag all keyed on
    * doc_id) — the oracle regenerates the formulas, the byte layer
    * cancels. */
  def jpegFromDocs(docs: DataFrame): DataFrame = {
    val jpegUdf = udf((docId: Long) =>
      JpegExif.encodeJpeg(
        littleEndian = docId % 2 == 0,
        xDensity = 72 + (docId % 4).toInt * 24,
        yDensity = 72 + (docId % 3).toInt * 24,
        make = "cam" + (docId % 5),
        orientation = 1 + (docId % 8).toInt,
        datetime = f"2026:01:${1 + docId % 28}%02d 12:${docId % 60}%02d:00",
        width = 8 + (docId % 7).toInt * 8,
        height = 8 + (docId % 5).toInt * 8,
        progressive = docId % 3 == 0,
        // GEOTAGGED on the %3!=2 subset: closed-form DMS rationals in
        // the 28-29°N / 77-78°E band (straddling the demo pixel grid,
        // so the x148 cell join keeps some and drops some), with S/W
        // hemispheres on deterministic slices exercising the sign path
        gps = if (docId % 3 == 2) None
        else Some(JpegExif.GpsFix(
          latRef = if (docId % 4 == 1) "S" else "N",
          latDeg = 28, latMin = (docId % 60).toInt,
          latSecNum = ((docId * 37) % 6000).toInt,
          lonRef = if (docId % 8 == 5) "W" else "E",
          lonDeg = 77, lonMin = ((docId * 3) % 60).toInt,
          lonSecNum = ((docId * 91) % 6000).toInt))))
    // NOT spread: a probe input (see mediaTable)
    mediaTable(docs, jpegUdf(col("doc_id")), "image", "image/jpeg")
  }

  /** JPEG metadata extraction over payload batches — segment walk only,
    * never entropy bytes; per-task prober, no shuffle (the x47 shape).
    * Non-JPEG rows drop. */
  def probeJpegExif(media: DataFrame): DataFrame =
    payloadPass(media, "has_jfif" -> BooleanType, "x_density" -> IntegerType,
        "y_density" -> IntegerType, "make" -> StringType,
        "orientation" -> IntegerType, "exif_datetime" -> StringType,
        "width" -> IntegerType, "height" -> IntegerType,
        "progressive" -> BooleanType, "n_segments" -> IntegerType) {
      (id, payload) =>
        JpegExif.probe(payload).map { m =>
          Row(id, m.hasJfif, m.xDensity, m.yDensity, m.make, m.orientation,
            m.datetime, m.width, m.height, m.progressive, m.nSegments)
        }
    }

  /** GPS fixes off JPEG payload batches — the geotag layer of
    * [[probeJpegExif]] as the narrow (media_id, lon, lat) table a
    * spatial join wants: rows without a complete GPS sub-IFD drop.
    * Same per-task prober, no shuffle; decimal degrees signed by
    * hemisphere ref. */
  def probeJpegGps(media: DataFrame): DataFrame =
    payloadPass(media, "lon" -> DoubleType, "lat" -> DoubleType) {
      (id, payload) =>
        JpegExif.probe(payload).flatMap { m =>
          for (la <- m.gpsLat; lo <- m.gpsLon) yield Row(id, lo, la)
        }
    }

  /** Frame-header metadata extraction over payload batches — header walk
    * only, payload bits never read; per-task prober, no shuffle (the
    * x47/x48 shape). Rows that are not ADTS or MPEG-1 Layer III drop. */
  def probeFrameAudio(media: DataFrame): DataFrame =
    payloadPass(media, "format" -> StringType, "sample_rate" -> IntegerType,
        "n_channels" -> IntegerType, "n_frames" -> LongType,
        "duration_sec" -> DoubleType, "bitrate_bps" -> DoubleType) {
      (id, payload) =>
        FrameAudioProbe.probe(payload).map { m =>
          Row(id, m.format, m.sampleRate, m.nChannels, m.nFrames,
            m.durationSec, m.bitrateBps)
        }
    }
}
