package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ext.Multimodal.{AviCodec, MjpegCodec}

class MjpegSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("flat frames round-trip EXACTLY through JPEG + MJPEG container") {
    val frames = Seq(0, 17, 128, 200, 255).map(v =>
      Array.fill[Byte](64)(v.toByte))
    val avi = MjpegCodec.encodeAviMjpeg(frames, 8, 8, fps = 10)
    val back = MjpegCodec.decodeAviMjpeg(avi)
    assert(back.isDefined)
    val a = back.get
    assert(a.width == 8 && a.height == 8 && a.fps == 10)
    assert(a.frames.length == frames.length)
    a.frames.zip(frames).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got.sameElements(want), s"flat frame $i not exact")
    }
  }

  test("textured frames decode within JPEG tolerance at quality 1.0") {
    val frame = Array.tabulate[Byte](16 * 16)(i =>
      ((i * 7 + (i / 16) * 3) % 256).toByte)
    val avi = MjpegCodec.encodeAviMjpeg(Seq(frame), 16, 16)
    val got = MjpegCodec.decodeAviMjpeg(avi).get.frames.head
    val maxErr = got.zip(frame)
      .map { case (a, b) => math.abs((a & 0xFF) - (b & 0xFF)) }.max
    assert(maxErr <= 4, s"quality-1.0 JPEG drifted by $maxErr gray levels")
  }

  test("codec probes are mutually exclusive and never throw") {
    val gray = AviCodec.encodeAviGray(Seq(Array.fill[Byte](64)(9)), 8, 8)
    val mjpg = MjpegCodec.encodeAviMjpeg(Seq(Array.fill[Byte](64)(9)), 8, 8)
    assert(MjpegCodec.decodeAviMjpeg(gray).isEmpty, "MJPEG decoded a DIB AVI")
    assert(AviCodec.decodeAviGray(mjpg).isEmpty, "DIB decoded an MJPEG AVI")
    // torn/junk payloads probe to None — a tear mid-movi leaves no
    // complete frame chunk
    assert(MjpegCodec.decodeAviMjpeg(mjpg.take(mjpg.length / 3)).isEmpty)
    assert(MjpegCodec.decodeAviMjpeg("junk".getBytes).isEmpty)
    assert(MjpegCodec.decodeAviMjpeg(null).isEmpty)
    assert(MjpegCodec.decodeAviMjpeg(Array.empty[Byte]).isEmpty)
  }

  test("ffmpeg-style interop: fps and frame order preserved") {
    val frames = (0 until 6).map(k => Array.fill[Byte](64)((k * 40).toByte))
    val avi = MjpegCodec.encodeAviMjpeg(frames, 8, 8, fps = 25)
    val a = MjpegCodec.decodeAviMjpeg(avi).get
    assert(a.fps == 25)
    assert(a.frames.map(f => f(0) & 0xFF) == (0 until 6).map(k => k * 40))
  }
  test("MP4 'jpeg' sample track: encode -> demux round-trips samples " +
    "byte-exactly; flat frames decode to exact pixels; probe agrees") {
    import graft.ext.Multimodal.Mp4Probe
    val frames = Seq(0, 17, 128, 200, 255).map(v =>
      Array.fill[Byte](64)(v.toByte))
    val jpegs = frames.map(MjpegCodec.jpegEncodeGray(_, 8, 8))
    val mp4 = Mp4Probe.encodeMp4Jpeg(jpegs, 8, 8)
    val got = Mp4Probe.jpegSamples(mp4)
    assert(got.length == jpegs.length)
    got.zip(jpegs).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.sameElements(w), s"sample $i not byte-exact") }
    // the pixel layer: DC-only frames decode exactly
    got.zip(frames).foreach { case (j, f) =>
      assert(MjpegCodec.jpegDecodeGray(j).get._1.sameElements(f)) }
    // the metadata prober reads the same file consistently
    val meta = Mp4Probe.probe(mp4).get
    assert(meta.videoCodec == "jpeg" && meta.nFrames == frames.length &&
      meta.width == 8 && meta.height == 8)
  }

  test("MP4 demux torn-tail/junk/foreign-codec discipline") {
    import graft.ext.Multimodal.Mp4Probe
    val jpegs = Seq(10, 60, 210).map(v =>
      MjpegCodec.jpegEncodeGray(Array.fill[Byte](64)(v.toByte), 8, 8))
    val mp4 = Mp4Probe.encodeMp4Jpeg(jpegs, 8, 8)
    // tear mid-second-sample: only the first survives (moov precedes
    // mdat in this writer, so the table itself is intact)
    val full = Mp4Probe.jpegSamples(mp4)
    val cut = mp4.length - jpegs(2).length - jpegs(1).length / 2
    val torn = Mp4Probe.jpegSamples(java.util.Arrays.copyOf(mp4, cut))
    assert(torn.length == 1 && torn.head.sameElements(full.head))
    // junk and non-BMFF never throw
    assert(Mp4Probe.jpegSamples("garbage".getBytes).isEmpty)
    assert(Mp4Probe.jpegSamples(null).isEmpty)
    // a foreign-codec MP4 (the avc1 metadata skeleton) yields no
    // samples — FakeCodec stays the documented boundary there
    val avc = Mp4Probe.encodeMp4(1000, 4000, 64, 48, "avc1", "mp4a", 7)
    assert(Mp4Probe.jpegSamples(avc).isEmpty)
  }

  test("MP4 demux handles fixed-size stsz and multi-chunk stsc runs " +
    "(the external-file layouts this writer does not emit)") {
    import graft.ext.Multimodal.Mp4Probe
    // hand-build: 4 equal 4-byte samples, chunks of 3 + 1, fixed size
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def bx(t: String, ps: Array[Byte]*): Array[Byte] = {
      val n = 8 + ps.map(_.length).sum
      be32(n) ++ t.getBytes("US-ASCII") ++ ps.flatten
    }
    val samples = (0 until 4).map(i => Array.tabulate[Byte](4)(j =>
      (i * 16 + j).toByte))
    val stsd = bx("stsd", be32(0), be32(1),
      bx("jpeg", new Array[Byte](6), Array[Byte](0, 1)))
    val stsz = bx("stsz", be32(0), be32(4), be32(4)) // fixed size 4
    val stsc = bx("stsc", be32(0), be32(2),
      be32(1), be32(3), be32(1),   // chunk 1: 3 samples
      be32(2), be32(1), be32(1))   // chunk 2+: 1 sample
    val hdlr = bx("hdlr", be32(0), be32(0), "vide".getBytes,
      new Array[Byte](12), Array[Byte](0))
    // compute chunk offsets AFTER sizing the head: head = moov only,
    // samples appended raw after it (no mdat box needed by the walk)
    def moovWith(c1: Long, c2: Long): Array[Byte] = {
      val stco = bx("stco", be32(0), be32(2), be32(c1), be32(c2))
      val stbl = bx("stbl", stsd, stsz, stsc, stco)
      val minf = bx("minf", stbl)
      val mdia = bx("mdia", hdlr, minf)
      bx("moov", bx("trak", mdia))
    }
    val m0 = moovWith(0, 0)
    val c1 = m0.length.toLong
    val file = moovWith(c1, c1 + 12) ++ samples.flatten
    val got = Mp4Probe.jpegSamples(file)
    assert(got.length == 4)
    got.zip(samples).foreach { case (g, w) => assert(g.sameElements(w)) }
  }

  /** SHA-256 of a payload as lower-case hex. */
  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  test("container bytes are pinned: DIB AVI, MJPEG AVI and MP4-JPEG") {
    // 6×5 textured frames: the DIB rows pad to an 8-byte stride
    val frames = (0 until 3).map(k => Array.tabulate[Byte](30)(i =>
      ((k * 37 + i * 11) % 256).toByte))
    assert(sha256(AviCodec.encodeAviGray(frames, 6, 5, fps = 25)) ==
      "c5e563e88e8b7841ed921f1846ca91c7b17392704f5d7dcbff8179ff0021bb6e")
    assert(sha256(MjpegCodec.encodeAviMjpeg(frames, 6, 5, fps = 15)) ==
      "874e2ee1cbfac4919115ce1c4ba8442c6b176677be456bb65ef83b74c71fd7c7")
    val s = spark
    import s.implicits._
    val mp4 = Multimodal.mp4JpegFromDocs(Seq(7L).toDF("doc_id"), nFrames = 3)
      .select("payload").head.getAs[Array[Byte]](0)
    assert(sha256(mp4) ==
      "4a975e4ebe2729fee5ef884bad6090d1d3bc2f3d6c16199a369b25f67201eefc")
  }

  /** (doc_id, frame_idx) -> mean_lum of a sampler's output. */
  private def lums(df: DataFrame): Map[(Long, Int), Double] =
    df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap

  test("MJPEG and MP4-JPEG samplers: closed-form mean_lum of every n-th " +
    "frame, and no rows on another container's media") {
    val s = spark
    import s.implicits._
    val docs = Seq(1L, 2L, 9L, 20L).toDF("doc_id")
    // frame k of doc d is flat (d·13 + k·29) mod 256, DC-exact in JPEG
    def want(nFrames: Int, everyNth: Int) = (for {
      d <- Seq(1L, 2L, 9L, 20L); k <- 0 until nFrames by everyNth
    } yield (d, k) -> ((d * 13 + k * 29) % 256).toDouble).toMap
    val mjpeg = Multimodal.mjpegFromDocs(docs, nFrames = 5)
    val mp4 = Multimodal.mp4JpegFromDocs(docs, nFrames = 5)
    assert(lums(Multimodal.sampleMjpegFrames(mjpeg, 2)) == want(5, 2))
    assert(lums(Multimodal.sampleMjpegFrames(mjpeg, 1)) == want(5, 1))
    assert(lums(Multimodal.sampleMp4JpegFrames(mp4, 2)) == want(5, 2))
    assert(lums(Multimodal.sampleMp4JpegFrames(mp4, 3)) == want(5, 3))
    intercept[IllegalArgumentException](Multimodal.sampleMjpegFrames(mjpeg, 0))
    intercept[IllegalArgumentException](Multimodal.sampleMp4JpegFrames(mp4, 0))
    // each sampler drops every other container's payloads
    val avi = Multimodal.aviFromDocs(docs)
    val gif = Multimodal.videoFromDocs(docs)
    assert(Multimodal.sampleAviFrames(mjpeg, 1).count() == 0)
    assert(Multimodal.sampleAviFrames(mp4, 1).count() == 0)
    assert(Multimodal.sampleMjpegFrames(avi, 1).count() == 0)
    assert(Multimodal.sampleMjpegFrames(mp4, 1).count() == 0)
    assert(Multimodal.sampleMp4JpegFrames(avi, 1).count() == 0)
    assert(Multimodal.sampleMp4JpegFrames(mjpeg, 1).count() == 0)
    assert(Multimodal.sampleMp4JpegFrames(gif, 1).count() == 0)
    assert(Multimodal.sampleVideoFrames(mjpeg, 1).count() == 0)
  }

  test("MjpegCodec alone turns off ImageIO's disk stream cache") {
    // The switch is JVM-wide and any other codec object may already have
    // flipped it, so load MjpegCodec fresh in its own class loader (JDK
    // classes, ImageIO included, still come from the shared boot layer)
    // and check that its initializer alone clears the flag.
    def where(c: Class[_]) = c.getProtectionDomain.getCodeSource.getLocation
    val loader = new java.net.URLClassLoader(
      Array(where(MjpegCodec.getClass), where(classOf[scala.Option[_]])),
      ClassLoader.getPlatformClassLoader)
    javax.imageio.ImageIO.setUseCache(true)
    try {
      Class.forName(MjpegCodec.getClass.getName, true, loader)
      assert(!javax.imageio.ImageIO.getUseCache)
    } finally {
      javax.imageio.ImageIO.setUseCache(false)
      loader.close()
    }
  }
}
