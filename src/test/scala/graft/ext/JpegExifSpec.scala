package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class JpegExifSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import Multimodal.JpegExif

  test("writer/prober round trip in BOTH TIFF byte orders") {
    for (le <- Seq(true, false)) {
      val b = JpegExif.encodeJpeg(littleEndian = le, xDensity = 96,
        yDensity = 120, make = "camX", orientation = 6,
        datetime = "2026:01:07 12:33:00", width = 40, height = 24,
        progressive = false)
      val m = JpegExif.probe(b).get
      assert(m.hasJfif && m.xDensity == 96 && m.yDensity == 120)
      assert(m.make == "camX" && m.orientation == 6)
      assert(m.datetime == "2026:01:07 12:33:00")
      assert(m.width == 40 && m.height == 24 && m.precision == 8)
      assert(m.nComponents == 3 && !m.progressive && m.nSegments == 5)
    }
  }

  test("GPS sub-IFD round trip: both byte orders, all four hemisphere " +
       "combinations, sub-second rationals, GPS-less files yield None") {
    for (le <- Seq(true, false);
         (latRef, lonRef, sLat, sLon) <- Seq(("N", "E", 1, 1),
           ("S", "E", -1, 1), ("N", "W", 1, -1), ("S", "W", -1, -1))) {
      val b = JpegExif.encodeJpeg(littleEndian = le, xDensity = 72,
        yDensity = 72, make = "camG", orientation = 1,
        datetime = "2026:02:03 04:05:00", width = 16, height = 16,
        progressive = false,
        gps = Some(JpegExif.GpsFix(latRef, 28, 39, 1234,
          lonRef, 77, 5, 4321)))
      val m = JpegExif.probe(b).get
      // the non-GPS fields survive the extra IFD0 entry + sub-IFD
      assert(m.make == "camG" && m.datetime == "2026:02:03 04:05:00")
      val wantLat = sLat * (28.0 + 39.0 / 60.0 + (1234.0 / 100.0) / 3600.0)
      val wantLon = sLon * (77.0 + 5.0 / 60.0 + (4321.0 / 100.0) / 3600.0)
      assert(m.gpsLat.contains(wantLat), s"lat le=$le $latRef")
      assert(m.gpsLon.contains(wantLon), s"lon le=$le $lonRef")
    }
    val plain = JpegExif.encodeJpeg(littleEndian = true, xDensity = 72,
      yDensity = 72, make = "c", orientation = 1,
      datetime = "2026:01:01 00:00:00", width = 8, height = 8,
      progressive = false)
    val m = JpegExif.probe(plain).get
    assert(m.gpsLat.isEmpty && m.gpsLon.isEmpty)
  }

  test("progressive SOF2 is recognized") {
    val b = JpegExif.encodeJpeg(littleEndian = true, xDensity = 72,
      yDensity = 72, make = "c", orientation = 1,
      datetime = "2026:01:01 00:00:00", width = 8, height = 8,
      progressive = true)
    assert(JpegExif.probe(b).get.progressive)
  }

  test("probes a REAL ImageIO-written JPEG (cross-codec interop)") {
    val gray = Array.fill[Byte](32 * 16)(100)
    val b = Multimodal.MjpegCodec.jpegEncodeGray(gray, 32, 16)
    val m = JpegExif.probe(b).get
    // ImageIO emits an APP0 JFIF header and a baseline SOF0
    assert(m.hasJfif)
    assert(m.width == 32 && m.height == 16 && !m.progressive)
    // no EXIF in an ImageIO write — empty defaults, never garbage
    assert(m.make == "" && m.orientation == 0 && m.datetime == "")
  }

  test("non-JPEG and truncated bytes are rejected, not mangled") {
    assert(JpegExif.probe(null).isEmpty)
    assert(JpegExif.probe(Array[Byte](1, 2, 3)).isEmpty)
    assert(JpegExif.probe("PNGish".getBytes("ISO-8859-1")).isEmpty)
    val ok = JpegExif.encodeJpeg(littleEndian = true, xDensity = 72,
      yDensity = 72, make = "c", orientation = 1,
      datetime = "2026:01:01 00:00:00", width = 8, height = 8,
      progressive = false)
    // a torn tail still yields the fields parsed before the tear
    val torn = ok.take(ok.length / 2)
    assert(JpegExif.probe(torn).isDefined)
  }

  test("image passes over jpegFromDocs payloads: an undecodable JPEG " +
    "falls back to the stub, drops or is counted, never fails the job") {
    val s = spark
    import s.implicits._
    val media = Multimodal.jpegFromDocs((1L to 12L).toDF("doc_id"))
    val payloads = media.select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val bad = payloads.collect {
      case (id, p) if Multimodal.ImageCodec.decode(p).isEmpty => id
    }.toSet
    // the progressive structural JPEGs are what ImageIO rejects
    assert(bad.nonEmpty && bad.size < payloads.size)
    // extractFeatures: one row per payload, the byte histogram on a miss
    val feats = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats.keySet == payloads.keySet)
    bad.foreach(id => assert(
      feats(id) == Multimodal.FakeCodec.decodeFeatures(payloads(id)).toSeq))
    // imageHashes: the undecodable rows drop
    assert(Multimodal.imageHashes(media).collect().map(_.getLong(0)).toSet ==
      payloads.keySet -- bad)
    // contentProfile: every row counted, the undecodable ones undecoded
    val prof = Multimodal.contentProfile(media).collect()
    assert(prof.map(_.getAs[Long]("n")).sum == payloads.size)
    assert(prof.map(_.getAs[Long]("n_decoded")).sum == payloads.size - bad.size)
  }
}
