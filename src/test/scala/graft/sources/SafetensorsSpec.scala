package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.{SharedSpark, TempDirs}

class SafetensorsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def model = Map[String, Safetensors.Tensor](
    "b.weight" -> Safetensors.F64(Seq(2L, 2L),
      Array(1.5, -2.25, 0.0, 1e300)),
    "a.bias" -> Safetensors.F32(Seq(3L), Array(0.5f, -1.0f, 3.25f)))

  test("render: header length word, alignment, name-sorted contiguous " +
    "offsets, little-endian payload") {
    val bytes = Safetensors.render(model, Map("who" -> "spec"))
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val hlen = bb.getLong(0)
    assert(hlen % 8 == 0, s"header not 8-aligned: $hlen") // space-padded
    val header = new String(bytes, 8, hlen.toInt, "UTF-8")
    // a.bias sorts first -> offsets [0,12); b.weight follows at [12,44)
    assert(header.contains(
      """"a.bias":{"dtype":"F32","shape":[3],"data_offsets":[0,12]}"""))
    assert(header.contains(
      """"b.weight":{"dtype":"F64","shape":[2,2],"data_offsets":[12,44]}"""))
    assert(header.contains(""""__metadata__":{"who":"spec"}"""))
    // first F32 value sits right after the header, little-endian
    assert(bb.getFloat(8 + hlen.toInt) == 0.5f)
    assert(bytes.length == 8 + hlen + 12 + 32)
  }

  test("parse . render is the identity, bit-exact, metadata included") {
    val bytes = Safetensors.render(model, Map("k" -> "v"))
    val (ts, meta) = Safetensors.parse(bytes)
    assert(meta == Map("k" -> "v"))
    assert(ts.keySet == model.keySet)
    val b = ts("b.weight").asInstanceOf[Safetensors.F64]
    assert(b.shape == Seq(2L, 2L))
    assert(b.data.toSeq == Seq(1.5, -2.25, 0.0, 1e300)) // bit-exact F64
    val a = ts("a.bias").asInstanceOf[Safetensors.F32]
    assert(a.data.toSeq == Seq(0.5f, -1.0f, 3.25f))
  }

  test("determinism: equal models render byte-equal files regardless " +
    "of map insertion order") {
    val reordered = Map[String, Safetensors.Tensor](
      "a.bias" -> model("a.bias"), "b.weight" -> model("b.weight"))
    assert(Safetensors.render(model).toSeq ==
      Safetensors.render(reordered).toSeq)
  }

  test("validation: truncated buffer, bad offsets, unknown dtype") {
    val good = Safetensors.render(model)
    intercept[IllegalArgumentException] {
      Safetensors.parse(good.take(4))
    }
    intercept[IllegalArgumentException] {
      Safetensors.parse(
        ("""{"t":{"dtype":"F64","shape":[2],"data_offsets":[0,99]}}"""
          .getBytes("UTF-8") match {
            case h =>
              val bb = java.nio.ByteBuffer.allocate(8 + h.length + 16)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              bb.putLong(h.length.toLong); bb.put(h)
              bb.putDouble(1.0); bb.putDouble(2.0)
              bb.array()
          }))
    }
    intercept[IllegalArgumentException] {
      Safetensors.parse(
        ("""{"t":{"dtype":"I64","shape":[1],"data_offsets":[0,8]}}"""
          .getBytes("UTF-8") match {
            case h =>
              val bb = java.nio.ByteBuffer.allocate(8 + h.length + 8)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              bb.putLong(h.length.toLong); bb.put(h); bb.putDouble(1.0)
              bb.array()
          }))
    }
  }

  test("trained weights survive the file: stored scoring is bit-equal " +
    "to inline") {
    import spark.implicits._
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, ("tok " * (i + 2)).trim + " the and of",
        (20L + 15L * i))).toDF("doc_id", "text", "n_chars")
    val w = graft.ext.TextOps.trainLogisticWeights(docs)
    val w2 = TempDirs.withTempDir("st_spec") { dir =>
      val path = dir.resolve("m.safetensors").toString
      Safetensors.write(path,
        Map("w" -> Safetensors.F64(Seq(3L), w)))
      val (ts, _) = Safetensors.read(path)
      ts("w").asInstanceOf[Safetensors.F64].data
    }
    assert(w.toSeq == w2.toSeq) // bit-exact through the file
    val inline = graft.ext.TextOps.trainLogisticQuality(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val stored = graft.ext.TextOps.scoreLogisticQuality(docs, w2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inline == stored)
    // stored-model scoring needs NO label column: a corpus without
    // n_chars scores identically (the y projection is train-only)
    val unlabeled = docs.drop("n_chars")
    val storedNoLabel = graft.ext.TextOps.scoreLogisticQuality(unlabeled, w2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(storedNoLabel == stored)
  }
}
