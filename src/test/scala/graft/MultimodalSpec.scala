package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaBlob

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("pngEncode emits genuine PNG bytes; pngDecode round-trips exactly") {
    val content = "hello world! a real codec now".getBytes("UTF-8")
    val blob = Multimodal.pngEncode(7L, content)
    // the payload is a PNG stream, not the source bytes: signature,
    // IHDR chunk, and (deflate making structured data smaller or at
    // least different) no embedded plaintext run of the input
    assert(blob.png.take(8).map(_ & 0xFF).toSeq ==
      Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
    assert(new String(blob.png.slice(12, 16), "US-ASCII") == "IHDR")
    assert(!blob.png.containsSlice(content),
      "png must be an encoding, not a passthrough of the source bytes")
    val f = Multimodal.pngDecode(blob)
    assert(f.roundtrip_ok, "decode must recover every pixel")
    assert(f.width == 16 && f.height == 2 && f.n_bytes == content.length)
    assert(f.histogram.sum == 32L) // 29 content + 3 padding pixels
    assert(f.px_sum == content.map(_ & 0xFF).map(_.toLong).sum)
    // empty payload → 16×1 black image, still a valid PNG round-trip
    val empty = Multimodal.pngDecode(Multimodal.pngEncode(1L, Array.empty))
    assert(empty.width == 16 && empty.height == 1 && empty.px_sum == 0L)
    assert(empty.roundtrip_ok)
    // a non-PNG payload is rejected by the decoder, not silently read
    intercept[IllegalArgumentException] {
      Multimodal.pngDecode(blob.copy(png = content))
    }
  }

  test("the in-memory PNG codec writes ImageIO.write's bytes and reads them back") {
    val rnd = new scala.util.Random(11)
    val contents = Seq(Array.emptyByteArray, "x".getBytes("UTF-8"),
      Array.fill(300)(rnd.nextInt(256).toByte), Array.fill(4096)(7.toByte))
    contents.zipWithIndex.foreach { case (content, i) =>
      // the image pngEncode builds, written by the disk-cached ImageIO path
      val (w, h) = (16, math.max(1, (content.length + 15) / 16))
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, java.util.Arrays.copyOf(content, w * h))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      val blob = Multimodal.pngEncode(i.toLong, content)
      assert(blob.png.sameElements(bos.toByteArray), s"content $i")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(java.util.Arrays.copyOf(content, w * h))
        .map(b => f"${b & 0xFF}%02x").mkString
      assert(blob.src_md5 == md5, s"content $i")
      assert(Multimodal.pngDecode(blob).roundtrip_ok, s"content $i")
    }
  }

  test("wavEncode emits genuine RIFF/WAVE bytes; wavDecode round-trips") {
    val content = "audio codec test".getBytes("UTF-8")
    val blob = Multimodal.wavEncode(9L, content)
    assert(new String(blob.wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(blob.wav.slice(8, 12), "US-ASCII") == "WAVE")
    val f = Multimodal.wavDecode(blob)
    assert(f.roundtrip_ok && f.n_samples == content.length)
    assert(f.sample_rate == 8000 && f.channels == 1 && f.bits == 16)
    // hand-check the sample mapping on the first byte: 'a'=97 → 16896
    assert(f.peak == content.map(b => math.abs(((b & 0xFF) - 64) * 512)).max)
    val samples = content.map(b => ((b & 0xFF) - 64) * 512)
    assert(f.sum_sq == samples.map(s => s.toLong * s).sum)
    assert(f.zero_cross ==
      samples.sliding(2).count(p => p(0).toLong * p(1) < 0))
    // empty payload → header-only WAVE, zero samples, valid round-trip
    val empty = Multimodal.wavDecode(Multimodal.wavEncode(1L, Array.empty))
    assert(empty.n_samples == 0 && empty.roundtrip_ok)
    intercept[IllegalArgumentException] {
      Multimodal.wavDecode(blob.copy(wav = content))
    }
  }

  test("fakeFrameSample: stride keyframes, bounded output, exact means") {
    // 300 bytes = 5 frames (64,64,64,64,44); stride 4 samples frames 0, 4
    val bytes = (0 until 300).map(i => (i % 250).toByte).toArray
    val f = Multimodal.fakeFrameSample(MediaBlob(1L, "v.mp4", bytes))
    assert(f.length == 2)
    assert(f(0) == (0 until 64).map(i => i % 250).sum / 64)
    assert(f(1) == (256 until 300).map(i => i % 250).sum / 44)
    // bounded at 8 samples no matter how long the payload
    val long = Array.fill(64 * 400)(7.toByte)
    assert(Multimodal.fakeFrameSample(MediaBlob(2L, "v.mp4", long)).length == 8)
    assert(Multimodal.fakeFrameSample(MediaBlob(3L, "v.mp4", Array.empty)).isEmpty)
  }

  test("fakeResize: block averages computed exactly, empty blocks zero") {
    // 32 bytes = a 16-wide, 2-row "image"; 4×4 grid over 2 rows means the
    // y-blocks collapse pairwise onto the two source rows
    val bytes = (0 until 32).map(_.toByte).toArray
    val t = Multimodal.fakeResize(MediaBlob(1L, "x.png", bytes))
    assert(t.length == 16)
    // row 0 of the thumb = averages of bytes 0..15 in blocks of 4:
    // (0+1+2+3)/4=1, (4..7)/4=5, 9, 13
    assert(t.slice(0, 4).toSeq == Seq(1, 5, 9, 13))
    // determinism + clamp range
    assert(t.toSeq == Multimodal.fakeResize(MediaBlob(1L, "x.png", bytes)).toSeq)
    assert(t.forall(v => v >= 0 && v <= 255))
    assert(Multimodal.fakeResize(MediaBlob(2L, "y.png", Array.empty[Byte])).toSeq ==
      Seq.fill(16)(0))
  }

  test("resize query: one thumbnail row per document, fixed 16-value grid") {
    val rows = Multimodal.qMultimodalResize(spark, TestSpark.sf0001).collect()
    val n = Tables.documents(spark, TestSpark.sf0001).count()
    assert(rows.length == n)
    rows.foreach { r =>
      val t = r.getString(2).split(",").map(_.toInt)
      assert(t.length == 16)
      assert(t.forall(v => v >= 0 && v <= 255))
    }
  }

  test("embed query: stub embeddings are unit vectors; top-k matches an exact in-memory recompute") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8")).toMap
    def embed(bytes: Array[Byte]): Array[Double] = {
      val h = new Array[Double](16)
      bytes.foreach(b => h((b & 0xFF) >> 4) += 1d)
      val n = math.sqrt(h.map(x => x * x).sum)
      if (n == 0) h else h.map(_ / n)
    }
    val embs = docs.view.mapValues(embed).toMap
    embs.values.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9)
    }
    // left-to-right cosine fold, identical to the codegen kernel's order
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // the query ranks the 6-dp-rounded cosine (so near-1 kernel/DuckDB
    // ulp differences tie instead of ordering differently) — mirror that
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = embs.keys.filter(_ % 100 == 0).toSeq.sorted.flatMap { p =>
      embs.toSeq.filter(_._1 != p)
        .map { case (id, v) => (r6(cos(embs(p), v)), id) }
        .sortBy { case (c, id) => (-c, id) }.take(5).zipWithIndex
        .map { case ((c, id), i) => (p, id, c, i + 1) }
    }
    val got = Multimodal.qMultimodalEmbed(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == expected)
  }

  test("image dedup: identical payloads hash equal; pigeonhole == brute force") {
    val a = Multimodal.aHashOf(Multimodal.pngEncode(1L,
      "the same payload bytes".getBytes("UTF-8")))
    val b = Multimodal.aHashOf(Multimodal.pngEncode(2L,
      "the same payload bytes".getBytes("UTF-8")))
    assert((a.hi, a.lo) == (b.hi, b.lo))

    val pairs = Multimodal.qMultimodalImagedup(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every injected exact copy decodes to an identical image → Hamming 0
    val atZero = pairs.filter(p => p._3 == 0L).map(p => (p._1, p._2)).toSet
    (0L until 50L).foreach { id =>
      assert(atZero.contains((id, id + 100000)), s"missing exact pair $id")
    }
    // blocking completeness: brute-force over the collected hashes finds
    // exactly the same radius-3 pair set
    val hashes = graft.operators.Dedup.corpus(spark, TestSpark.sf0001)
      .collect().map { r =>
        val h = Multimodal.aHashOf(Multimodal.pngEncode(r.getLong(0),
          r.getString(1).getBytes("UTF-8")))
        (h.doc_id, h.hi, h.lo)
      }
    val brute = (for {
      (d1, h1, l1) <- hashes; (d2, h2, l2) <- hashes if d1 < d2
      ham = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
      if ham <= 3
    } yield (d1, d2, ham.toLong)).toSet
    assert(pairs.toSet == brute)
  }

  test("decode query: real PNG round-trip for every document") {
    val feats = Multimodal.qMultimodalDecode(spark, TestSpark.sf0001).collect()
    val meta = Multimodal.qMultimodalMeta(spark, TestSpark.sf0001).collect()
    assert(feats.length == meta.length)
    val metaBytes = meta.map(r => r.getLong(0) -> r.getInt(2)).toMap
    feats.foreach { r =>
      val (nBytes, w, h) = (r.getInt(1), r.getInt(2), r.getInt(3))
      assert(nBytes == metaBytes(r.getLong(0)))
      assert(w == 16 && h == math.max(1, (nBytes + 15) / 16))
      // the decoded histogram covers every pixel incl. final-row padding
      assert(r.getString(4).split(",").map(_.toLong).sum == w.toLong * h)
      // the codec really recovered the payload for every single row
      assert(r.getBoolean(7), s"round-trip failed for doc ${r.getLong(0)}")
    }
  }
}
