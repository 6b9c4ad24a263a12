package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.Mime

/** Multimodal-column family (north-star extension): treat image/audio/video
  * payloads as opaque `binary` columns with typed metadata, and run
  * decode/feature-extraction as batched per-partition functions.
  *
  * The DECODE stage is a real codec: the JDK's `javax.imageio` PNG
  * writer/reader ([[pngEncode]]/[[pngDecode]]) — genuine compressed
  * image bytes flow through the binary column, and the decode
  * `mapPartitions` parses them back to pixels (round-trip asserted
  * per-row via content hash). The RESIZE and EMBED stages remain
  * clearly-marked deterministic stubs ([[fakeResize]]/[[fakeEmbed]]) —
  * no scaler/model libraries in this container — with the real Spark
  * plumbing (typed `Dataset` boundary, partition-batched processing,
  * output schema) a production implementation slots into.
  *
  * Scale notes: encode/decode are per-row CPU work with no shuffle —
  * embarrassingly parallel; `mapPartitions` amortizes any per-task decoder
  * initialization (model load, codec context) across the partition,
  * exactly why the batched form beats a per-row UDF at 100 TB.
  */
object Multimodal {

  /** A binary payload row (fixture: utf-8 bytes of `documents.text`
    * standing in for media bytes). */
  case class MediaBlob(doc_id: Long, filename: String, content: Array[Byte])

  private def synthFilename = concat(lit("media_"), col("doc_id"),
    element_at(typedlit(Seq(".png", ".jpg", ".wav", ".mp4")),
      (col("doc_id") % 4 + 1).cast("int")))

  /** Metadata projection over the binary column (oracle-checked):
    * byte length, content hash, filename-derived MIME class. */
  def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), synthFilename.as("filename"),
        col("text").cast("binary").as("content"))
      .select(col("doc_id"), col("filename"),
        octet_length(col("content")).as("n_bytes"),
        md5(col("content")).as("content_md5"),
        Mime.mimeOf(col("filename")).as("mime_type"))
      .orderBy("doc_id")

  /** A real compressed image payload: `png` holds genuine PNG bytes
    * (signature, IHDR, zlib-deflated scanlines) produced by the JDK
    * encoder; `src_md5` is the pre-encode pixel hash the decode stage
    * verifies the round-trip against. */
  case class PngBlob(doc_id: Long, n_bytes: Int, src_md5: String,
      png: Array[Byte])

  /** Decoded-image features: dimensions from the PNG header, nibble
    * histogram and pixel sum over the DECODED samples, and the
    * round-trip proof bit. */
  case class PngFeatures(doc_id: Long, n_bytes: Int, width: Int,
      height: Int, histogram: Array[Long], px_sum: Long,
      roundtrip_ok: Boolean)

  /** Hex via digit lookup, as `ScrapeTws.genUuid` does, not one
    * `f"%02x"` Formatter per byte. */
  private def md5hex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(32)
    java.security.MessageDigest.getInstance("MD5").digest(bytes).foreach { b =>
      sb.append(Character.forDigit((b >> 4) & 0xf, 16))
      sb.append(Character.forDigit(b & 0xf, 16))
    }
    sb.toString
  }

  /** `ImageIO.write(img, "png", out)` without its disk cache: ImageIO's
    * stream factory backs an `OutputStream` with a temporary file in
    * `java.io.tmpdir` by default, one per image. The same PNG writer on
    * an in-memory stream writes the same bytes. (`ImageIO.setUseCache`
    * would do it for the whole JVM.) */
  private def pngWrite(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    try { writer.setOutput(out); writer.write(img) }
    finally { writer.dispose(); out.close() }
    bos.toByteArray
  }

  /** `ImageIO.read` of PNG bytes through an in-memory stream (see
    * [[pngWrite]]). */
  private def pngRead(png: Array[Byte]): java.awt.image.BufferedImage = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(png))
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
    try { reader.setInput(in, true, true); reader.read(0) }
    finally { reader.dispose(); in.close() }
  }

  /** REAL image encode (JDK `javax.imageio`): the payload bytes become
    * the samples of a 16-px-wide 8-bit grayscale image (last row
    * zero-padded; empty payloads produce a 16×1 black image) written
    * through the PNG codec — deflate compression, filters, the works.
    * Runs inside `mapPartitions`, one encoder context per task. */
  def pngEncode(docId: Long, content: Array[Byte]): PngBlob = {
    val w = 16
    val h = math.max(1, (content.length + w - 1) / w)
    val pixels = java.util.Arrays.copyOf(content, w * h)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, pixels)
    PngBlob(docId, content.length, md5hex(pixels), pngWrite(img))
  }

  /** REAL image decode: parses the PNG bytes (signature checked — this
    * is not looking at the source text) back to dimensions and samples,
    * builds the high-nibble histogram + pixel sum from the DECODED
    * data, and proves the round-trip by hash. */
  def pngDecode(b: PngBlob): PngFeatures = {
    val magic = Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte)
    require(b.png.length > 8 && b.png.take(4).sameElements(magic),
      s"doc ${b.doc_id}: payload is not a PNG")
    val img = pngRead(b.png)
    val (w, h) = (img.getWidth, img.getHeight)
    val pixels = new Array[Byte](w * h)
    img.getRaster.getDataElements(0, 0, w, h, pixels)
    val hist = new Array[Long](16)
    var sum = 0L
    pixels.foreach { p =>
      val v = p & 0xFF; hist(v >> 4) += 1; sum += v
    }
    PngFeatures(b.doc_id, b.n_bytes, w, h, hist, sum,
      md5hex(pixels) == b.src_md5)
  }

  /** Two-stage REAL codec pipeline over the typed Dataset boundary
    * (oracle-checked; semantics also covered by MultimodalSpec):
    * encode the payload into genuine PNG bytes, then decode those bytes
    * back in a second partition-batched stage and report what the
    * DECODER saw. The oracle can grade it because the decoded
    * dimensions/histogram/pixel-sum are recomputable from the source
    * text (lossless codec), while `roundtrip_ok` pins the codec
    * actually recovering every sample; the PNG byte stream itself is
    * codec-version-dependent and deliberately not an output column.
    *
    * The array-valued histogram serializes to a CSV string at the
    * output boundary: the driver's rows-check sorts/hashes every column
    * and cannot handle raw array cells. */
  def qMultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Fanned (Tables.fanned scaladoc): the encode+decode codec chain is
    // pure per-row CPU behind an opaque Dataset boundary — on the
    // single-row-group fixture it ran as ONE 1.2 s task (r21 per-job
    // profile); gate is a no-op at scale.
    val blobs = graft.Tables.fanned(s, dir, "documents", "doc_id")
      .select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
    val pngs: Dataset[PngBlob] = blobs.mapPartitions { it =>
      // per-partition init would go here (codec context pooling)
      it.map { case (id, content) => pngEncode(id, content) }
    }
    pngs.mapPartitions(_.map(pngDecode)).toDF()
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
        concat_ws(",", col("histogram").cast("array<string>")).as("histogram_csv"),
        col("px_sum"),
        round(col("px_sum") / (col("width") * col("height")), 6).as("px_mean"),
        col("roundtrip_ok"))
      .orderBy("doc_id")
  }

  /** A real audio container payload: `wav` holds genuine RIFF/WAVE
    * bytes (header + 16-bit little-endian mono PCM) from the JDK's
    * `javax.sound.sampled` writer. */
  case class WavBlob(doc_id: Long, n_bytes: Int, src_md5: String,
      wav: Array[Byte])

  /** Decoded-audio features: format fields from the WAVE header,
    * energy/peak/zero-crossing stats over the DECODED samples, and the
    * round-trip proof bit. */
  case class WavFeatures(doc_id: Long, n_samples: Int, sample_rate: Int,
      channels: Int, bits: Int, sum_sq: Long, peak: Int, zero_cross: Long,
      roundtrip_ok: Boolean)

  /** REAL audio encode (JDK `javax.sound.sampled`): each payload byte
    * becomes one signed 16-bit PCM sample (`(b − 64) · 512`, spanning
    * the sample range since the fixture corpus is 7-bit ASCII), written
    * through the WAVE file writer — genuine RIFF header, fmt chunk,
    * little-endian PCM data. 8 kHz mono. */
  def wavEncode(docId: Long, content: Array[Byte]): WavBlob = {
    val pcm = new Array[Byte](content.length * 2)
    var i = 0
    while (i < content.length) {
      val s = ((content(i) & 0xFF) - 64) * 512
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, content.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    WavBlob(docId, content.length, md5hex(pcm), bos.toByteArray)
  }

  /** REAL audio decode: parses the WAVE bytes (RIFF signature checked)
    * back to format + samples and derives the classic audio-analysis
    * features — energy (Σs²), peak amplitude, zero crossings — from the
    * DECODED stream, proving the round-trip by hash. */
  def wavDecode(b: WavBlob): WavFeatures = {
    require(b.wav.length >= 12 &&
      new String(b.wav.take(4), "US-ASCII") == "RIFF" &&
      new String(b.wav.slice(8, 12), "US-ASCII") == "WAVE",
      s"doc ${b.doc_id}: payload is not a WAVE file")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(b.wav))
    val fmt = ais.getFormat
    val pcm = ais.readAllBytes()
    val n = pcm.length / 2
    var sumSq = 0L
    var peak = 0
    var zc = 0L
    var prev = 0
    var i = 0
    while (i < n) {
      val s = (pcm(2 * i + 1).toInt << 8) | (pcm(2 * i) & 0xFF)
      sumSq += s.toLong * s
      if (math.abs(s) > peak) peak = math.abs(s)
      if (i > 0 && prev.toLong * s < 0) zc += 1
      prev = s
      i += 1
    }
    WavFeatures(b.doc_id, n, fmt.getSampleRate.toInt, fmt.getChannels,
      fmt.getSampleSizeInBits, sumSq, peak, zc, md5hex(pcm) == b.src_md5)
  }

  /** The audio sibling of [[qMultimodalDecode]]: encode each payload
    * into a genuine WAVE container, decode it back in a second
    * partition-batched stage, and report header fields + decoded-sample
    * statistics (RMS energy, peak, zero-crossing count — the standard
    * audio-quality screens). PCM is lossless, so the oracle recomputes
    * every output from the source text while `roundtrip_ok` pins the
    * codec's recovery of each sample. */
  def qMultimodalAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // NOT fanned: unlike the PNG chain, `AudioSystem.write`'s provider
    // lookup serializes under concurrency (measured r21: the fanned
    // 32-wide stage ran 2.2 s where the single task took 0.8 s) — the
    // JDK sound registry is effectively a lock, so the narrow scan is
    // the faster shape here.
    val blobs = documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
    val wavs: Dataset[WavBlob] = blobs.mapPartitions { it =>
      it.map { case (id, content) => wavEncode(id, content) }
    }
    wavs.mapPartitions(_.map(wavDecode)).toDF()
      .select(col("doc_id"), col("n_samples"), col("sample_rate"),
        col("channels"), col("bits"), col("peak"), col("zero_cross"),
        round(when(col("n_samples") === 0, 0.0).otherwise(
          sqrt(col("sum_sq").cast("double") / col("n_samples"))), 6)
          .as("rms"),
        col("roundtrip_ok"))
      .orderBy("doc_id")
  }

  /** STUB resize — deterministic stand-in for an image downsample (the
    * sibling of [[fakeDecode]]): the payload is read as a 16-px-wide
    * "image" and block-averaged to a fixed `outW`×`outH` thumbnail.
    * Empty source blocks (payload shorter than the grid) resolve to 0 by
    * rule. A real implementation replaces ONLY this function. */
  def fakeResize(blob: MediaBlob, outW: Int = 4, outH: Int = 4): Array[Int] = {
    val bytes = blob.content
    val w = 16
    val h = (bytes.length + w - 1) / w
    val out = new Array[Int](outW * outH)
    if (bytes.isEmpty) return out
    for (ry <- 0 until outH; rx <- 0 until outW) {
      val y0 = ry * h / outH; val y1 = math.max(y0 + 1, (ry + 1) * h / outH)
      val x0 = rx * w / outW; val x1 = math.max(x0 + 1, (rx + 1) * w / outW)
      var sum = 0L; var n = 0
      for (y <- y0 until y1; x <- x0 until x1) {
        val i = y * w + x
        if (i < bytes.length) { sum += (bytes(i) & 0xFF); n += 1 }
      }
      out(ry * outW + rx) = if (n == 0) 0 else (sum / n).toInt
    }
    out
  }

  /** Two-stage typed pipeline decode→resize, each partition-batched
    * (oracle-checked; exact values also covered by MultimodalSpec).
    * The thumbnail ships as CSV for the same driver-hashability reason as
    * the decode features. */
  def qMultimodalResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs: Dataset[MediaBlob] = documents(s, dir)
      .select(col("doc_id"), synthFilename.as("filename"),
        col("text").cast("binary").as("content"))
      .as[MediaBlob]
    blobs.mapPartitions { it =>
      // per-partition init would go here (scaler context, SIMD planning)
      it.map(b => (b.doc_id, b.content.length, fakeResize(b)))
    }.toDF("doc_id", "n_bytes", "thumb")
      .select(col("doc_id"), col("n_bytes"),
        concat_ws(",", col("thumb").cast("array<string>")).as("thumb_csv"))
      .orderBy("doc_id")
  }

  /** STUB frame sampler — deterministic stand-in for video keyframe
    * extraction (no video codec exists in the JDK): the payload is read
    * as a sequence of 64-byte "frames" (a 16×4 grid each), every 4th
    * frame is sampled (stride sampling — the cheap keyframe policy),
    * and each sampled frame reduces to its mean byte value. At most 8
    * frames are kept per document, so the output is bounded per row
    * regardless of payload size — the property a real keyframe sampler
    * must also have at 100 TB. A real decoder replaces ONLY this
    * function. */
  def fakeFrameSample(blob: MediaBlob, frameBytes: Int = 64,
      stride: Int = 4, maxFrames: Int = 8): Array[Int] = {
    val bytes = blob.content
    val nFrames = (bytes.length + frameBytes - 1) / frameBytes
    (0 until nFrames by stride).take(maxFrames).map { f =>
      val start = f * frameBytes
      val end = math.min(start + frameBytes, bytes.length)
      var sum = 0L
      var i = start
      while (i < end) { sum += (bytes(i) & 0xFF); i += 1 }
      (sum / (end - start)).toInt
    }.toArray
  }

  /** Stride frame-sampling over the binary column (oracle-checked): one
    * row per document with the sampled-frame mean sequence — the
    * video-pipeline shape (decode → keyframe-sample → per-frame
    * feature) with the sampler as the single swappable stub. Bounded
    * output per row; pure map-side until the presentation sort. */
  def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs: Dataset[MediaBlob] = documents(s, dir)
      .select(col("doc_id"), synthFilename.as("filename"),
        col("text").cast("binary").as("content"))
      .as[MediaBlob]
    blobs.mapPartitions { it =>
      // per-partition init would go here (demuxer/codec context)
      it.map(b => (b.doc_id, b.content.length,
        (b.content.length + 63) / 64, fakeFrameSample(b)))
    }.toDF("doc_id", "n_bytes", "n_frames", "frames")
      .select(col("doc_id"), col("n_bytes"), col("n_frames"),
        size(col("frames")).as("n_sampled"),
        concat_ws(",", col("frames").cast("array<string>")).as("frame_means_csv"))
      .orderBy("doc_id")
  }

  /** STUB embedding extractor — deterministic stand-in for a media
    * encoder (CLIP-style image/audio embedding): the unit-normalized
    * high-nibble byte histogram as a 16-dim vector. A real implementation
    * replaces ONLY this function. */
  def fakeEmbed(blob: MediaBlob): Array[Double] = {
    val hist = new Array[Double](16)
    blob.content.foreach(b => hist((b & 0xFF) >> 4) += 1d)
    val norm = math.sqrt(hist.map(x => x * x).sum)
    if (norm == 0) hist else hist.map(_ / norm)
  }

  /** Binary → embedding → ANN, end-to-end: the partition-batched stub
    * encoder feeds the similarity stack directly — probe set broadcast,
    * map-side bounded top-k ([[graft.functions.TopKAgg]]) so only
    * k·partitions candidate rows per probe ever cross the wire. This is
    * the image-dedup / cross-modal-retrieval pipeline shape with the
    * encoder as the single swappable stub. Oracle-checked; MultimodalSpec
    * also re-derives the full top-k in memory and compares exactly. */
  def qMultimodalEmbed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cache at the fan-out: the probe branch filters AFTER the typed
    // encode (a Column filter can't push through MapPartitions), so
    // without the cache the encoder — the expensive stage once a real
    // model replaces the stub — runs over the whole corpus twice
    val embs = documents(s, dir)
      .select(col("doc_id"), synthFilename.as("filename"),
        col("text").cast("binary").as("content"))
      .as[MediaBlob]
      .mapPartitions { it =>
        // per-partition init would go here (encoder weights, ONNX session)
        it.map(b => (b.doc_id, fakeEmbed(b)))
      }.toDF("doc_id", "emb")
      .cache()
    val probes = embs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("probe_id"), col("emb").as("probe_emb"))
    // cos rounds to 6 dp BEFORE ranking: near-duplicate payloads put many
    // candidates at cos ≈ 1.0, where the kernel's dot/(√na·√nb) tree and
    // DuckDB's list_cosine_similarity differ by an ulp — ranking raw
    // values would order such near-ties differently per engine, while
    // ranking the rounded score ties them and the id tie-break decides
    // identically everywhere.
    embs.join(broadcast(probes), col("doc_id") =!= col("probe_id"))
      .select(col("probe_id"), col("doc_id").as("neighbor_id"),
        round(graft.functions.Similarity.cosine(
          col("probe_emb"), col("emb")), 6).as("cos"))
      .groupBy(col("probe_id"))
      .agg(graft.functions.TopK.topK(5)(col("cos"), col("neighbor_id")).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")))
      .select(col("probe_id"), col("col._2").as("neighbor_id"),
        col("col._1").as("cos"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("probe_id", "rank")
  }

  /** 64-bit perceptual aHash of the DECODED image as two 32-bit halves
    * (hi/lo keep every engine's bigint arithmetic in non-negative
    * territory): nearest-neighbor downsample to an 8×8 grid — sample
    * (r,c) is decoded pixel (⌊r·h/8⌋, ⌊c·w/8⌋), total for any h ≥ 1 —
    * then threshold each sample against the grid mean with the exact
    * cross-multiplied integer compare s·64 ≥ Σs. Pure integer end to
    * end, so the hash is reproducible from the source bytes in SQL
    * (lossless codec) even though the engine computes it from the REAL
    * decoder's output. */
  case class ImageHash(doc_id: Long, hi: Long, lo: Long)

  def aHashOf(b: PngBlob): ImageHash = {
    val img = pngRead(b.png)
    val (w, h) = (img.getWidth, img.getHeight)
    val px = new Array[Byte](w * h)
    img.getRaster.getDataElements(0, 0, w, h, px)
    val samples = Array.tabulate(64) { i =>
      val r = i / 8; val c = i % 8
      px((r * h / 8) * w + (c * w / 8)) & 0xFF
    }
    val sum = samples.map(_.toLong).sum
    var hi = 0L; var lo = 0L
    var i = 0
    while (i < 64) {
      val bit = if (samples(i).toLong * 64L >= sum) 1L else 0L
      if (i < 32) lo |= bit << i else hi |= bit << (i - 32)
      i += 1
    }
    ImageHash(b.doc_id, hi, lo)
  }

  /** Image near-duplicate detection by perceptual hash — the multimodal
    * member of the dedup family (the image-side analogue of
    * [[graft.operators.Dedup.qDedupSimhash]]): encode every corpus
    * payload through the REAL PNG codec, decode it back, aHash the
    * decoded pixels, and report pairs within Hamming radius 3 via the
    * same 16-bit pigeonhole blocking (radius ≤ 3 ⇒ one of four chunks
    * equal — never an all-pairs join engine-side). The
    * [[graft.operators.Dedup.corpus]] fixture provides known positives:
    * byte-exact copies decode to identical images, so all 50 exact
    * pairs MUST surface at Hamming 0. The DuckDB oracle recomputes the
    * hash from source bytes and brute-forces the quadratic join — an
    * independent algorithm agreeing on the pair set is simultaneously
    * the codec-roundtrip proof and the blocking-completeness proof.
    *
    * Scale shape: hash is a per-row mapPartitions projection (the
    * decode cost, the real payload at 100 TB, parallelizes with the
    * scan); the only shuffle is the chunk-keyed self-join on bounded
    * 16-bit buckets. */
  def qMultimodalImagedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Fanned input (Tables.fanned scaladoc): the PNG encode + aHash below
    // is pure per-row codec CPU materialized into the cache — on the
    // single-row-group fixture it would run on one core of 32 (A/B:
    // 3.2 s → 1.4 s at sf0.1). The gate is a no-op at scale. Width 8,
    // not the generic 16: this site's downstream is a pigeonhole
    // self-join over the PINNED cache, so extra map width buys nothing
    // past the codec pass — the r22 width sweep (OPTIMIZATION_r22.md) put
    // it alone at w8 (0.83 s vs 0.91 at w16, 1.09 at w32).
    val blobs = graft.Tables.fanIfSmall(s, dir, "documents",
        graft.operators.Dedup.corpus(s, dir), 8, col("doc_id"))
      .select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
    val hashes = blobs.mapPartitions { it =>
      // per-partition init would go here (codec context pooling)
      it.map { case (id, content) => aHashOf(pngEncode(id, content)) }
    }.toDF().cache() // feeds both sides of the pigeonhole join
    // Materialize the cache BEFORE the self-join consumes it (r21): the
    // join's two map stages are submitted concurrently, and both sides
    // racing an unmaterialized cache each run the full PNG encode+aHash
    // pipeline (r21 per-job profile: two overlapping 0.78 s jobs for one 0.78 s
    // computation). One bounded count pins it; the codec work runs once.
    graft.Tables.pin(hashes)
    val chunked = hashes.select(col("doc_id"), col("hi"), col("lo"),
      posexplode(expr("array(shiftright(hi, 16) & 65535, hi & 65535," +
        " shiftright(lo, 16) & 65535, lo & 65535)")))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") &&
          col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        (bit_count(col("x.hi").bitwiseXOR(col("y.hi"))) +
          bit_count(col("x.lo").bitwiseXOR(col("y.lo"))))
          .cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("d1", "d2")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_imagedup" -> qMultimodalImagedup,
    "q_multimodal_meta" -> qMultimodalMeta,
    "q_multimodal_decode" -> qMultimodalDecode,
    "q_multimodal_audio" -> qMultimodalAudio,
    "q_multimodal_frames" -> qMultimodalFrames,
    "q_multimodal_resize" -> qMultimodalResize,
    "q_multimodal_embed" -> qMultimodalEmbed,
  )

  // The decode pipeline runs a REAL codec (PNG via javax.imageio), yet
  // stays oracle-checkable because PNG is lossless: the decoded
  // dimensions, nibble histogram, and pixel sum equal what DuckDB
  // recomputes from the source text (ASCII fixture corpus — SQL char
  // positions = UTF-8 byte positions), with the zero-padding of the
  // final 16-px row accounted into bucket 0, and `roundtrip_ok` is
  // constant-true exactly when the codec recovered every sample. The
  // stub resize/embed kernels are deterministic integer (or
  // exact-double) arithmetic over the payload bytes, reproducible as
  // DuckDB list comprehensions; the embedding cosine via
  // list_cosine_similarity (bit-parity with the codegen kernel already
  // proven by q_sim_topk).
  private val codesCte =
    """WITH c AS (
      |  SELECT doc_id, length(text) AS n,
      |    (length(text) + 15) // 16 AS h,
      |    list_transform(range(1, length(text) + 1),
      |      i -> unicode(substr(text, CAST(i AS INT), 1))) AS codes
      |  FROM documents)""".stripMargin

  val oracles: Map[String, String] = Map(
    // recomputes the aHash from source bytes (lossless codec ⇒ decoded
    // pixels == zero-padded byte codes) and brute-forces the quadratic
    // pair join — agreement proves codec round-trip AND pigeonhole
    // blocking completeness in one row set
    "q_multimodal_imagedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 200000, text || ' zz9 qq8 vv7' FROM documents WHERE doc_id >= 50 AND doc_id < 100),
        |px AS (SELECT doc_id,
        |  greatest(1, (length(text) + 15) // 16) AS h,
        |  [CASE WHEN i <= length(text) THEN unicode(substr(text, CAST(i AS INT), 1)) ELSE 0 END
        |   FOR i IN range(1, 16 * greatest(1, (length(text) + 15) // 16) + 1)] AS p
        |  FROM corpus),
        |smp AS (SELECT doc_id,
        |  [p[CAST((((i // 8) * h) // 8) * 16 + 2 * (i % 8) + 1 AS INT)] FOR i IN range(0, 64)] AS s
        |  FROM px),
        |tot AS (SELECT doc_id, s, list_sum(s) AS t FROM smp),
        |hash AS (SELECT doc_id,
        |  CAST(list_sum([CASE WHEN s[i + 33] * 64 >= t THEN CAST(1 AS BIGINT) << i ELSE 0 END FOR i IN range(0, 32)]) AS BIGINT) AS hi,
        |  CAST(list_sum([CASE WHEN s[i + 1] * 64 >= t THEN CAST(1 AS BIGINT) << i ELSE 0 END FOR i IN range(0, 32)]) AS BIGINT) AS lo
        |  FROM tot)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
        |FROM hash a JOIN hash b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        |ORDER BY d1, d2""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  concat('media_', CAST(doc_id AS VARCHAR),
        |    CASE doc_id % 4 WHEN 0 THEN '.png' WHEN 1 THEN '.jpg' WHEN 2 THEN '.wav' ELSE '.mp4' END) AS filename,
        |  strlen(text) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |       WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS mime_type
        |FROM documents ORDER BY doc_id""".stripMargin,
    // graded against REAL PNG bytes: the engine encodes+decodes through
    // javax.imageio; DuckDB recomputes the lossless-decode invariants
    // from the source text (padding of the last 16-px row lands in
    // nibble bucket 0; empty docs become a 16×1 black image)
    "q_multimodal_decode" ->
      (codesCte + """
        |SELECT doc_id,
        |  CAST(n AS INT) AS n_bytes,
        |  16 AS width,
        |  CAST(greatest(h, 1) AS INT) AS height,
        |  array_to_string(list_transform(range(0, 16),
        |    k -> len(list_filter(codes, c -> c // 16 = k))
        |         + CASE WHEN k = 0 THEN 16 * greatest(h, 1) - n ELSE 0 END), ',')
        |    AS histogram_csv,
        |  CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS px_sum,
        |  round(CAST(coalesce(list_sum(codes), 0) AS DOUBLE)
        |    / (16 * greatest(h, 1)), 6) AS px_mean,
        |  TRUE AS roundtrip_ok
        |FROM c ORDER BY doc_id""".stripMargin),
    // graded against REAL WAVE bytes: the engine encodes+decodes PCM
    // through javax.sound.sampled; DuckDB recomputes the lossless
    // invariants (sample mapping (code-64)*512) from the source text
    "q_multimodal_audio" ->
      """WITH c AS (
        |  SELECT doc_id, length(text) AS n,
        |    list_transform(range(1, length(text) + 1),
        |      i -> (unicode(substr(text, CAST(i AS INT), 1)) - 64) * 512) AS s
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(n AS INT) AS n_samples,
        |  8000 AS sample_rate, 1 AS channels, 16 AS bits,
        |  CAST(coalesce(list_max(list_transform(s, x -> abs(x))), 0) AS INT) AS peak,
        |  CAST(coalesce(len(list_filter(range(1, n),
        |    i -> s[CAST(i AS INT)] * s[CAST(i + 1 AS INT)] < 0)), 0) AS BIGINT)
        |    AS zero_cross,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE
        |    sqrt(CAST(list_sum(list_transform(s,
        |      x -> CAST(x AS BIGINT) * x)) AS DOUBLE) / n) END, 6) AS rms,
        |  TRUE AS roundtrip_ok
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_multimodal_frames" ->
      (codesCte + """,
        |fr AS (
        |  SELECT doc_id, n,
        |    list_transform(
        |      list_filter(range(0, (n + 63) // 64), f -> f % 4 = 0)[1:8],
        |      f -> list_sum(codes[CAST(f * 64 + 1 AS INT):CAST(least(f * 64 + 64, n) AS INT)])
        |           // (least(f * 64 + 64, n) - f * 64)) AS sampled
        |  FROM c)
        |SELECT doc_id, CAST(n AS INT) AS n_bytes,
        |  CAST((n + 63) // 64 AS INT) AS n_frames,
        |  CAST(len(sampled) AS INT) AS n_sampled,
        |  array_to_string(sampled, ',') AS frame_means_csv
        |FROM fr ORDER BY doc_id""".stripMargin),
    "q_multimodal_resize" ->
      (codesCte + """,
        |v AS (
        |  SELECT doc_id, n,
        |    list_transform(range(0, 16), p ->
        |      list_transform(
        |        list_filter(flatten(list_transform(
        |            range((p // 4) * h // 4,
        |                  greatest((p // 4) * h // 4 + 1, ((p // 4) + 1) * h // 4)),
        |            y -> list_transform(range((p % 4) * 4, (p % 4) * 4 + 4),
        |                 x -> y * 16 + x))),
        |          i -> i < n),
        |        i -> codes[CAST(i + 1 AS INT)])) AS blocks
        |  FROM c)
        |SELECT doc_id, CAST(n AS INT) AS n_bytes,
        |  array_to_string(list_transform(blocks,
        |    b -> CASE WHEN len(b) = 0 THEN 0 ELSE list_sum(b) // len(b) END), ',') AS thumb_csv
        |FROM v ORDER BY doc_id""".stripMargin),
    "q_multimodal_embed" ->
      (codesCte + """,
        |hh AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    k -> CAST(len(list_filter(codes, c -> c // 16 = k)) AS DOUBLE)) AS hist
        |  FROM c),
        |e AS (
        |  SELECT doc_id,
        |    CASE WHEN list_dot_product(hist, hist) = 0 THEN hist
        |         ELSE [x / sqrt(list_dot_product(hist, hist)) FOR x IN hist] END AS emb
        |  FROM hh),
        |p AS (SELECT doc_id AS probe_id, emb AS probe_emb FROM e WHERE doc_id % 100 = 0),
        |scored AS (SELECT probe_id, e.doc_id AS neighbor_id,
        |    round(list_cosine_similarity(probe_emb, e.emb), 6) AS cos
        |  FROM e, p WHERE e.doc_id <> p.probe_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
        |SELECT probe_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
        |ORDER BY probe_id, rank""".stripMargin),
  )
}
