package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, plus a batched decode/feature-extract path.
  *
  * All three modalities decode REAL container bytes pure-JVM:
  * [[decodeImage]] (javax.imageio PNG/BMP/GIF), [[decodeAudio]]
  * (javax.sound.sampled PCM WAV/AIFF), [[decodeVideo]] (hand-parsed
  * RIFF/AVI with uncompressed DIB frames — raw pixels need no codec).
  * [[stubDecode]] remains the deterministic fallback for bytes none of
  * them can parse — notably COMPRESSED video, the one decode this
  * codec-less environment genuinely cannot do. Everything around the
  * decoders — the binary column representation, the typed-metadata
  * schema, the `Dataset[T].mapPartitions` batch shape (fixed-size
  * batches, one decoder init per partition), and the partitioning — is
  * the production plumbing a library-backed decoder drops into.
  *
  * Scale posture (100 TB): payloads stay opaque binary all the way to
  * the decode stage (no driver collect, no per-row UDF dispatch);
  * feature extraction is a narrow per-partition pass, so it pipelines
  * with the scan and shuffles nothing.
  */
object Multimodal {

  /** One multimodal record: typed metadata + opaque payload. */
  final case class MMRecord(
      doc_id: Long,
      mime: String,
      width: Int,
      height: Int,
      payload: Array[Byte]
  )

  /** Decoded record: metadata + fixed-length feature vector. */
  final case class MMFeatures(
      doc_id: Long,
      mime: String,
      n_bytes: Int,
      features: Array[Float]
  )

  // ImageIO's default stream cache spools every read/write through a
  // TEMP FILE; with thousands of small in-memory payloads per partition
  // that is a disk round trip per image. Heap-backed caching only.
  // (Class-load-time, executor-side: mapPartitions closures referencing
  // Multimodal trigger this before the first decode.)
  javax.imageio.ImageIO.setUseCache(false)

  private val Mimes = Seq("image/png", "audio/wav", "video/mp4")

  /** Synthesize a deterministic 32-byte binary payload + typed metadata
    * from a text column — the stand-in for reading real media bytes
    * (in production this column comes straight from the source table).
    * Pure builtin projection, reproducible in any engine.
    * Output: `doc_id, mime, width, height, payload`.
    */
  def attachBinary(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val payloadHex = concat(md5(t.cast("binary")), md5(concat(t, lit("x")).cast("binary")))
    df.select(
      col(idCol).cast("long").as("doc_id"),
      element_at(array(Mimes.map(lit): _*), (col(idCol) % 3).cast("int") + 1).as("mime"),
      (lit(32) + pmod(length(t), lit(64))).cast("int").as("width"),
      (lit(32) + pmod(length(t) * 7, lit(64))).cast("int").as("height"),
      unhex(payloadHex).as("payload")
    )
  }

  /** Flat metadata view of [[attachBinary]] (driver-oracle friendly):
    * `doc_id, mime, width, height, n_bytes, payload_sha`.
    */
  def metadata(df: DataFrame, textCol: String, idCol: String): DataFrame =
    attachBinary(df, textCol, idCol).select(
      col("doc_id"),
      col("mime"),
      col("width"),
      col("height"),
      length(col("payload")).cast("long").as("n_bytes"),
      // hash of the payload's lowercase hex (not the raw blob): engines
      // disagree on sha256(BLOB) support, hex text is universal
      sha2(lower(hex(col("payload"))), 256).as("payload_sha")
    )

  /** STUB decoder — stands in for e.g. an image decode + embedding
    * model. Deterministic: an 8-bin byte histogram of the payload,
    * L1-normalized. A real implementation replaces ONLY this function;
    * the batching/schema/partitioning around it stays identical.
    */
  def stubDecode(payload: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      hist((payload(i) & 0xff) >>> 5) += 1f
      i += 1
    }
    val n = math.max(payload.length, 1).toFloat
    hist.map(_ / n)
  }

  /** REAL image decode — pure-JVM `javax.imageio` (PNG/BMP/GIF ship
    * with the JDK, no native deps). Decodes the payload and returns an
    * 8-bin brightness histogram over the pixels, L1-normalized —
    * the same 8-float feature shape as [[stubDecode]], so the two are
    * drop-in interchangeable in [[extractFeatures]]. Non-image bytes
    * (decoder returns null / throws) fall back to the stub, so a mixed
    * corpus never kills the job. Brightness = mean of the raster bands
    * (exact band value for grayscale images).
    */
  def decodeImage(payload: Array[Byte]): Array[Float] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) stubDecode(payload)
      else {
        val raster = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
        val hist = new Array[Float](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var s = 0; var b = 0
            while (b < bands) { s += raster.getSample(x, y, b); b += 1 }
            hist((s / bands) >>> 5) += 1f
            x += 1
          }
          y += 1
        }
        val n = math.max(w.toLong * h, 1L).toFloat
        hist.map(_ / n)
      }
      // NonFatal, not just IOException: the JDK header parsers throw
      // unchecked exceptions (NegativeArraySize, Arithmetic, …) on
      // adversarially malformed containers, and one poison payload in a
      // mixed corpus must not kill the whole job
    } catch { case scala.util.control.NonFatal(_) => stubDecode(payload) }

  /** REAL audio decode — pure-JVM `javax.sound.sampled` (WAV/AIFF/AU
    * parsers ship with the JDK, like round 8's `javax.imageio` image
    * path; no native codecs needed). Parses the container, reads the
    * PCM frames, and returns an 8-bin amplitude histogram over the
    * samples, L1-normalized — the same 8-float feature shape as
    * [[stubDecode]]/[[decodeImage]], drop-in for [[extractFeatures]].
    * 8-bit PCM only (the synthesized-WAV round trip [[encodePcmWav]]
    * closes); anything the parser rejects — or wider sample formats —
    * falls back to the stub so a mixed corpus never kills the job.
    */
  def decodeAudio(payload: Array[Byte]): Array[Float] = {
    // Fast path: hand-parsed RIFF/WAVE PCM. AudioSystem's provider
    // probing takes a GLOBAL registry lock per call — measured 7.9 s
    // for 50k in-memory WAVs at sf1 (decodes serialize across all 32
    // threads) vs 0.2 s for the equivalent hand-parsed AVI walk. A
    // PCM 'fmt '+'data' walk is ~20 lines against the same readLE
    // helpers as the AVI path; AIFF/AU and non-RIFF containers still
    // take the AudioSystem path below.
    if (payload.length >= 12 && fcc(payload, 0) == "RIFF" && fcc(payload, 8) == "WAVE") {
      var fmtTag = -1; var bits = -1
      var data: (Int, Int) = null // (offset, length)
      var p = 12
      while (p + 8 <= payload.length && (fmtTag < 0 || data == null)) {
        val id = fcc(payload, p)
        val sz = readLE32(payload, p + 4)
        if (sz < 0 || p + 8 + sz > payload.length) return stubDecode(payload)
        if (id == "fmt " && sz >= 16) {
          fmtTag = readLE16(payload, p + 8)
          bits = readLE16(payload, p + 8 + 14)
        } else if (id == "data") data = (p + 8, sz)
        p += 8 + sz + (sz % 2)
      }
      if (fmtTag != 1 || data == null) return stubDecode(payload) // non-PCM → no 8-bit samples
      if (bits != 8) return stubDecode(payload) // same contract as the slow path
      // 8-bit WAV PCM is unsigned by spec — raw byte IS the amplitude
      val (off, len) = data
      val hist = new Array[Float](8)
      var i = off
      while (i < off + len) { hist((payload(i) & 0xff) >>> 5) += 1f; i += 1 }
      val n = math.max(len, 1).toFloat
      return hist.map(_ / n)
    }
    try {
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 8) stubDecode(payload)
        else {
          // amplitude of a frame byte: unsigned PCM is the raw byte;
          // signed PCM shifts to the same [0, 255] scale
          val signed = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          val frames = ais.readAllBytes()
          val hist = new Array[Float](8)
          var i = 0
          while (i < frames.length) {
            val amp = if (signed) (frames(i) + 128) & 0xff else frames(i) & 0xff
            hist(amp >>> 5) += 1f
            i += 1
          }
          val n = math.max(frames.length, 1).toFloat
          hist.map(_ / n)
        }
      } finally ais.close()
    } catch {
      // NonFatal (same contract as decodeImage): bogus chunk sizes in a
      // malformed WAV/AIFF header can surface as unchecked exceptions
      // from the JDK parser — fall back to the stub, never kill the job
      case scala.util.control.NonFatal(_) => stubDecode(payload)
    }
  }

  /** Deterministic 8-bit unsigned PCM WAV for `doc_id`: sample
    * `s(i) = (doc_id·31 + i·7) mod 256` inside a genuine RIFF/WAVE
    * container (`javax.sound.sampled.AudioSystem` parses it — spec-
    * asserted). PCM is lossless, so [[decodeAudio]] recovers the exact
    * samples — and the amplitude histogram is computable from the
    * FORMULA alone by a SQL oracle that never parses WAV. 64 samples
    * (a power of two) keeps the float normalization exact.
    */
  def encodePcmWav(docId: Long, nSamples: Int = 64): Array[Byte] = {
    // canonical 44-byte RIFF/WAVE/fmt/data header written by hand:
    // AudioSystem.write holds the same global provider lock as
    // getAudioInputStream (measured: ~3.4 s of the sf1 audio gate was
    // the ENCODE side serializing). The spec proves interop by parsing
    // these bytes back through AudioSystem itself.
    val out = new java.io.ByteArrayOutputStream(44 + nSamples)
    writeFcc(out, "RIFF"); writeLE32(out, 36 + nSamples); writeFcc(out, "WAVE")
    writeFcc(out, "fmt "); writeLE32(out, 16)
    writeLE16(out, 1); writeLE16(out, 1) // PCM, mono
    writeLE32(out, 8000); writeLE32(out, 8000) // sample rate, byte rate
    writeLE16(out, 1); writeLE16(out, 8) // block align, 8-bit (unsigned by spec)
    writeFcc(out, "data"); writeLE32(out, nSamples)
    var i = 0
    while (i < nSamples) {
      out.write(java.lang.Math.floorMod(docId * 31 + i * 7, 256L).toInt)
      i += 1
    }
    out.toByteArray
  }

  /** Real-WAV multimodal records: one [[encodePcmWav]] clip per row
    * (width = sample count, height = 1). The producer side of the
    * audio round trip that [[extractFeatures]]`(decode = decodeAudio)`
    * closes — narrow per-partition encode, same shape as
    * [[attachImage]].
    */
  def attachAudio(df: DataFrame, idCol: String, nSamples: Int = 64): Dataset[MMRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { ids =>
      ids.map(id => MMRecord(id, "audio/wav", nSamples, 1, encodePcmWav(id, nSamples)))
    }
  }

  /** Batched feature extraction over the multimodal records: one
    * decoder pass per partition, payloads processed in `batchSize`
    * groups (the shape a vectorized codec / model-inference library
    * needs), metadata carried through. No shuffle — a narrow map.
    * `decode` picks the decoder: [[stubDecode]] (default, any bytes)
    * or the real [[decodeImage]].
    */
  def extractFeatures(mm: DataFrame, batchSize: Int = 64,
      decode: Array[Byte] => Array[Float] = stubDecode): Dataset[MMFeatures] = {
    val spark = mm.sparkSession
    import spark.implicits._
    mm.as[MMRecord].mapPartitions { rows =>
      // per-partition decoder init would go here (codec/model handle)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          MMFeatures(r.doc_id, r.mime, r.payload.length, decode(r.payload))
        }
      }
    }
  }

  /** Deterministic 8×8 grayscale test image for `doc_id`: pixel
    * `g(x, y) = (doc_id·31 + x·7 + y·13) mod 256`, PNG-encoded with
    * `javax.imageio`. PNG is lossless, so `decodeImage` recovers the
    * exact pixels — and the feature histogram is therefore computable
    * from the FORMULA alone by a SQL oracle that never decodes PNG.
    */
  def encodeGrayPng(docId: Long, w: Int = 8, h: Int = 8): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, java.lang.Math.floorMod(docId * 31 + x * 7 + y * 13, 256L).toInt)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Real-PNG multimodal records: one [[encodeGrayPng]] image per row.
    * Narrow per-partition encode — the producer side of the real-codec
    * round trip that [[extractFeatures]]`(decode = decodeImage)` closes.
    */
  def attachImage(df: DataFrame, idCol: String, w: Int = 8, h: Int = 8): Dataset[MMRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { ids =>
      ids.map(id => MMRecord(id, "image/png", w, h, encodeGrayPng(id, w, h)))
    }
  }

  /** REAL image resize — ImageIO decode, deterministic nearest-neighbor
    * resample of per-pixel brightness (`sx = x·srcW / tw`, integer
    * floor — no interpolation, so the result is bit-exact on every JVM,
    * unlike Graphics2D scaling), PNG re-encode. The output is a
    * single-band brightness raster: the downstream feature path
    * ([[decodeImage]]) consumes brightness only, and collapsing bands
    * at resize time is the usual pre-embedding normalization. Returns
    * None for bytes ImageIO can't parse — [[resize]] falls back to the
    * stub for those records so a mixed corpus still flows.
    */
  def resizeImage(payload: Array[Byte], tw: Int, th: Int): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val (sw, sh, raster, bands) = (img.getWidth, img.getHeight, img.getRaster, img.getRaster.getNumBands)
        val out = new java.awt.image.BufferedImage(tw, th, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val outRaster = out.getRaster
        var y = 0
        while (y < th) {
          val sy = (y.toLong * sh / th).toInt
          var x = 0
          while (x < tw) {
            val sx = (x.toLong * sw / tw).toInt
            var s = 0; var b = 0
            while (b < bands) { s += raster.getSample(sx, sy, b); b += 1 }
            outRaster.setSample(x, y, 0, s / bands)
            x += 1
          }
          y += 1
        }
        val bytes = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bytes)
        Some(bytes.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Resize pass over multimodal records: REAL nearest-neighbor
    * resample ([[resizeImage]]) for payloads ImageIO can decode, the
    * deterministic byte-cycling stub for everything else. Narrow
    * per-partition map, metadata updated either way.
    */
  def resize(mm: DataFrame, targetW: Int, targetH: Int): Dataset[MMRecord] = {
    val spark = mm.sparkSession
    import spark.implicits._
    mm.as[MMRecord].mapPartitions { rows =>
      rows.map { r =>
        resizeImage(r.payload, targetW, targetH) match {
          case Some(png) => r.copy(width = targetW, height = targetH, payload = png)
          case None =>
            if (r.payload.isEmpty) r.copy(width = targetW, height = targetH)
            else {
              val outLen = math.max(1, (r.payload.length.toLong * (targetW.toLong * targetH) /
                math.max(1L, r.width.toLong * r.height)).toInt)
              val out = Array.tabulate(outLen)(i => r.payload(i % r.payload.length))
              r.copy(width = targetW, height = targetH, payload = out)
            }
        }
      }
    }
  }

  // ---- REAL video: AVI/RIFF container, uncompressed DIB frames ------
  //
  // "No codecs in this environment" blocks compressed video only. An
  // AVI container with BI_RGB (uncompressed) 24-bit DIB frames is raw
  // pixels inside a RIFF chunk tree — encoding and decoding it is pure
  // byte arithmetic, no codec involved, exactly like the WAV path
  // (PCM inside RIFF). That upgrades the last stubbed modality to a
  // real container round trip; only COMPRESSED video stays out of
  // reach here, and [[stubDecode]] remains the fallback for it.

  private def writeLE32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }
  private def writeLE16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
  }
  private def writeFcc(out: java.io.ByteArrayOutputStream, s: String): Unit =
    out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** Deterministic grayscale test video for `doc_id`: `nFrames` frames
    * of pixel `g(f, x, y) = (doc_id·31 + f·17 + x·7 + y·13) mod 256`,
    * AVI-encoded by hand (RIFF → hdrl(avih, strl(strh, strf)) →
    * movi('00db' BI_RGB bottom-up 24-bit rows, stride padded to 4)).
    * Uncompressed DIB is lossless raw pixels, so [[decodeVideo]]
    * recovers them exactly — and the brightness histogram is computable
    * from the FORMULA alone by a SQL oracle that never parses AVI.
    * Defaults give 4·64 = 256 pixels (a power of two): exact float
    * normalization.
    */
  def encodeDibAvi(docId: Long, w: Int = 8, h: Int = 8, nFrames: Int = 4): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val frameBytes = stride * h
    // one '00db' chunk per frame: raw DIB, bottom-up rows, B=G=R=g
    val frames = (0 until nFrames).map { f =>
      val px = new Array[Byte](frameBytes)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = java.lang.Math.floorMod(docId * 31 + f * 17 + x * 7 + y * 13, 256L).toByte
          val off = (h - 1 - y) * stride + x * 3 // bottom-up row order
          px(off) = g; px(off + 1) = g; px(off + 2) = g
          x += 1
        }
        y += 1
      }
      px
    }
    val strf = { // BITMAPINFOHEADER (40 bytes)
      val b = new java.io.ByteArrayOutputStream()
      writeLE32(b, 40); writeLE32(b, w); writeLE32(b, h)
      writeLE16(b, 1); writeLE16(b, 24) // planes, bitCount
      writeLE32(b, 0) // biCompression = BI_RGB (uncompressed)
      writeLE32(b, frameBytes); writeLE32(b, 0); writeLE32(b, 0)
      writeLE32(b, 0); writeLE32(b, 0)
      b.toByteArray
    }
    val strh = { // AVIStreamHeader (56 bytes)
      val b = new java.io.ByteArrayOutputStream()
      writeFcc(b, "vids"); writeFcc(b, "DIB ")
      writeLE32(b, 0); writeLE16(b, 0); writeLE16(b, 0) // flags, prio, lang
      writeLE32(b, 0) // initialFrames
      writeLE32(b, 1); writeLE32(b, 10) // scale, rate → 10 fps
      writeLE32(b, 0); writeLE32(b, nFrames) // start, length
      writeLE32(b, frameBytes); writeLE32(b, -1); writeLE32(b, 0) // bufSize, quality, sampleSize
      writeLE16(b, 0); writeLE16(b, 0); writeLE16(b, w); writeLE16(b, h) // rcFrame
      b.toByteArray
    }
    val avih = { // MainAVIHeader (56 bytes)
      val b = new java.io.ByteArrayOutputStream()
      writeLE32(b, 100000); writeLE32(b, frameBytes * 10) // usPerFrame, bytesPerSec
      writeLE32(b, 0); writeLE32(b, 0) // padding, flags
      writeLE32(b, nFrames); writeLE32(b, 0); writeLE32(b, 1) // totalFrames, initial, streams
      writeLE32(b, frameBytes); writeLE32(b, w); writeLE32(b, h)
      writeLE32(b, 0); writeLE32(b, 0); writeLE32(b, 0); writeLE32(b, 0)
      b.toByteArray
    }
    def chunk(fcc: String, data: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      writeFcc(b, fcc); writeLE32(b, data.length); b.write(data, 0, data.length)
      if (data.length % 2 == 1) b.write(0) // RIFF chunks pad to even
      b.toByteArray
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      writeFcc(b, "LIST"); writeLE32(b, body.length + 4); writeFcc(b, kind)
      b.write(body, 0, body.length)
      b.toByteArray
    }
    val strl = list("strl", chunk("strh", strh) ++ chunk("strf", strf))
    val hdrl = list("hdrl", chunk("avih", avih) ++ strl)
    val movi = list("movi", frames.flatMap(chunk("00db", _)).toArray)
    val body = hdrl ++ movi
    val out = new java.io.ByteArrayOutputStream()
    writeFcc(out, "RIFF"); writeLE32(out, body.length + 4); writeFcc(out, "AVI ")
    out.write(body, 0, body.length)
    out.toByteArray
  }

  private def readLE32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def readLE16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def fcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Parsed AVI: (width, height, frames as raw bottom-up BGR bytes).
    * None for anything that isn't an uncompressed 24-bit DIB AVI.
    */
  private def parseDibAvi(b: Array[Byte]): Option[(Int, Int, Seq[Array[Byte]])] = {
    if (b.length < 12 || fcc(b, 0) != "RIFF" || fcc(b, 8) != "AVI ") return None
    var strf: Option[Array[Byte]] = None
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    // walk the chunk tree; LIST bodies recurse, leaves are (fcc, size, data)
    def walk(start: Int, end: Int): Unit = {
      var p = start
      while (p + 8 <= end) {
        val id = fcc(b, p)
        val sz = readLE32(b, p + 4)
        if (sz < 0 || p + 8 + sz > end) return // malformed size: stop
        if (id == "LIST" && sz >= 4) walk(p + 12, p + 8 + sz)
        else if (id == "strf" && strf.isEmpty) strf = Some(b.slice(p + 8, p + 8 + sz))
        else if (id.endsWith("db") || id.endsWith("dc")) frames += b.slice(p + 8, p + 8 + sz)
        p += 8 + sz + (sz % 2) // chunks pad to even
      }
    }
    walk(12, b.length)
    strf.flatMap { s =>
      if (s.length < 40) None
      else {
        val (w, h) = (readLE32(s, 4), readLE32(s, 8))
        val (bitCount, compression) = (readLE16(s, 14), readLE32(s, 16))
        val stride = ((w * 3 + 3) / 4) * 4
        if (w <= 0 || h <= 0 || bitCount != 24 || compression != 0 ||
          frames.isEmpty || frames.exists(_.length < stride * h)) None
        else Some((w, h, frames.toSeq))
      }
    }
  }

  /** REAL video decode — hand-parsed RIFF/AVI with uncompressed 24-bit
    * DIB frames (raw pixels; no codec exists or is needed for BI_RGB).
    * Returns the 8-bin brightness histogram over every pixel of every
    * frame, L1-normalized — the same 8-float shape as the other
    * decoders, drop-in for [[extractFeatures]]. Compressed video (the
    * part that genuinely needs codecs this environment lacks) and
    * anything malformed falls back to [[stubDecode]]: a mixed corpus
    * never kills the job.
    */
  def decodeVideo(payload: Array[Byte]): Array[Float] =
    try {
      parseDibAvi(payload) match {
        case None => stubDecode(payload)
        case Some((w, h, frames)) =>
          val stride = ((w * 3 + 3) / 4) * 4
          val hist = new Array[Float](8)
          frames.foreach { px =>
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val off = y * stride + x * 3 // row order is irrelevant to a histogram
                val s = (px(off) & 0xff) + (px(off + 1) & 0xff) + (px(off + 2) & 0xff)
                hist((s / 3) >>> 5) += 1f
                x += 1
              }
              y += 1
            }
          }
          val n = math.max(frames.size.toLong * w * h, 1L).toFloat
          hist.map(_ / n)
      }
    } catch { case scala.util.control.NonFatal(_) => stubDecode(payload) }

  /** Real-AVI multimodal records: one [[encodeDibAvi]] clip per row.
    * The producer side of the video round trip that
    * [[extractFeatures]]`(decode = decodeVideo)` closes — narrow
    * per-partition encode, same shape as [[attachImage]]/[[attachAudio]].
    */
  def attachVideo(df: DataFrame, idCol: String, w: Int = 8, h: Int = 8,
      nFrames: Int = 4): Dataset[MMRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { ids =>
      ids.map(id => MMRecord(id, "video/avi", w, h, encodeDibAvi(id, w, h, nFrames)))
    }
  }

  /** One sampled frame: parent doc, frame index, frame payload. */
  final case class MMFrame(doc_id: Long, frame_idx: Int, payload: Array[Byte])

  /** REAL frame sampling over AVI payloads: parse the container
    * ([[parseDibAvi]]) and emit every `step`-th frame as one
    * [[MMFrame]] whose payload is the frame's grayscale pixels
    * (top-down row order, one byte per pixel; `frame_idx` keeps the
    * ORIGINAL frame number) — the keyframe-extraction explode shape,
    * fed by real container bytes. Payloads that aren't uncompressed-DIB
    * AVI yield no frames (there is nothing to extract) rather than
    * failing the job. Narrow flatMap: pipelines with the scan,
    * shuffles nothing.
    */
  def frameSampleVideo(mm: DataFrame, step: Int = 1): Dataset[MMFrame] = {
    require(step > 0, "step must be positive")
    val spark = mm.sparkSession
    import spark.implicits._
    mm.as[MMRecord].flatMap { r =>
      parseDibAvi(r.payload).toSeq.flatMap { case (w, h, frames) =>
        val stride = ((w * 3 + 3) / 4) * 4
        (0 until frames.size by step).map { f =>
          val px = frames(f)
          val gray = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val off = (h - 1 - y) * stride + x * 3 // flip bottom-up → top-down
              val s = (px(off) & 0xff) + (px(off + 1) & 0xff) + (px(off + 2) & 0xff)
              gray(y * w + x) = (s / 3).toByte
              x += 1
            }
            y += 1
          }
          MMFrame(r.doc_id, f, gray)
        }
      }
    }
  }
}
