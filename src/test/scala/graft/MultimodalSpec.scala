package graft

import org.apache.spark.sql.DataFrame

import graft.ops.Multimodal

/** The multimodal plumbing contract: schema, determinism, batch shape,
  * and partition preservation (the decode stage must be a narrow map —
  * no shuffle between scan and features).
  */
class MultimodalSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private lazy val docs: DataFrame = Seq(
    (0L, "a tiny document"),
    (1L, "another somewhat longer document body"),
    (2L, "third record"),
    (3L, "a tiny document")
  ).toDF("doc_id", "text")

  test("attachBinary: stable schema and 32-byte payloads") {
    val mm = Multimodal.attachBinary(docs, "text", "doc_id")
    assert(mm.columns.toSeq == Seq("doc_id", "mime", "width", "height", "payload"))
    assert(mm.schema("payload").dataType.typeName == "binary")
    val lens = mm.select("payload").as[Array[Byte]].collect().map(_.length).toSet
    assert(lens == Set(32))
  }

  test("metadata mimes cycle deterministically by id") {
    val m = Multimodal.metadata(docs, "text", "doc_id")
      .select("doc_id", "mime").as[(Long, String)].collect().toMap
    assert(m(0L) == "image/png" && m(1L) == "audio/wav" && m(2L) == "video/mp4" && m(3L) == "image/png")
  }

  test("feature extraction: fixed-length L1-normalized vectors, deterministic across runs") {
    val mm = Multimodal.attachBinary(docs, "text", "doc_id")
    val f1 = Multimodal.extractFeatures(mm).collect().sortBy(_.doc_id)
    val f2 = Multimodal.extractFeatures(mm, batchSize = 2).collect().sortBy(_.doc_id)
    assert(f1.length == 4)
    for ((a, b) <- f1.zip(f2)) {
      assert(a.features.length == 8)
      assert(math.abs(a.features.sum - 1.0f) < 1e-5) // L1-normalized histogram
      assert(a.features.sameElements(b.features)) // batch size never changes results
      assert(a.n_bytes == 32)
    }
    // identical payloads → identical features (ids 0 and 3 share text)
    assert(f1(0).features.sameElements(f1(3).features))
  }

  /** The byte-cycling fallback `resize` applies to a payload ImageIO
    * cannot decode: the bytes cycled/truncated to the area ratio.
    */
  private def cycledPayload(r: Multimodal.MMRecord, targetW: Int, targetH: Int): Array[Byte] =
    if (r.payload.isEmpty) r.payload
    else {
      val outLen = math.max(1, (r.payload.length.toLong * (targetW.toLong * targetH) /
        math.max(1L, r.width.toLong * r.height)).toInt)
      Array.tabulate(outLen)(i => r.payload(i % r.payload.length))
    }

  test("resize stub: metadata updated, payload scaled by area ratio, deterministic") {
    val mm = Multimodal.attachBinary(docs, "text", "doc_id") // md5 bytes, not images
    val in = mm.as[Multimodal.MMRecord].collect().sortBy(_.doc_id)
    val a = Multimodal.resize(mm, 16, 16).collect().sortBy(_.doc_id)
    val b = Multimodal.resize(mm, 16, 16).collect().sortBy(_.doc_id)
    assert(a.length == in.length)
    for (((r1, r2), src) <- a.zip(b).zip(in)) {
      assert(r1.width == 16 && r1.height == 16)
      assert(r1.payload.sameElements(r2.payload))
      assert(r1.payload.nonEmpty)
      assert(r1.payload.sameElements(cycledPayload(src, 16, 16)))
    }
  }

  test("real PNG round trip: ImageIO decode recovers the exact pixel histogram") {
    // encodeGrayPng pixels follow g(x,y) = (id·31 + x·7 + y·13) mod 256;
    // PNG is lossless, so the decoded histogram must equal the one
    // computed from the formula directly — no tolerance.
    for (id <- Seq(0L, 7L, 123456789L)) {
      val png = Multimodal.encodeGrayPng(id)
      assert(png.take(4).sameElements(Array[Byte](0x89.toByte, 'P', 'N', 'G'))) // real PNG magic
      val expected = new Array[Float](8)
      for (y <- 0 until 8; x <- 0 until 8)
        expected(java.lang.Math.floorMod(id * 31 + x * 7 + y * 13, 256L).toInt >>> 5) += 1f / 64f
      assert(Multimodal.decodeImage(png).sameElements(expected))
    }
  }

  test("decodeImage falls back to the stub on non-image bytes") {
    val junk = Array.tabulate[Byte](32)(_.toByte)
    assert(Multimodal.decodeImage(junk).sameElements(Multimodal.stubDecode(junk)))
  }

  test("real WAV round trip: javax.sound decode recovers the exact sample histogram") {
    // encodePcmWav samples follow s(i) = (id·31 + i·7) mod 256; PCM is
    // lossless, so the decoded amplitude histogram must equal the one
    // computed from the formula directly — no tolerance.
    for (id <- Seq(0L, 7L, 123456789L)) {
      val wav = Multimodal.encodePcmWav(id)
      assert(new String(wav.take(4), "US-ASCII") == "RIFF") // real WAV container
      val expected = new Array[Float](8)
      for (i <- 0 until 64)
        expected(java.lang.Math.floorMod(id * 31 + i * 7, 256L).toInt >>> 5) += 1f / 64f
      assert(Multimodal.decodeAudio(wav).sameElements(expected))
      // interop: the JDK's own parser accepts the hand-written header
      // and recovers the identical samples (encode is hand-rolled for
      // speed — AudioSystem holds a global lock per call)
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(wav))
      val fmt = ais.getFormat
      assert(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1)
      assert(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
      val frames = ais.readAllBytes()
      assert(frames.length == 64)
      for (i <- 0 until 64)
        assert((frames(i) & 0xff) == java.lang.Math.floorMod(id * 31 + i * 7, 256L).toInt)
    }
  }

  test("decodeAudio falls back to the stub on non-audio bytes") {
    val junk = Array.tabulate[Byte](32)(_.toByte)
    assert(Multimodal.decodeAudio(junk).sameElements(Multimodal.stubDecode(junk)))
  }

  test("decoders survive adversarially malformed containers (bogus chunk sizes)") {
    // valid magic, corrupted length fields: these reach deeper into the
    // JDK header parsers than plain junk and can throw unchecked
    // exceptions — the NonFatal catch must still fall back to the stub
    val wav = Multimodal.encodePcmWav(7L)
    for (off <- Seq(4, 16, 40); b <- Seq(0xff.toByte, 0x80.toByte)) {
      val bad = wav.clone(); bad(off) = b; bad(off + 1) = b; bad(off + 2) = b; bad(off + 3) = b
      val out = Multimodal.decodeAudio(bad) // must not throw
      assert(out.length == 8)
    }
    val png = Multimodal.encodeGrayPng(7L)
    for (off <- Seq(8, 16, 20)) {
      val bad = png.clone(); bad(off) = 0xff.toByte; bad(off + 1) = 0xff.toByte
      val out = Multimodal.decodeImage(bad) // must not throw
      assert(out.length == 8)
    }
  }

  test("attachAudio + real decode: end-to-end features over a corpus") {
    val feats = Multimodal
      .extractFeatures(Multimodal.attachAudio(docs, "doc_id").toDF(), decode = Multimodal.decodeAudio)
      .collect().sortBy(_.doc_id)
    assert(feats.length == 4)
    for (f <- feats) {
      assert(f.mime == "audio/wav")
      assert(f.features.length == 8 && math.abs(f.features.sum - 1.0f) < 1e-6)
      assert(f.n_bytes > 64) // a real WAV container, not the raw samples
    }
    assert(feats.map(_.features.toSeq).distinct.length == 4)
  }

  test("attachImage + real decode: end-to-end features over a corpus") {
    val feats = Multimodal
      .extractFeatures(Multimodal.attachImage(docs, "doc_id").toDF(), decode = Multimodal.decodeImage)
      .collect().sortBy(_.doc_id)
    assert(feats.length == 4)
    for (f <- feats) {
      assert(f.mime == "image/png")
      assert(f.features.length == 8 && math.abs(f.features.sum - 1.0f) < 1e-6)
      assert(f.n_bytes > 8) // a real encoded PNG, not the raw raster
    }
    // distinct ids → distinct pixel formulas → (generically) distinct features
    assert(feats.map(_.features.toSeq).distinct.length == 4)
  }

  test("real AVI round trip: RIFF/DIB parse recovers the exact pixel histogram") {
    // encodeDibAvi pixels follow g(f,x,y) = (id·31 + f·17 + x·7 + y·13)
    // mod 256; uncompressed DIB is raw pixels, so the decoded
    // brightness histogram must equal the formula's — no tolerance.
    for (id <- Seq(0L, 7L, 123456789L)) {
      val avi = Multimodal.encodeDibAvi(id)
      assert(new String(avi.take(4), "US-ASCII") == "RIFF") // real RIFF container
      assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
      val expected = new Array[Float](8)
      for (f <- 0 until 4; y <- 0 until 8; x <- 0 until 8)
        expected(java.lang.Math.floorMod(id * 31 + f * 17 + x * 7 + y * 13, 256L).toInt >>> 5) += 1f / 256f
      assert(Multimodal.decodeVideo(avi).sameElements(expected))
    }
  }

  test("decodeVideo falls back to the stub on non-video and malformed bytes") {
    val junk = Array.tabulate[Byte](32)(_.toByte)
    assert(Multimodal.decodeVideo(junk).sameElements(Multimodal.stubDecode(junk)))
    // a WAV is valid RIFF but not AVI — must also fall back, not throw
    val wav = Multimodal.encodePcmWav(7L)
    assert(Multimodal.decodeVideo(wav).sameElements(Multimodal.stubDecode(wav)))
    // corrupted chunk sizes inside a real AVI must never throw
    val avi = Multimodal.encodeDibAvi(7L)
    for (off <- Seq(16, 40, 100); b <- Seq(0xff.toByte, 0x80.toByte)) {
      val bad = avi.clone(); bad(off) = b; bad(off + 1) = b; bad(off + 2) = b; bad(off + 3) = b
      assert(Multimodal.decodeVideo(bad).length == 8) // must not throw
    }
  }

  test("frameSampleVideo extracts every step-th frame with exact grayscale pixels") {
    val mm = Multimodal.attachVideo(docs, "doc_id").toDF()
    val frames = Multimodal.frameSampleVideo(mm, step = 2).collect()
    assert(frames.length == 4 * 2) // 4 docs × frames {0, 2}
    assert(frames.map(f => (f.doc_id, f.frame_idx)).toSet ==
      (for (id <- 0L until 4L; f <- Seq(0, 2)) yield (id, f)).toSet)
    for (fr <- frames; y <- 0 until 8; x <- 0 until 8)
      assert((fr.payload(y * 8 + x) & 0xff) ==
        java.lang.Math.floorMod(fr.doc_id * 31 + fr.frame_idx * 17 + x * 7 + y * 13, 256L).toInt)
    // non-AVI payloads yield no frames, and never throw
    val nonAvi = Multimodal.attachBinary(docs, "text", "doc_id")
    assert(Multimodal.frameSampleVideo(nonAvi).collect().isEmpty)
  }

  test("attachVideo + real decode: end-to-end features over a corpus") {
    val feats = Multimodal
      .extractFeatures(Multimodal.attachVideo(docs, "doc_id").toDF(), decode = Multimodal.decodeVideo)
      .collect().sortBy(_.doc_id)
    assert(feats.length == 4)
    for (f <- feats) {
      assert(f.mime == "video/avi")
      assert(f.features.length == 8 && math.abs(f.features.sum - 1.0f) < 1e-6)
      assert(f.n_bytes > 4 * 192) // a real container: headers + 4 raw DIB frames
    }
    assert(feats.map(_.features.toSeq).distinct.length == 4)
  }

  test("real resize: nearest-neighbor downsample recovers exact sampled pixels") {
    // 8×8 → 4×4 picks source pixel (2x, 2y); the re-encoded PNG must
    // decode to exactly those formula values — no tolerance
    for (id <- Seq(0L, 7L, 123456789L)) {
      val resized = Multimodal.resizeImage(Multimodal.encodeGrayPng(id), 4, 4).get
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
      assert(img.getWidth == 4 && img.getHeight == 4)
      for (y <- 0 until 4; x <- 0 until 4)
        assert(img.getRaster.getSample(x, y, 0) ==
          java.lang.Math.floorMod(id * 31 + (2 * x) * 7 + (2 * y) * 13, 256L).toInt)
    }
    // upscale sanity: 8×8 → 16×16 repeats each source pixel 2×2
    val up = Multimodal.resizeImage(Multimodal.encodeGrayPng(7L), 16, 16).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(up))
    for (y <- 0 until 16; x <- 0 until 16)
      assert(img.getRaster.getSample(x, y, 0) ==
        java.lang.Math.floorMod(7L * 31 + (x / 2) * 7 + (y / 2) * 13, 256L).toInt)
  }

  test("resize falls back to the byte-cycling stub for non-image payloads") {
    val mm = Multimodal.attachBinary(docs, "text", "doc_id") // md5 bytes, not images
    val in = mm.as[Multimodal.MMRecord].collect().sortBy(_.doc_id)
    val real = Multimodal.resize(mm, 8, 4).collect().sortBy(_.doc_id)
    assert(real.length == in.length)
    for ((a, src) <- real.zip(in)) {
      assert(a.width == 8 && a.height == 4)
      assert(a.payload.sameElements(cycledPayload(src, 8, 4))) // the stub's bytes
    }
  }

  test("decode stage is a narrow map: partitioning preserved, no shuffle") {
    val mm = Multimodal.attachBinary(docs.repartition(3), "text", "doc_id")
    val feats = Multimodal.extractFeatures(mm)
    assert(feats.rdd.getNumPartitions == 3)
    // the ONLY exchange is the explicit repartition(3) below the decode:
    // nothing shuffles between the payload projection and mapPartitions
    val plan = feats.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("RoundRobinPartitioning"), plan)
  }
}
