package graft

import graft.multimodal.Multimodal

/** Multimodal plumbing specs: binary payload schema, partition-wise batch
  * kernels, 1→N frame sampling, and the REAL codec paths — images
  * (`javax.imageio`), audio (`javax.sound.sampled`), and video (the
  * hand-rolled YUV4MPEG2 parser), all zero-dependency. The feature
  * extractor routes through the same codecs and emits a real 64-bin
  * content histogram, pinned per modality by arithmetic oracles.
  */
class MultimodalSpec extends SparkSpec {

  private def media = Multimodal.asMediaTable(
    Tables.documents(spark, sf0001).limit(50), "doc_id", "text", kind = "image")

  /** A real PNG: w×h filled with one RGB color. */
  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def imageTable(rows: Seq[(Long, Array[Byte])]) = {
    val sp = spark
    import sp.implicits._
    Multimodal.asMediaTable(rows.toDF("media_id", "payload"), "media_id", "payload")
  }

  test("imageMeta: real JDK decode — exact dimensions, luma stats, corrupt rows flagged") {
    val metas = Multimodal.imageMeta(imageTable(Seq(
        1L -> pngBytes(17, 9, 0x808080),         // mid gray
        2L -> pngBytes(3, 5, 0xFF0000),          // pure red
        3L -> "definitely not an image".getBytes("UTF-8"))))
      .collect().sortBy(_.media_id)

    assert(metas(0).decoded && metas(0).width === 17 && metas(0).height === 9)
    // constant 0x80: luma = (0.299+0.587+0.114)*128 = 128 for mean/min/max
    Seq(metas(0).mean_luma, metas(0).min_luma, metas(0).max_luma)
      .foreach(l => assert(math.abs(l - 128.0) < 1e-9))
    assert(metas(1).decoded && metas(1).width === 3 && metas(1).height === 5)
    assert(math.abs(metas(1).mean_luma - 0.299 * 255) < 1e-9) // red-only luma
    // corrupt payload: flagged, never thrown — a 100 TB corpus always has some
    assert(!metas(2).decoded && metas(2).width === -1 && metas(2).mean_luma.isNaN)
  }

  test("imageDHash: re-encode and brightness-shift copies collide; corrupt rows flag") {
    // planted duplicate classes: 1/2 share a pattern (2 is brightness-
    // shifted), 3 is the identity-resize RE-ENCODE of 1 (different PNG
    // bytes, same pixels), 4 is a different pattern, 5 is corrupt
    val base = Multimodal.renderQuadGradPng(9, 8, offset = 4, shift = 0)
    // re-encode through a DIFFERENT container (BMP): same pixels,
    // different payload bytes — exact byte hashing can never pair these
    val bmp = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base)),
      "bmp", bmp)
    val reenc = bmp.toByteArray
    assert(!java.util.Arrays.equals(reenc, base)) // genuinely re-encoded
    val hs = Multimodal.imageDHash(imageTable(Seq(
        1L -> base,
        2L -> Multimodal.renderQuadGradPng(9, 8, offset = 4, shift = 8),
        3L -> reenc,
        4L -> Multimodal.renderQuadGradPng(9, 8, offset = 11, shift = 0),
        5L -> "corrupt".getBytes("UTF-8"))))
      .collect().sortBy(_.media_id)
    assert(hs.map(_.decoded).toSeq === Seq(true, true, true, true, false))
    assert(hs(1).dhash === hs(0).dhash, "brightness shift must cancel")
    assert(hs(2).dhash === hs(0).dhash, "re-encode must collide")
    assert(java.lang.Long.bitCount(hs(3).dhash ^ hs(0).dhash) > 3,
      "different pattern must not pair")
  }

  test("imageDHash: 2x pixel-doubled upscale hashes within small hamming of the original") {
    // an 18x16 pixel-doubled copy goes through the REAL bilinear
    // downscale path; block structure survives, so the hash stays
    // within a small hamming ball of the 9x8 original
    val small = Multimodal.renderQuadGradPng(9, 8, offset = 7, shift = 0)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(small))
    val big = new java.awt.image.BufferedImage(18, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 18)
      big.setRGB(x, y, img.getRGB(x / 2, y / 2))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(big, "png", bos)
    val hs = Multimodal.imageDHash(imageTable(Seq(
        1L -> small, 2L -> bos.toByteArray))).collect().sortBy(_.media_id)
    val ham = java.lang.Long.bitCount(hs(0).dhash ^ hs(1).dhash)
    assert(ham <= 3, s"resized copy drifted to hamming $ham")
  }

  test("imageDihedralHash: all 8 transforms of a pattern collide canonically") {
    // the same underlying pattern re-uploaded under every dihedral
    // transform (mirror, rotations, transposes) plus brightness shifts
    // must land on ONE canonical hash; a different pattern stays far
    val rows = (0 until 8).map(t =>
      (t + 1).toLong -> Multimodal.renderDihedralGradPng(
        offset = 4, shift = (t % 3) * 4, t = t)) :+
      (100L -> Multimodal.renderDihedralGradPng(offset = 11, shift = 0, t = 2)) :+
      (101L -> "corrupt".getBytes("UTF-8"))
    val hs = Multimodal.imageDihedralHash(imageTable(rows))
      .collect().sortBy(_.media_id)
    assert(hs.take(8).forall(_.decoded) && hs(8).decoded && !hs(9).decoded)
    val canon = hs(0).dhash
    for (i <- 1 until 8)
      assert(hs(i).dhash === canon,
        s"transform ${i} broke canonical identity: ${hs(i).dhash} vs $canon")
    assert(java.lang.Long.bitCount(hs(8).dhash ^ canon) > 3,
      "different pattern must not pair")
    assert((canon >>> 56) === 0L, "canonical hash must fit 56 bits")
  }

  test("imageDihedralHash: catches the mirror that plain dHash misses") {
    // the motivating class: a horizontally mirrored re-upload — the
    // plain difference hash lands far away, the canonical hash collides
    val a = Multimodal.renderDihedralGradPng(offset = 7, shift = 0, t = 0)
    val b = Multimodal.renderDihedralGradPng(offset = 7, shift = 0, t = 4)
    val plain = Multimodal.imageDHash(imageTable(Seq(1L -> a, 2L -> b)))
      .collect().sortBy(_.media_id)
    assert(java.lang.Long.bitCount(plain(0).dhash ^ plain(1).dhash) > 3,
      "fixture degenerate: plain dHash already pairs the mirror")
    val canon = Multimodal.imageDihedralHash(imageTable(Seq(1L -> a, 2L -> b)))
      .collect().sortBy(_.media_id)
    assert(canon(0).dhash === canon(1).dhash, "canonical hash must collide")
  }

  test("imageDihedralHash: container re-encode collides; dihedral maps are 8 distinct bijections") {
    val base = Multimodal.renderDihedralGradPng(offset = 4, shift = 0, t = 3)
    val bmp = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base)),
      "bmp", bmp)
    val hs = Multimodal.imageDihedralHash(imageTable(Seq(
        1L -> base, 2L -> bmp.toByteArray))).collect().sortBy(_.media_id)
    assert(hs(0).dhash === hs(1).dhash, "re-encode must collide")
    // the transform table really is the dihedral group's 8 elements:
    // each map permutes the 64 cells, and no two maps agree everywhere
    val perms = (0 until 8).map { t =>
      (for (y <- 0 until 8; x <- 0 until 8)
        yield Multimodal.dihedral(t, x, y, 8)).toVector
    }
    perms.foreach(p => assert(p.distinct.size === 64, "map must be a bijection"))
    assert(perms.distinct.size === 8, "all 8 maps must be distinct")
  }

  test("hammingNearDupPairs: banded join equals brute force (lossless at ham <= 3)") {
    val sp2 = spark
    import sp2.implicits._
    // 60 images in 12 pattern classes of 5 — each class a hash-equal
    // clique; cross-class pairs must only appear if truly within ham 3
    val rows = (0L until 60L).map(i =>
      i -> Multimodal.renderQuadGradPng(9, 8, offset = (i % 12).toInt,
        shift = (i % 2).toInt * 4))
    val hs = Multimodal.imageDHash(imageTable(rows))
      .select(org.apache.spark.sql.functions.col("media_id"),
        org.apache.spark.sql.functions.col("dhash"))
    val hmap = hs.as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- 0L until 60L; b <- (a + 1) until 60L
      h = java.lang.Long.bitCount(hmap(a) ^ hmap(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Multimodal.hammingNearDupPairs(hs, "media_id", "dhash")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.size === 12 * 10, s"expected 12 cliques of C(5,2), got ${got.size}")
  }

  test("hammingNearDupClasses: a planted 10k-identical class stays class-scale, never m²") {
    val sp2 = spark
    import sp2.implicits._
    // the degenerate shape real media corpora always have — black
    // frames / digital silence: 10 000 ids share ONE hash; pair-level
    // output would be C(10000,2) ≈ 5·10⁷ rows, class-level must stay
    // linear (membership) + tiny (cross-class pairs)
    val base = 0x5A5A5A5AL
    val rows = (0L until 10000L).map(i => (i, base)) ++ Seq(
      (20000L, base ^ 1L),          // hamming 1 from the class hash
      (20001L, base ^ 0x3L),        // hamming 2
      (20002L, 0x123456789AL))      // far away — must not pair
    val c = Multimodal.hammingNearDupClasses(
      rows.toDF("media_id", "h"), "media_id", "h", maxHamming = 3)
    assert(c.membership.count() === 10003L)
    val big = c.membership.filter(
      org.apache.spark.sql.functions.col("class_id") === 0L)
    assert(big.count() === 10000L)
    assert(big.select("class_size").distinct().as[Long].collect().toSeq === Seq(10000L))
    // cross-class pairs: one row per genuinely-near DISTINCT hash pair
    val pairs = c.classPairs.as[(Long, Long, Long)].collect().toSet
    assert(pairs === Set((0L, 20000L, 1L), (0L, 20001L, 2L), (20000L, 20001L, 1L)))
  }

  test("hammingNearDupPairs: expansion through classes preserves the exact pair contract") {
    val sp2 = spark
    import sp2.implicits._
    // small planted class (6 identical) + near + far: the pair surface
    // must still equal brute force, intra-class hamming-0 rows included
    val rows = (0L until 6L).map(i => (i, 0xF0F0L)) ++ Seq(
      (10L, 0xF0F1L), (11L, 0xFF00FF00L))
    val hmap = rows.toMap
    val brute = (for {
      a <- hmap.keys; b <- hmap.keys if a < b
      h = java.lang.Long.bitCount(hmap(a) ^ hmap(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Multimodal.hammingNearDupPairs(
      rows.toDF("media_id", "h"), "media_id", "h", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.count(_._3 == 0L) === 15, "C(6,2) intra-class hamming-0 pairs")
  }

  test("mediaDedupPipeline: exact + perceptual + components compose; corrupt rows dedup by bytes") {
    val sp2 = spark
    import sp2.implicits._
    def amps(off: Int, gain: Int) =
      Array.tabulate(65)(st => (((st + off) * (st + off) * 7) % 97 + 1) * gain)
    val junk = "definitely not decodable media".getBytes("UTF-8")
    val rows = Seq(
      // 3 byte-identical corrupt blobs: no codec reads them, exact
      // collapse must still dedup all three
      Multimodal.MediaRow(1L, "image", junk, 0, 0, 0),
      Multimodal.MediaRow(2L, "image", junk, 0, 0, 0),
      Multimodal.MediaRow(3L, "image", junk, 0, 0, 0),
      // same gradient pattern, different brightness: different bytes,
      // equal dHash — the perceptual edge exact hashing misses
      Multimodal.MediaRow(4L, "image",
        Multimodal.renderQuadGradPng(9, 8, offset = 1, shift = 0), 9, 8, 0),
      Multimodal.MediaRow(5L, "image",
        Multimodal.renderQuadGradPng(9, 8, offset = 1, shift = 4), 9, 8, 0),
      // unrelated pattern: singleton
      Multimodal.MediaRow(6L, "image",
        Multimodal.renderQuadGradPng(9, 8, offset = 7, shift = 0), 9, 8, 0),
      // two byte-identical clips + one gain-scaled re-master: one
      // component via exact edge + envelope-hash edge
      Multimodal.MediaRow(7L, "audio",
        Multimodal.renderSteppedWav(amps(2, 1), 64, 8000), 0, 0, 8000),
      Multimodal.MediaRow(8L, "audio",
        Multimodal.renderSteppedWav(amps(2, 1), 64, 8000), 0, 0, 8000),
      Multimodal.MediaRow(9L, "audio",
        Multimodal.renderSteppedWav(amps(2, 3), 64, 8000), 0, 0, 8000))
    val ds = rows.toDS()
    val got = Multimodal.mediaDedupPipeline(ds)
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set(1L, 4L, 6L, 7L))
    assert(got(1L) === ((1L, "image", 3L, 1L, 3L * junk.length, 2L * junk.length)))
    val (_, k4, m4, e4, _, saved4) = got(4L)
    assert(k4 === "image" && m4 === 2L && e4 === 2L && saved4 > 0L)
    assert(got(6L)._3 === 1L && got(6L)._6 === 0L)
    val (_, k7, m7, e7, _, _) = got(7L)
    assert(k7 === "audio" && m7 === 3L && e7 === 2L)
  }

  test("videoSequenceHash: re-muxed copies collide, any frame change separates; pipeline dedups them") {
    val sp2 = spark
    import sp2.implicits._
    val framesA = Array(40, 90, 140)
    val rows = Seq(
      // same frame sequence behind different container metadata — the
      // dup class payload md5 misses
      Multimodal.MediaRow(1L, "video",
        Multimodal.renderY4m(6, 4, framesA, fpsNum = 25), 6, 4, 0),
      Multimodal.MediaRow(2L, "video",
        Multimodal.renderY4m(6, 4, framesA, fpsNum = 30), 6, 4, 0),
      // one frame edited
      Multimodal.MediaRow(3L, "video",
        Multimodal.renderY4m(6, 4, Array(40, 91, 140)), 6, 4, 0),
      // frames reordered
      Multimodal.MediaRow(4L, "video",
        Multimodal.renderY4m(6, 4, Array(140, 90, 40)), 6, 4, 0),
      // corrupt
      Multimodal.MediaRow(5L, "video",
        "not a y4m stream at all".getBytes("UTF-8"), 0, 0, 0))
    val hs = Multimodal.videoSequenceHash(rows.toDS())
      .collect().map(v => v.media_id -> v).toMap
    assert(hs(1L).decoded && hs(2L).decoded)
    assert(hs(1L).vhash === hs(2L).vhash, "re-muxed copy must collide")
    assert(hs(3L).vhash !== hs(1L).vhash, "frame edit must separate")
    assert(hs(4L).vhash !== hs(1L).vhash, "frame reorder must separate")
    assert(!hs(5L).decoded)
    // end-to-end: the pipeline collapses 1+2 into one survivor
    val got = Multimodal.mediaDedupPipeline(rows.toDS())
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got === Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("audioEnvelopeHash: gain-changed copies collide; short/corrupt clips flag") {
    def amps(off: Int, gain: Int) =
      Array.tabulate(65)(st => (((st + off) * (st + off) * 7) % 97 + 1) * gain)
    val hs = Multimodal.audioEnvelopeHash(imageTable(Seq(
        1L -> Multimodal.renderSteppedWav(amps(3, 1), 64, 8000),
        2L -> Multimodal.renderSteppedWav(amps(3, 4), 64, 8000), // 4x gain
        3L -> Multimodal.renderSteppedWav(amps(9, 1), 64, 8000), // other contour
        4L -> Multimodal.renderSteppedWav(amps(3, 1), 1, 8000),  // < 65 frames? 65 frames exactly
        5L -> "not audio".getBytes("UTF-8"))), windows = 65)
      .collect().sortBy(_.media_id)
    assert(hs.map(_.decoded).toSeq === Seq(true, true, true, true, false))
    assert(hs(1).ahash === hs(0).ahash, "uniform gain must cancel")
    assert(java.lang.Long.bitCount(hs(2).ahash ^ hs(0).ahash) > 3,
      "different energy contour must not pair")
    // 65 one-sample steps: windows of len 1 still hash (samples ±amp)
    assert(hs(3).ahash === hs(0).ahash, "envelope is timescale-free when steps align")
  }

  test("audioEnvelopeHash: clip shorter than the window count flags undecoded") {
    val tiny = Multimodal.renderPcmWav(nSamples = 30, sampleRate = 8000,
      amplitude = 900)
    val hs = Multimodal.audioEnvelopeHash(imageTable(Seq(1L -> tiny)),
      windows = 65).collect()
    assert(hs.length === 1 && !hs.head.decoded)
  }

  test("incrementalHammingNearDup: batch probes the standing index; corpus never shuffles") {
    val sp2 = spark
    import sp2.implicits._
    // standing index: 40 hashes; batch: exact dup, 2-bit variant,
    // 4-bit variant (outside ham 3), and a novel hash
    val corpus = (0L until 40L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("media_id", "h")
    val batch = Seq(
      (100L, 7L * 0x9E3779B97F4A7C15L),           // exact dup of id 7
      (101L, (11L * 0x9E3779B97F4A7C15L) ^ 0x42L), // 2 bits off id 11
      (102L, (13L * 0x9E3779B97F4A7C15L) ^ 0xF0L), // 4 bits off id 13
      (103L, 0x1234L)).toDF("media_id", "h")
    val got = Multimodal.incrementalHammingNearDup(batch, corpus, "media_id", "h")
    val rows = got.as[(Long, Long, Long)].collect().toSet
    // brute-force expectation over the cross product
    val cm = corpus.as[(Long, Long)].collect()
    val bm = batch.as[(Long, Long)].collect()
    val brute = (for {
      (nid, nh) <- bm; (oid, oh) <- cm
      ham = java.lang.Long.bitCount(nh ^ oh) if ham <= 3
    } yield (nid, oid, ham.toLong)).toSet
    assert(rows === brute)
    assert(rows.exists(_._1 === 100L) && rows.exists(_._1 === 101L))
    assert(!rows.exists(_._1 === 102L) && !rows.exists(_._1 === 103L))
    // scale contract: the corpus side reaches the join through a
    // BroadcastHashJoin — no sort-merge, no corpus-side exchange
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("streams compose: per-micro-batch incremental media probe equals the batch pairing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp2 = spark
    import sp2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the daily-ingest shape in streaming form: each micro-batch of
    // arriving media hashes probes the standing index via the same
    // broadcast-band join; matches accumulate across batches
    val corpus = (0L until 30L).map(i => (i, i * 1234567L ^ (i << 17)))
      .toDF("media_id", "h").persist()
    corpus.count()
    val acc = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val input = MemoryStream[(Long, Long)]
    val q = input.toDF().toDF("media_id", "h")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) {
          acc ++= Multimodal.incrementalHammingNearDup(b, corpus, "media_id", "h")
            .as[(Long, Long, Long)].collect()
        }
        ()
      }.start()
    val arriving = Seq(
      (100L, 5L * 1234567L ^ (5L << 17)),          // dup of corpus id 5
      (101L, (9L * 1234567L ^ (9L << 17)) ^ 3L),   // 2 bits off id 9
      (102L, 0xABCDEF0123L))                       // novel
    input.addData(arriving.take(1)); q.processAllAvailable()
    input.addData(arriving.drop(1)); q.processAllAvailable()
    q.stop()
    val batch = Multimodal.incrementalHammingNearDup(
      arriving.toDF("media_id", "h"), corpus, "media_id", "h")
      .as[(Long, Long, Long)].collect().toSet
    assert(acc.toSet === batch)
    assert(batch.exists(p => p._1 == 100L && p._2 == 5L && p._3 == 0L))
    corpus.unpersist(blocking = false)
    ()
  }

  test("audioMeta: real JDK WAV decode — exact rate/frames/RMS, corrupt rows flagged") {
    val metas = Multimodal.audioMeta(imageTable(Seq(
        1L -> Multimodal.renderPcmWav(nSamples = 40, sampleRate = 11000, amplitude = 2500),
        2L -> Multimodal.renderPcmWav(nSamples = 7, sampleRate = 8000, amplitude = 0),
        3L -> "definitely not a wav".getBytes("UTF-8"))))
      .collect().sortBy(_.media_id)

    assert(metas(0).decoded && metas(0).sample_rate === 11000 && metas(0).channels === 1)
    assert(metas(0).n_samples === 40L && metas(0).peak === 2500)
    // RMS of a ±A square wave is exactly A (all terms exact in double)
    assert(metas(0).rms === 2500.0)
    assert(metas(1).decoded && metas(1).n_samples === 7L && metas(1).rms === 0.0)
    // corrupt payload: flagged, never thrown
    assert(!metas(2).decoded && metas(2).sample_rate === -1 && metas(2).rms.isNaN)
  }

  test("audioMeta: 8-bit unsigned and stereo 16-bit PCM decode correctly") {
    // hand-build an 8-bit unsigned mono WAV via the JDK encoder
    def wav(fmt: javax.sound.sampled.AudioFormat, pcm: Array[Byte], frames: Long) = {
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    // samples centered at 128: 128+50, 128-50 → RMS 50, peak 50
    val pcm8 = Array.tabulate[Byte](10)(i => if (i % 2 == 0) (128 + 50).toByte else (128 - 50).toByte)
    // stereo 16-bit: both channels carry ±1000 → RMS 1000 over all samples
    val fmt16s = new javax.sound.sampled.AudioFormat(16000f, 16, 2, true, false)
    val pcm16 = new Array[Byte](6 * 4)
    (0 until 12).foreach { s =>
      val v = if (s % 2 == 0) 1000 else -1000
      pcm16(2 * s) = (v & 0xFF).toByte; pcm16(2 * s + 1) = ((v >> 8) & 0xFF).toByte
    }
    val metas = Multimodal.audioMeta(imageTable(Seq(
        1L -> wav(fmt8, pcm8, 10), 2L -> wav(fmt16s, pcm16, 6))))
      .collect().sortBy(_.media_id)
    assert(metas(0).decoded && metas(0).n_samples === 10L &&
      metas(0).rms === 50.0 && metas(0).peak === 50)
    assert(metas(1).decoded && metas(1).channels === 2 &&
      metas(1).n_samples === 6L && metas(1).rms === 1000.0)
  }

  test("videoMeta: real Y4M parse — dims, fps, frame count, luma stats, corrupt rows flagged") {
    val metas = Multimodal.videoMeta(imageTable(Seq(
        1L -> Multimodal.renderY4m(6, 4, Array(10, 200, 45), fpsNum = 30, fpsDen = 1),
        2L -> Multimodal.renderY4m(8, 2, Array(128), colorspace = "420jpeg"),
        3L -> Multimodal.renderY4m(3, 3, Array(0, 255), colorspace = "mono"),
        4L -> "definitely not a video".getBytes("UTF-8"),
        // truncated mid-frame: header promises more bytes than exist
        5L -> Multimodal.renderY4m(6, 4, Array(10, 20)).dropRight(5))))
      .collect().sortBy(_.media_id)

    assert(metas(0).decoded && metas(0).width === 6 && metas(0).height === 4)
    assert(metas(0).fps_num === 30 && metas(0).n_frames === 3)
    // constant planes: stream mean = mean of the three constants, min/max exact
    assert(metas(0).mean_luma === (10.0 + 200 + 45) / 3)
    assert(metas(0).min_luma === 10 && metas(0).max_luma === 200)
    assert(metas(1).decoded && metas(1).n_frames === 1 && metas(1).mean_luma === 128.0)
    assert(metas(2).decoded && metas(2).n_frames === 2 && metas(2).mean_luma === 127.5)
    // corrupt and truncated payloads: flagged, never thrown
    assert(!metas(3).decoded && metas(3).width === -1 && metas(3).mean_luma.isNaN)
    assert(!metas(4).decoded && metas(4).mean_luma.isNaN)
  }

  test("videoFrameMeta: real FRAME-boundary extraction with stride sampling") {
    val lumas = Array(5, 15, 25, 35, 45)
    val tbl = imageTable(Seq(1L -> Multimodal.renderY4m(4, 4, lumas),
                             2L -> "junk".getBytes("UTF-8")))
    val all = Multimodal.videoFrameMeta(tbl).collect().sortBy(f => (f.media_id, f.frame_idx))
    assert(all.map(_.media_id).forall(_ === 1L)) // undecodable emits nothing
    assert(all.map(_.frame_idx).toSeq === Seq(0, 1, 2, 3, 4))
    assert(all.map(_.mean_luma).toSeq === lumas.map(_.toDouble).toSeq)
    assert(all.forall(f => f.width === 4 && f.height === 4))

    val strided = Multimodal.videoFrameMeta(tbl, stride = 2).collect().sortBy(_.frame_idx)
    assert(strided.map(_.frame_idx).toSeq === Seq(0, 2, 4))
    assert(strided.map(_.mean_luma).toSeq === Seq(5.0, 25.0, 45.0))
  }

  test("renderY4m/parse round-trip across colorspaces; odd dims rejected for subsampled chroma") {
    // 444 odd dims fine; 420 odd dims must throw at encode (spec-invalid)
    assert(Multimodal.videoMeta(imageTable(Seq(
      1L -> Multimodal.renderY4m(7, 5, Array(77), colorspace = "444"))))
      .collect().head.decoded)
    intercept[IllegalArgumentException] {
      Multimodal.renderY4m(7, 5, Array(77), colorspace = "420jpeg")
    }
    // a decoder must also reject a stream whose header lies about dims:
    // hand-corrupt a valid 420 stream's width to an odd value
    val good = Multimodal.renderY4m(8, 2, Array(1), colorspace = "420jpeg")
    val s = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replaceFirst("W8", "W7")
    val bad = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(!Multimodal.videoMeta(imageTable(Seq(1L -> bad))).collect().head.decoded)

    // a header claiming dims whose product overflows Int must flag
    // undecodable (and terminate), not wrap into a negative frame size
    val overflow = ("YUV4MPEG2 W100000 H100000 F25:1 C444\nFRAME\n" + "x" * 64)
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    assert(!Multimodal.videoMeta(imageTable(Seq(1L -> overflow))).collect().head.decoded)
  }

  test("asMediaTable: binary payload column with typed metadata") {
    val m = media
    assert(m.schema("payload").dataType.typeName === "binary")
    assert(m.count() === 50)
  }

  test("extractFeatures: deterministic per-partition batch kernel") {
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.length === 50)
    assert(f1.map(_.checksum).toSeq === f2.map(_.checksum).toSeq)
    assert(f1.forall(_.feature.length === 64))
    assert(f1.forall(r => r.n_bytes > 0))
    // normalized: every non-empty payload's histogram sums to ~1
    assert(f1.forall(r => math.abs(r.feature.map(_.toDouble).sum - 1.0) < 1e-4))
  }

  test("extractFeatures: arithmetic oracle per modality — all mass in the known bins") {
    def featOf(payload: Array[Byte]): Array[Float] = {
      val sp2 = spark
      import sp2.implicits._
      Multimodal.extractFeatures(
        Seq(Multimodal.MediaRow(1L, "x", payload, 0, 0, 0)).toDS()).head().feature
    }
    // image: solid gray g -> BT.601 luma g exactly -> bin g >> 2
    val gImg = featOf(Multimodal.renderSolidPng(6, 5, 200))
    assert(gImg(200 >> 2) === 1.0f, "solid-gray PNG mass must land in one luma bin")
    // video: constant-luma Y4M frames at 40 and 80 -> half mass each
    val y4m = featOf(Multimodal.renderY4m(4, 4, Array(40, 80)))
    assert(math.abs(y4m(40 >> 2) - 0.5f) < 1e-6 && math.abs(y4m(80 >> 2) - 0.5f) < 1e-6)
    // audio: +/-A square wave -> bins (32768 +/- A) >> 10, half mass each
    val a = 12000
    val wav = featOf(Multimodal.renderPcmWav(1000, 16000, a))
    assert(math.abs(wav((32768 + a) >> 10) - 0.5f) < 1e-6)
    assert(math.abs(wav((32768 - a) >> 10) - 0.5f) < 1e-6)
    // opaque blob: byte-distribution fingerprint
    val raw = featOf(Array.fill[Byte](100)(16))
    assert(raw(16 >> 2) === 1.0f)
    // empty payload: all-zero vector, no NaNs
    assert(featOf(Array.emptyByteArray).forall(_ === 0.0f))
  }

  test("q106: decode->featurize->top-k pinned arithmetically from planted lumas") {
    val sp = spark
    import sp.implicits._
    // reference features: each Y4M frame is w*h pixels of ONE luma, so
    // the 64-bin histogram is computable without touching the codec
    val nByDoc = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "CAST(octet_length(text) AS INT) AS n")
      .as[(Long, Int)].collect()
    val feats: Map[Long, Array[Float]] = nByDoc.map { case (id, n) =>
      val lumas = Array.tabulate(n % 6 + 1)(k => (n + k * 7) % 256)
      val wh = (n % 11 + 2) * (n % 9 + 2)
      val counts = new Array[Long](64)
      lumas.foreach(l => counts(l >> 2) += wh)
      val total = wh.toLong * lumas.length
      id -> counts.map(c => (c.toDouble / total).toFloat)
    }.toMap
    def cos(a: Array[Float], b: Array[Float]): Option[Double] = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) None else Some(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    val want = (for {
      p <- feats.keys.filter(_ < 5)
      top = feats.toSeq.filter(_._1 != p)
        .flatMap { case (id, v) => cos(feats(p), v).map(s => (id, s)) }
        .sortBy { case (id, s) => (-s, id) }.take(5)
      (id, s) <- top
    } yield (p, id, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSet
    val got = SparkEntry.q106(spark, sf0001)
      .select("probe_id", "vec_id", "sim_r").as[(Long, Long, Double)].collect().toSet
    assert(got === want)
  }

  test("videoFrameHashes: equal (dims, luma) frames collide, any difference separates") {
    val sp = spark
    import sp.implicits._
    val a = Multimodal.renderY4m(4, 3, Array(10, 20, 10))
    val b = Multimodal.renderY4m(4, 3, Array(10, 99, 10))
    val c = Multimodal.renderY4m(3, 4, Array(10))          // same luma, other dims
    val media = Seq(
      Multimodal.MediaRow(0L, "video", a, 4, 3, 0),
      Multimodal.MediaRow(1L, "video", b, 4, 3, 0),
      Multimodal.MediaRow(2L, "video", c, 3, 4, 0)).toDS()
    val rows = Multimodal.videoFrameHashes(media)
      .collect().map(f => (f.media_id, f.frame_idx) -> f.frame_hash).toMap
    // within a: frames 0 and 2 are both solid-10 → equal; 1 differs
    assert(rows((0L, 0)) === rows((0L, 2)))
    assert(rows((0L, 0)) !== rows((0L, 1)))
    // across a/b: shared solid-10 frames collide, the 20 vs 99 frame differs
    assert(rows((0L, 0)) === rows((1L, 0)))
    assert(rows((0L, 1)) !== rows((1L, 1)))
    // same luma at transposed dims must NOT collide
    assert(rows((0L, 0)) !== rows((2L, 0)))
  }

  test("q139 frame dedup: profile matches the planted (w, h, luma) arithmetic") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, octet_length}
    val lens = Tables.documents(spark, sf0001)
      .select(col("doc_id"), octet_length(col("text")).cast("int"))
      .as[(Long, Int)].collect()
    val byDoc = lens.map { case (id, n) =>
      id -> (0 until n % 6 + 1).map(k => (n % 11 + 2, n % 9 + 2, (n + k * 7) % 256))
    }
    val docsPerFrame = byDoc
      .flatMap { case (id, fs) => fs.distinct.map(f => (f, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val want = byDoc.map { case (id, fs) =>
      id -> ((fs.size.toLong, fs.count(f => docsPerFrame(f) >= 2).toLong))
    }.toMap
    val got = SparkEntry.q139(spark, sf0001)
      .select("doc_id", "n_frames", "n_shared")
      .as[(Long, Long, Long)].collect()
    assert(got.length === want.size)
    got.foreach { case (id, nf, ns) =>
      assert((nf, ns) === want(id), s"doc $id profile mismatch")
    }
    assert(got.exists(_._3 > 0), "fixture should contain cross-doc shared frames")
  }

  /** Block-constant 18×16 Y plane over a 9×8 cell grid whose horizontal
    * steps are ±4 with signs from `sgn(x, cy, k)` — cell (cx, cy) holds
    * 128 + Σ_{x ≤ cx} 4·sgn(x, cy, k), so the frame's dHash bit
    * `cy·8 + (x−1)` is exactly [sgn(x, cy, k) > 0]: the planted bits
    * ARE the expected hash. `jit` adds a sub-gradient per-pixel
    * perturbation (the re-encode model): |Δ| ≤ 1 < 4 never flips a
    * comparison.
    */
  private def cellPlane(k: Int, sgn: (Int, Int, Int) => Int,
                        jit: (Int, Int) => Int = (_, _) => 0): Array[Byte] = {
    val cell = Array.tabulate(8, 9) { (cy, cx) =>
      128 + (1 to cx).map(x => 4 * sgn(x, cy, k)).sum
    }
    Array.tabulate(18 * 16) { i =>
      val x = i % 18; val y = i / 18
      (cell(y / 2)(x / 2) + jit(x, y)).toByte
    }
  }

  private def expectedDHash(k: Int, sgn: (Int, Int, Int) => Int): Long =
    (for (cy <- 0 until 8; x <- 1 until 9 if sgn(x, cy, k) > 0)
      yield 1L << (cy * 8 + (x - 1))).foldLeft(0L)(_ | _)

  /** Scrambled sign bits — a linear-in-parity formula here is a trap:
    * parities of (a·x + b·cy + c·k) make every pattern the exact
    * equal-or-complement of every other across frames, so "unrelated"
    * clips collide. Murmur scrambling gives genuinely independent bits.
    */
  private def saltedSgn(salt: Int)(x: Int, cy: Int, k: Int): Int =
    if ((scala.util.hashing.MurmurHash3.productHash((salt, x, cy, k)) & 1) == 0)
      1 else -1

  private def baseSgn(x: Int, cy: Int, k: Int): Int = saltedSgn(1)(x, cy, k)

  test("videoFrameDHash: bits equal the planted grid-step signs, jitter below the gradient is invisible") {
    val sp = spark
    import sp.implicits._
    val clean = Multimodal.renderPlanesY4m(18, 16,
      (0 until 3).map(k => cellPlane(k, baseSgn)))
    val jittered = Multimodal.renderPlanesY4m(18, 16,
      (0 until 3).map(k => cellPlane(k, baseSgn,
        jit = (x, y) => if ((x + y) % 3 == 0) 1 else 0)))
    val media = Seq(
      Multimodal.MediaRow(0L, "video", clean, 18, 16, 0),
      Multimodal.MediaRow(1L, "video", jittered, 18, 16, 0)).toDS()
    val got = Multimodal.videoFrameDHash(media)
      .collect().map(f => (f.media_id, f.frame_idx) -> f.dhash).toMap
    for (k <- 0 until 3) {
      assert(got((0L, k)) === expectedDHash(k, baseSgn), s"frame $k hash")
      assert(got((1L, k)) === got((0L, k)), s"frame $k jitter flipped a bit")
    }
    // frames differ from each other (sgn depends on k)
    assert(got((0L, 0)) !== got((0L, 1)))
  }

  test("videoNearDupClips: re-encoded and trimmed clips recovered, unrelated clip untouched") {
    val sp = spark
    import sp.implicits._
    def clip(frames: Seq[Int], sgn: (Int, Int, Int) => Int,
             jit: (Int, Int) => Int = (_, _) => 0): Array[Byte] =
      Multimodal.renderPlanesY4m(18, 16, frames.map(k => cellPlane(k, sgn, jit)))
    val unrelated: (Int, Int, Int) => Int = saltedSgn(99)
    // one sign flipped at (x=4, cy=3) in every frame: per-frame hamming 1
    val oneBit: (Int, Int, Int) => Int =
      (x, cy, k) => if (x == 4 && cy == 3) -baseSgn(x, cy, k) else baseSgn(x, cy, k)
    val media = Seq(
      Multimodal.MediaRow(0L, "video", clip(0 until 4, baseSgn), 18, 16, 0),
      Multimodal.MediaRow(1L, "video", clip(0 until 4, baseSgn,
        jit = (x, y) => if ((x + y) % 3 == 0) 1 else 0), 18, 16, 0),
      Multimodal.MediaRow(2L, "video", clip(0 until 4, unrelated), 18, 16, 0),
      Multimodal.MediaRow(3L, "video", clip(1 until 4, baseSgn), 18, 16, 0),
      Multimodal.MediaRow(4L, "video", clip(0 until 4, oneBit), 18, 16, 0)).toDS()
    val got = Multimodal.videoNearDupClips(media)
      .select("a_id", "b_id", "offset", "n_matched", "coverage_r")
      .as[(Long, Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // re-encode (jitter): perfect alignment at offset 0
    assert(got((0L, 1L)) === ((0, 4L, 1.0)))
    // trimmed clip (A's frames 1..3): aligns one frame EARLIER
    assert(got((0L, 3L)) === ((-1, 3L, 1.0)))
    // per-frame hamming-1 re-encode: still recovered via the band join
    assert(got((0L, 4L)) === ((0, 4L, 1.0)))
    // the unrelated clip pairs with nothing
    assert(!got.keySet.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated clip paired: ${got.keySet}")
  }

  test("videoNearDupClips: run-collapsed evidence equals the all-frame-pair brute force (static scenes included)") {
    val sp = spark
    import sp.implicits._
    // two clips sharing a 100-frame FROZEN scene (plus distinct heads /
    // tails, and a mid-clip repeat of the scene's hash in clip B): the
    // legacy path would expand 100×200 frame pairs for the scene alone;
    // the run path joins 1×2 runs and must produce the SAME per-offset
    // counts. Clip C repeats A's head at an offset, exercising
    // multi-run accumulation into one offset bucket.
    def plane(k: Int): Array[Byte] = cellPlane(k, baseSgn)
    val frozen = plane(7)
    val a = Multimodal.renderPlanesY4m(18, 16,
      Seq(plane(0), plane(1)) ++ Seq.fill(100)(frozen) ++ Seq(plane(2)))
    val b = Multimodal.renderPlanesY4m(18, 16,
      Seq(plane(3)) ++ Seq.fill(100)(frozen) ++ Seq(plane(4)) ++
        Seq.fill(100)(frozen))
    val c = Multimodal.renderPlanesY4m(18, 16,
      Seq(plane(5), plane(0), plane(1), plane(0), plane(1)))
    val media = Seq(
      Multimodal.MediaRow(0L, "video", a, 18, 16, 0),
      Multimodal.MediaRow(1L, "video", b, 18, 16, 0),
      Multimodal.MediaRow(2L, "video", c, 18, 16, 0)).toDS()

    // independent witness: per-frame hashes brute-forced over ALL frame
    // pairs in Scala — the un-collapsed evidence the run path replaces
    val fh = Multimodal.videoFrameDHash(media).collect()
      .groupBy(_.media_id).view.mapValues(_.map(f => f.frame_idx -> f.dhash)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val want = scala.collection.mutable.Map.empty[(Long, Long, Int), Long]
    for (aId <- fh.keys; bId <- fh.keys if aId < bId;
         (ai, ahh) <- fh(aId); (bi, bh) <- fh(bId) if ham(ahh, bh) <= 3)
      want((aId, bId, bi - ai)) = want.getOrElse((aId, bId, bi - ai), 0L) + 1L
    val wantBest = want.groupBy { case ((x, y, _), _) => (x, y) }
      .map { case (k, m) =>
        val (off, n) = m.map { case ((_, _, o), c) => (o, c) }
          .toSeq.minBy { case (o, c) => (-c, o) }
        k -> ((off, n))
      }

    val got = Multimodal.videoNearDupClips(media, minCoverage = 0.01)
      .as[(Long, Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    for ((k, (off, n)) <- wantBest) {
      val cov = n.toDouble / math.min(fh(k._1).length, fh(k._2).length)
      if (cov >= 0.01)
        assert(got(k) === ((off, n)), s"pair $k: got ${got.get(k)}, want ($off, $n)")
    }
    // the frozen-scene pair dominates: 100-frame runs aligned
    assert(got((0L, 1L))._2 >= 100L, s"frozen scene under-counted: ${got((0L, 1L))}")
    // run collapse really happened: clip A is 4 runs, clip B is 5
    val runs = Multimodal.videoFrameDHashRuns(media).collect()
      .groupBy(_.media_id).view.mapValues(_.length).toMap
    assert(runs(0L) === 4 && runs(1L) === 4,
      s"expected 4/4 collapsed runs, got $runs")
    assert(runs(2L) === 5, "no false collapsing of distinct frames")
  }

  test("videoNearDupClips: the stop-frame guard keeps ubiquitous frames out of the evidence") {
    val sp = spark
    import sp.implicits._
    val black = Array.fill(18 * 16)(0.toByte)
    def clip(pat: (Int, Int, Int) => Int): Array[Byte] =
      Multimodal.renderPlanesY4m(18, 16, Seq(black, cellPlane(0, pat)))
    val p1: (Int, Int, Int) => Int = saltedSgn(7)
    val p2: (Int, Int, Int) => Int = saltedSgn(8)
    val media = Seq(
      Multimodal.MediaRow(0L, "video", clip(p1), 18, 16, 0),
      Multimodal.MediaRow(1L, "video", clip(p2), 18, 16, 0)).toDS()
    // without the guard the shared black frame is "evidence" and the two
    // unrelated clips pair at coverage 1/2
    val unguarded = Multimodal.videoNearDupClips(media, minCoverage = 0.4)
    assert(unguarded.count() === 1)
    // the guard drops any hash carried by more than maxHashFrames frames
    // BEFORE expansion — no evidence survives, no pair
    val guarded = Multimodal.videoNearDupClips(media, minCoverage = 0.4,
      maxHashFrames = 1)
    assert(guarded.count() === 0)
  }
}
