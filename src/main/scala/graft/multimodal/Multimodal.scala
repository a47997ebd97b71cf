package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column support (north-star): image/audio/video payloads as
  * opaque `binary` columns with typed metadata, processed by
  * per-partition batch kernels.
  *
  * The Spark-side plumbing is real — schema, typed Dataset encoders,
  * partition-wise batch processing (`mapPartitions`, the JVM analogue of
  * arrow-batched UDF execution), deterministic outputs. All three media
  * codecs are real and zero-dependency: IMAGE via `javax.imageio` (JDK:
  * [[imageMeta]] decodes PNG/JPEG/BMP/GIF),
  * AUDIO via `javax.sound.sampled` (JDK: [[audioMeta]] decodes WAV/PCM,
  * [[renderPcmWav]] encodes it), and VIDEO via a hand-rolled YUV4MPEG2
  * (Y4M) container codec ([[videoMeta]] / [[videoFrameMeta]] parse,
  * [[renderY4m]] encodes) — Y4M is the uncompressed interchange format
  * every video toolchain speaks (plain-text header + raw planar YUV
  * frames), so parsing it needs no codec library. COMPRESSED video
  * bitstreams (H.264/VP9/AV1) would need an external decoder that does
  * not resolve in this offline environment; such payloads simply flag
  * `decoded = false` through the same corrupt-row contract.
  * [[extractFeatures]]' vector is the real codec-backed 64-bin content
  * histogram of [[feature64]] — a LEARNED embedding would need an ML
  * model this container cannot resolve, and the histogram is the
  * standard model-free content feature with the same operator shape
  * (batch kernel, schema, partitioning).
  */
object Multimodal {

  // ImageIO's default ImageInputStream factory spools every read
  // through a TEMP FILE in a shared directory — under concurrent decode
  // tasks the file creation serializes the whole stage (round 19,
  // measured: 32-way parallel PNG decodes ran SLOWER than one task).
  // All payloads here are in-memory byte arrays; the memory-backed
  // stream is strictly better. Executes once per JVM at first use of
  // any kernel in this object (driver and executors alike).
  // The flag is PROCESS-GLOBAL JVM state, set as a side effect of this
  // object loading: it also switches off the disk cache for every other
  // ImageIO user in the JVM, and only reaches a read that starts after
  // this object has loaded.
  javax.imageio.ImageIO.setUseCache(false)

  /** A media row: opaque payload + typed metadata. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)

  /** Decoded feature vector per media item. */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           checksum: Long, feature: Array[Float])

  /** The single-pass decision row of [[mediaDedupPipeline]]: everything
    * the pipeline ever reads from a payload, computed in one decode.
    * `n_bytes`/`fp` are None for a null payload (the former column
    * forms' null-in → null-out behavior). PUBLIC, not private: the
    * encoder's generated serializer calls the accessors from
    * Janino-compiled code in another package — a private class made
    * that compile FAIL and the whole q187 serialization fall back to
    * interpreted evaluation (round 19, found via the CodeGenerator
    * error in the plan dump).
    */
  case class MediaHashRow(media_id: Long, kind: String,
                          n_bytes: Option[Long], fp: Option[String],
                          decoded: Boolean, phash: Long)

  /** Lowercase MD5 hex — bit-identical to Spark's `md5()` column. */
  private def md5Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val sb = new java.lang.StringBuilder(32)
    d.foreach { b =>
      sb.append(Character.forDigit((b >> 4) & 0xF, 16))
      sb.append(Character.forDigit(b & 0xF, 16))
    }
    sb.toString
  }

  /** Build a media table from any (id, bytes) source — e.g. documents as
    * stand-in blobs. Demonstrates the binary-column schema contract.
    */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
                   kind: String = "image"): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"), lit(kind).as("kind"),
        col(payloadCol).cast("binary").as("payload"),
        lit(0).as("width"), lit(0).as("height"), lit(0).as("sample_rate"))
      .as[MediaRow]
  }

  /** Real decoded-image metadata + pixel stats. `decoded = false` rows
    * (payload is not a parseable image) carry -1 dims and NaN stats
    * instead of killing the batch — at 100 TB some blobs are always
    * corrupt, and a kernel that throws on the first one loses the task.
    */
  case class ImageMeta(media_id: Long, decoded: Boolean, width: Int, height: Int,
                       mean_luma: Double, min_luma: Double, max_luma: Double)

  // ---- REAL IMAGE KERNEL (JDK javax.imageio — no external deps) ----------

  /** Deterministic solid-gray PNG (the encode half of the JDK codec
    * path); used by the oracle-checked decode query (q39) and specs.
    */
  def renderSolidPng(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
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

  private def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    catch { case _: java.io.IOException | _: RuntimeException => None }

  /** Decode every payload and extract dimensions + luma statistics — the
    * real-codec version of the feature kernel: one pass per partition,
    * no shuffle, no driver collect, corrupt rows flagged not thrown.
    */
  def imageMeta(media: Dataset[MediaRow]): Dataset[ImageMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        decodeImage(r.payload) match {
          case Some(img) =>
            val w = img.getWidth; val h = img.getHeight
            var sum = 0.0; var mn = Double.MaxValue; var mx = Double.MinValue
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                // ITU-R BT.601 luma from the sRGB channels
                val l = 0.299 * ((rgb >> 16) & 0xFF) +
                  0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
                sum += l; if (l < mn) mn = l; if (l > mx) mx = l
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            ImageMeta(r.media_id, decoded = true, w, h,
              if (n == 0) Double.NaN else sum / n,
              if (n == 0) Double.NaN else mn, if (n == 0) Double.NaN else mx)
          case None =>
            ImageMeta(r.media_id, decoded = false, -1, -1,
              Double.NaN, Double.NaN, Double.NaN)
        }
      }
    }
  }

  /** Quadratic-gradient grayscale PNG: `luma(x, y) = shift +
    * ((x + 9y + offset + 1)²·13) % 150`. Unlike a LINEAR gradient
    * (whose difference hash degenerates to near-all-ones — neighbors
    * almost always increase), the squared term makes adjacent-cell
    * comparisons flip pseudo-randomly, so distinct `offset`s produce
    * dHashes ~30 bits apart while equal offsets collide exactly; the
    * `shift` term is a uniform brightness change dHash cancels. The
    * q182 fixture renderer — luma is pure integer arithmetic, so the
    * oracle replays it without a codec.
    */
  def renderQuadGradPng(w: Int, h: Int, offset: Int, shift: Int): Array[Byte] = {
    require(shift >= 0 && shift + 149 <= 255, s"shift out of range: $shift")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val t = x + 9 * y + offset + 1
        val l = shift + (t * t * 13) % 150
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The 8 isometries of an n×n grid (the dihedral group D4):
    * `F_t(x, y)` = source coordinates of transformed-grid cell (x, y).
    * t 0–3 are the rotations, 4–7 the reflections. One shared table —
    * the fixture renderer, the canonical hash, and the q197 oracle all
    * compose EXACTLY these maps, so transform identity replays bit for
    * bit.
    */
  private[graft] def dihedral(t: Int, x: Int, y: Int, n: Int): (Int, Int) =
    t match {
      case 0 => (x, y)
      case 1 => (n - 1 - y, x)
      case 2 => (n - 1 - x, n - 1 - y)
      case 3 => (y, n - 1 - x)
      case 4 => (n - 1 - x, y)
      case 5 => (x, n - 1 - y)
      case 6 => (y, x)
      case _ => (n - 1 - y, n - 1 - x)
    }

  /** The q197 fixture: the [[renderQuadGradPng]] quadratic-gradient
    * luma rendered on an 8×8 grid THROUGH a dihedral transform —
    * `img(x, y) = shift + ((u + 9v + offset + 1)²·13) % 150` with
    * `(u, v) = F_t(x, y)` — a mirrored/rotated re-upload of the same
    * underlying pattern. Pure integer arithmetic: the oracle replays
    * render, transform, and hash without a codec.
    */
  def renderDihedralGradPng(offset: Int, shift: Int, t: Int): Array[Byte] = {
    require(shift >= 0 && shift + 149 <= 255, s"shift out of range: $shift")
    require(t >= 0 && t < 8, s"dihedral transform must be 0..7, got $t")
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val (u, v) = dihedral(t, x, y, 8)
        val s = u + 9 * v + offset + 1
        val l = shift + (s * s * 13) % 150
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Per-image 64-bit difference hash. */
  case class ImageHash(media_id: Long, decoded: Boolean, dhash: Long)

  /** dHash (difference hash) — the standard perceptual image
    * fingerprint: decode, reduce to a 9-wide × 8-high luma grid
    * (bilinear, skipped when the payload is already 9×8), set bit
    * `y·8 + x` when `luma(x+1, y) > luma(x, y)`. Horizontal gradients
    * survive re-encoding, uniform brightness shifts, and mild resizes
    * — exactly the duplicate classes exact payload-byte hashing (q12)
    * misses on a multimodal corpus. Pixels never leave the partition;
    * only the 8-byte hash shuffles (the q139 frame-hash contract).
    * Corrupt payloads flag `decoded = false` with hash 0 instead of
    * failing the task.
    */
  def imageDHash(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val (dec, hash) = dHashCore(r.payload)
      ImageHash(r.media_id, dec, hash)
    })
  }

  /** The [[imageDHash]] kernel on one payload — shared with
    * [[mediaDedupPipeline]]'s single-pass hasher so the two can never
    * disagree about a bit. Returns `(decoded, hash)`.
    */
  private def dHashCore(payload: Array[Byte]): (Boolean, Long) =
    decodeImage(payload) match {
      case Some(img0) =>
        val img =
          if (img0.getWidth == 9 && img0.getHeight == 8) img0
          else {
            val out = new java.awt.image.BufferedImage(9, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img0, 0, 0, 9, 8, null)
            } finally g.dispose()
            out
          }
        var hash = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          var prev = 0.0
          while (x < 9) {
            val rgb = img.getRGB(x, y)
            val l = 0.299 * ((rgb >> 16) & 0xFF) +
              0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
            if (x > 0 && l > prev) hash |= 1L << (y * 8 + (x - 1))
            prev = l
            x += 1
          }
          y += 1
        }
        (true, hash)
      case None => (false, 0L)
    }

  /** Dihedral-CANONICAL perceptual hash: the minimum over the 8 grid
    * isometries ([[dihedral]]) of a 56-bit horizontal-difference hash
    * on the 8×8 luma grid — bit `y·7 + x` of variant `t` is set when
    * `g(F_t(x+1, y)) > g(F_t(x, y))`. A mirrored or rotated re-upload
    * permutes the grid by some `s ∈ D4`, so its 8 variant hashes are
    * the SAME SET (`{g∘s∘t} = {g∘t'}` — D4 closure) and the minimum is
    * identical: canonical hashes catch the transform-duplicate class
    * plain [[imageDHash]] misses (a mirror lands ~30 bits away), while
    * uniform brightness shifts still cancel in the comparisons. At
    * grid level the rotation is exact; for non-square source images
    * the 8×8 resample makes it the standard approximation. Pixels
    * never leave the partition — only the canonical 8-byte hash
    * shuffles, and [[hammingNearDupPairs]]' 4×16-bit banding stays
    * lossless (the value is < 2^56).
    */
  def imageDihedralHash(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      decodeImage(r.payload) match {
        case Some(img0) =>
          val img =
            if (img0.getWidth == 8 && img0.getHeight == 8) img0
            else {
              val out = new java.awt.image.BufferedImage(8, 8,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              try {
                g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img0, 0, 0, 8, 8, null)
              } finally g.dispose()
              out
            }
          val lum = new Array[Double](64)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val rgb = img.getRGB(x, y)
              lum(y * 8 + x) = 0.299 * ((rgb >> 16) & 0xFF) +
                0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
              x += 1
            }
            y += 1
          }
          var best = Long.MaxValue
          var t = 0
          while (t < 8) {
            var h = 0L
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 7) {
                val (ax, ay) = dihedral(t, xx, yy, 8)
                val (bx, by) = dihedral(t, xx + 1, yy, 8)
                if (lum(by * 8 + bx) > lum(ay * 8 + ax))
                  h |= 1L << (yy * 7 + xx)
                xx += 1
              }
              yy += 1
            }
            if (h < best) best = h
            t += 1
          }
          ImageHash(r.media_id, decoded = true, best)
        case None => ImageHash(r.media_id, decoded = false, 0L)
      }
    })
  }

  /** The four 16-bit bands of a 64-bit hash as an exploded
    * `struct(b, v)` column — shared by every banded-Hamming operator
    * below so the bucketing math cannot drift between them.
    */
  private def bandStructs(h: Column): Column =
    explode(array((0 until 4).map(b =>
      struct(lit(b).as("b"),
        shiftrightunsigned(h, 16 * b).bitwiseAND(lit(0xFFFFL)).as("v"))): _*))

  /** Class-level view of a banded-Hamming dedup:
    * `membership` = `(id, class_id, class_size)` where a CLASS is one
    * distinct hash value (its minimum member id is the class id), and
    * `classPairs` = `(a_class, b_class, hamming)` for distinct-hash
    * class pairs within `maxHamming`. Intra-class pairs are implicit
    * (every same-class pair has Hamming 0).
    */
  case class HammingDupClasses(membership: DataFrame, classPairs: DataFrame)

  /** Hamming-0 class collapse + banded class pairing — the form of
    * [[hammingNearDupPairs]] that survives DEGENERATE duplicate
    * classes. Real media corpora concentrate mass on a few identical
    * hashes (black frames, digital silence, blank pages): a
    * million-member class fed straight into a band self-join
    * materializes m²/2 ≈ 5·10¹¹ pairs from one bucket. Here identical
    * hashes collapse FIRST (one groupBy on the 8-byte hash — the exact
    * skew guard [[graft.operators.Dedup.corpusComponents]] applies to
    * text), only DISTINCT hashes enter the four-band join, and the
    * result is class-scale: membership rows (linear in ids) plus
    * cross-class pairs (linear in genuinely-near hash values). Banding
    * stays lossless for `maxHamming <= 3` (pigeonhole over four 16-bit
    * bands). Downstream component/survivor logic should run on class
    * ids and expand through `membership` at the end — the q187
    * pipeline shape.
    */
  def hammingNearDupClasses(hashes: DataFrame, idCol: String, hashCol: String,
                            maxHamming: Int = 3): HammingDupClasses = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"banding is lossless only for maxHamming <= 3, got $maxHamming")
    // ONE materialization of the (id, hash) projection: membership and
    // the band join reference it up to six times downstream, and for
    // every caller the upstream is a full payload decode pass — without
    // this, each reference re-decodes the corpus (guide §8: heavy bytes
    // are read once; every later decision runs on the 16-byte proxy).
    // localCheckpoint, not persist: a fresh invocation always
    // recomputes — no CacheManager plan matching across runs.
    val members = hashes.select(col(idCol).as("id"), col(hashCol).as("__h"))
      .localCheckpoint(true)
    val classes = members.groupBy(col("__h"))
      .agg(min(col("id")).as("class_id"), count(lit(1)).as("class_size"))
    val membership = members.join(classes, Seq("__h"))
      .select(col("id"), col("class_id"), col("class_size"))
    val banded = classes
      .select(col("class_id"), col("__h"), bandStructs(col("__h")).as("band"))
      .select(col("class_id"), col("__h"),
        col("band.b").as("__b"), col("band.v").as("__v"))
    val b2 = banded.select(col("class_id").as("__c2"), col("__h").as("__h2"),
      col("__b").as("__b2"), col("__v").as("__v2"))
    val classPairs = banded
      .join(b2, col("__b") === col("__b2") && col("__v") === col("__v2") &&
        col("class_id") < col("__c2"))
      .select(col("class_id").as("a_class"), col("__c2").as("b_class"),
        expr("bit_count(__h ^ __h2)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    HammingDupClasses(membership, classPairs)
  }

  /** Near-duplicate pairs for ANY 64-bit perceptual hash (image dHash,
    * audio envelope hash, video frame signatures) by banded Hamming
    * join — LOSSLESS for `maxHamming <= 3`: the hash splits into four
    * 16-bit bands, and ≤ 3 differing bits cannot touch all four
    * (pigeonhole), so every qualifying pair shares at least one exact
    * band — the q129 prefix-filter argument in Hamming space.
    * Identical hashes collapse to one class BEFORE banding
    * ([[hammingNearDupClasses]]), so a degenerate m-member identical
    * class costs the band join ONE row, not m — though the pair
    * CONTRACT still expands it to m(m−1)/2 output rows (all Hamming
    * 0); callers facing black-frame/silence-heavy corpora should
    * consume [[hammingNearDupClasses]] directly and stay class-scale.
    * Returns `(a_id, b_id, hamming)` with a_id < b_id. Shuffle carries
    * (id, 8-byte hash) rows only — never pixels or samples — and
    * band bucket sizes track DISTINCT near-dup hash values, not
    * duplicate-class sizes.
    */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                          maxHamming: Int = 3): DataFrame = {
    val c = hammingNearDupClasses(hashes, idCol, hashCol, maxHamming)
    val ma = c.membership.select(col("class_id").as("a_class"), col("id").as("__ida"))
    val mb = c.membership.select(col("class_id").as("b_class"), col("id").as("__idb"))
    val cross = c.classPairs.join(ma, Seq("a_class")).join(mb, Seq("b_class"))
      .select(least(col("__ida"), col("__idb")).as("a_id"),
        greatest(col("__ida"), col("__idb")).as("b_id"), col("hamming"))
    val ia = c.membership.select(col("class_id").as("__c"), col("id").as("__ida"))
    val ib = c.membership.select(col("class_id").as("__c"), col("id").as("__idb"))
    val intra = ia.join(ib, Seq("__c"))
      .filter(col("__ida") < col("__idb"))
      .select(col("__ida").as("a_id"), col("__idb").as("b_id"),
        lit(0L).as("hamming"))
    cross.unionByName(intra)
  }

  /** Incremental perceptual dedup: the arriving batch's 64-bit hashes
    * probed against the STANDING media index without re-pairing or
    * shuffling it — the daily-ingest shape for media corpora (the
    * [[graft.operators.Dedup.incrementalNearDup]] contract in Hamming
    * space). The four 16-bit bands of the batch's DISTINCT hashes
    * BROADCAST (batch-scale); the corpus derives its bands map-side
    * inside the same stage and probes the broadcast — the only
    * exchange anywhere is the distinct over verified
    * (corpus id, batch hash class) matches, bounded by true duplicate
    * hits at batch-CLASS granularity.
    * Lossless for `maxHamming <= 3` (the [[hammingNearDupPairs]]
    * pigeonhole). Returns `(new_id, old_id, hamming)`.
    */
  def incrementalHammingNearDup(batch: DataFrame, corpus: DataFrame,
                                idCol: String, hashCol: String,
                                maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"banding is lossless only for maxHamming <= 3, got $maxHamming")
    // the batch collapses to DISTINCT hashes before broadcasting — a
    // degenerate batch class of m identical hashes (today's black
    // frames) would otherwise probe every corpus candidate m times and
    // push m× rows through the matched-pair exchange; membership
    // re-expands (broadcast, batch-scale) only after the verify filter
    val bm = batch.select(col(idCol).as("new_id"), col(hashCol).as("__hn"))
    val bBands = broadcast(bm.groupBy(col("__hn")).agg(count(lit(1)))
      .select(col("__hn"), bandStructs(col("__hn")).as("band"))
      .select(col("__hn"), col("band.b").as("__bb"), col("band.v").as("__bv")))
    corpus.select(col(idCol).as("old_id"), col(hashCol).as("__ho"))
      .select(col("old_id"), col("__ho"), bandStructs(col("__ho")).as("band"))
      .select(col("old_id"), col("__ho"),
        col("band.b").as("__ob"), col("band.v").as("__ov"))
      .join(bBands, col("__ob") === col("__bb") && col("__ov") === col("__bv"))
      .select(col("old_id"), col("__hn"),
        expr("bit_count(__hn ^ __ho)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .join(broadcast(bm), Seq("__hn"))
      .select(col("new_id"), col("old_id"), col("hamming"))
      // a batch that carries the SAME (id, hash) row twice would
      // otherwise emit its pairs twice after the membership re-join —
      // dedup at output granularity (matched-pair scale, the same
      // exchange bound as the pre-class-collapse implementation)
      .distinct()
  }

  /** End-to-end media dedup — the [[graft.operators.Dedup.dedupCorpus]]
    * shape for a multimodal lake, composed from the tier's own pieces:
    *
    *  1. EXACT payload collapse: min-id representative per
    *     (kind, md5(payload)) class — one map-side fingerprint, no
    *     decode, so it also dedups rows no codec can read;
    *  2. per-modality PERCEPTUAL hash, map-side (pixels and samples
    *     never leave their decode partitions): [[imageDHash]] for
    *     images, [[audioEnvelopeHash]] for audio — corrupt payloads
    *     (`decoded = false`) skip this stage and rely on (1);
    *  3. banded Hamming CLASS pairs per modality
    *     ([[hammingNearDupClasses]]) — only distinct hash values enter
    *     the band join, so degenerate black-frame/silence classes cost
    *     one row each;
    *  4. connected components over LINEAR edges — exact membership
    *     (id → exact rep), hash-class membership (id → class id), and
    *     the class-pair edges — via
    *     [[graft.operators.Dedup.nearDupComponents]]: edge count is
    *     O(ids + near-dup hash pairs), never O(pairs-of-members);
    *  5. survivor datasheet: one row per kept item with its duplicate
    *     class size, distinct exact-byte variants, and bytes
    *     reclaimable by keeping only the survivor.
    *
    * Video rows route through [[videoSequenceHash]] — the clip-level
    * frame-sequence fingerprint that catches re-muxed copies (same
    * frames, different container metadata) as hamming-0 classes;
    * frame-LEVEL sharing analysis stays with [[videoFrameHashes]]
    * (the q139 profile). Returns `(survivor_id, kind, n_members,
    * n_exact_classes, total_bytes, bytes_saved)`; singletons appear
    * with `n_members = 1`, `bytes_saved = 0`.
    */
  def mediaDedupPipeline(media: Dataset[MediaRow], maxHamming: Int = 3,
                         audioWindows: Int = 65): DataFrame = {
    import media.sparkSession.implicits._
    // ONE pass over the payloads computes EVERY decision input — the
    // exact byte fingerprint, the per-modality perceptual hash
    // (identical kernels to the standalone operators: [[dHashCore]] /
    // [[envelopeHashCore]] / [[vseqHashCore]]), and the byte size —
    // then localCheckpoints the metadata-width result. The previous
    // shape re-read (and re-decoded) the payload column once per
    // downstream subtree — four synthesis/decode passes plus three
    // base re-derivations; this is the guide-§8 design: heavy bytes
    // are read exactly once, every later decision runs on ~40-byte
    // rows. localCheckpoint, not persist: a fresh invocation always
    // recomputes — no CacheManager plan matching across runs.
    val hashed = media.mapPartitions(_.map { r =>
      val (dec, ph) = r.kind match {
        case "image" => dHashCore(r.payload)
        case "audio" => envelopeHashCore(r.payload, audioWindows)
        case "video" => vseqHashCore(r.payload)
        case _ => (false, 0L)
      }
      MediaHashRow(r.media_id, r.kind,
        Option(r.payload).map(_.length.toLong),
        Option(r.payload).map(md5Hex), dec, ph)
    }).toDF().localCheckpoint(true)
    val base = hashed.select(col("media_id"), col("kind"),
      col("fp").as("__fp"), col("n_bytes").as("__bytes"))
    val exactRep = base.groupBy(col("kind"), col("__fp"))
      .agg(min(col("media_id")).as("__erep"))
    val exactEdges = base.join(exactRep, Seq("kind", "__fp"))
      .filter(col("media_id") =!= col("__erep"))
      .select(col("media_id").as("a_id"), col("__erep").as("b_id"))
    def classEdges(hashes: DataFrame, hashCol: String): DataFrame = {
      val c = hammingNearDupClasses(hashes, "media_id", hashCol, maxHamming)
      c.membership.filter(col("id") =!= col("class_id"))
        .select(col("id").as("a_id"), col("class_id").as("b_id"))
        .unionByName(c.classPairs
          .select(col("a_class").as("a_id"), col("b_class").as("b_id")))
    }
    def modalityHashes(kind: String): DataFrame = hashed
      .filter(col("kind") === kind && col("decoded"))
      .select(col("media_id"), col("phash"))
    val imgEdges = classEdges(modalityHashes("image"), "phash")
    val audEdges = classEdges(modalityHashes("audio"), "phash")
    val vidEdges = classEdges(modalityHashes("video"), "phash")
    val edges = exactEdges.unionByName(imgEdges).unionByName(audEdges)
      .unionByName(vidEdges)
    val comp = graft.operators.Dedup.nearDupComponents(
      base.select(col("media_id")), "media_id", edges)
    base.join(comp, base("media_id") === comp("id"))
      .groupBy(col("survivor_id"))
      .agg(first(col("kind")).as("kind"),
        count(lit(1)).as("n_members"),
        countDistinct(col("__fp")).as("n_exact_classes"),
        sum(col("__bytes")).as("total_bytes"))
      .join(base.select(col("media_id").as("survivor_id"),
        col("__bytes").as("__sb")), Seq("survivor_id"))
      .withColumn("bytes_saved", col("total_bytes") - col("__sb"))
      .drop("__sb")
  }

  /** Per-clip 64-bit envelope fingerprint. */
  case class AudioHash(media_id: Long, decoded: Boolean, ahash: Long)

  /** Audio envelope hash — the audio member of the perceptual-dedup
    * family ([[imageDHash]] for images, [[videoFrameHashes]] for
    * video): decode 16-bit mono PCM, split the frames into `windows`
    * equal windows, and set bit `w` when window w+1 carries more
    * energy (sum of squared samples — exact integer, no sqrt) than
    * window w. The energy-envelope CONTOUR survives re-encoding and
    * uniform gain changes (a constant gain scales every window by the
    * same g², leaving all comparisons intact) — the duplicate classes
    * byte hashing misses for audio. The trailing `n mod windows`
    * frames are ignored (windows stay equal-length so energy
    * comparisons are like-for-like). Clips shorter than `windows`
    * frames, non-mono, or non-16-bit payloads flag `decoded = false`.
    * Samples never leave the partition; only the 8-byte hash shuffles.
    * Pairing: [[hammingNearDupPairs]], same as images.
    */
  def audioEnvelopeHash(media: Dataset[MediaRow], windows: Int = 65): Dataset[AudioHash] = {
    require(windows >= 2 && windows <= 65,
      s"need 2 <= windows <= 65 (64 hash bits), got $windows")
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val (dec, hash) = envelopeHashCore(r.payload, windows)
      AudioHash(r.media_id, dec, hash)
    })
  }

  /** The [[audioEnvelopeHash]] kernel on one payload — shared with
    * [[mediaDedupPipeline]]'s single-pass hasher. Returns
    * `(decoded, hash)`.
    */
  private def envelopeHashCore(payload: Array[Byte], windows: Int): (Boolean, Long) =
    decodeAudio(payload) match {
      case Some((fmt, data)) =>
        val pcmSigned =
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        if (!pcmSigned || fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1)
          (false, 0L)
        else {
          val n = data.length / 2
          val len = n / windows
          if (len == 0) (false, 0L)
          else {
            val sum2 = new Array[Long](windows)
            var w = 0
            while (w < windows) {
              var acc = 0L
              var i = w * len
              val end = i + len
              while (i < end) {
                val off = i * 2
                val b0 = data(off) & 0xFF; val b1 = data(off + 1) & 0xFF
                val raw = if (fmt.isBigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
                val s = raw.toShort.toLong
                acc += s * s
                i += 1
              }
              sum2(w) = acc
              w += 1
            }
            var hash = 0L
            w = 0
            while (w < windows - 1) {
              if (sum2(w + 1) > sum2(w)) hash |= 1L << w
              w += 1
            }
            (true, hash)
          }
        }
      case None => (false, 0L)
    }

  /** Deterministic stepped square-wave WAV: 16-bit mono PCM, step `s`
    * holds `samplesPerStep` frames of a ±`amps(s)` square wave — the
    * amplitude STAIRCASE whose per-window energy is pure arithmetic in
    * `amps`, which is what lets q184's oracle replay the envelope hash
    * without a codec (the [[renderPcmWav]] trick with a time axis).
    */
  def renderSteppedWav(amps: Array[Int], samplesPerStep: Int,
                       sampleRate: Int): Array[Byte] = {
    require(samplesPerStep > 0 && amps.forall(a => a >= 0 && a <= Short.MaxValue),
      "amplitudes must fit 16-bit samples")
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)
    val n = amps.length * samplesPerStep
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val a = amps(i / samplesPerStep)
      val v = if (i % 2 == 0) a else -a
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  // ---- REAL AUDIO KERNEL (JDK javax.sound.sampled — no external deps) ----

  /** Decoded-audio metadata + sample stats (the audio twin of
    * [[ImageMeta]]). `decoded = false` rows (payload is not parseable
    * WAV/PCM) carry -1 properties and NaN stats instead of killing the
    * batch — same corrupt-row contract as the image kernel.
    */
  case class AudioMeta(media_id: Long, decoded: Boolean, sample_rate: Int,
                       channels: Int, n_samples: Long, rms: Double, peak: Int)

  /** Deterministic 16-bit mono PCM WAV — a ±`amplitude` square wave of
    * `nSamples` frames (the encode half of the JDK audio codec path);
    * used by the oracle-checked decode query (q43) and specs. The RMS of
    * a ±A square wave is exactly A, so decode output is arithmetically
    * checkable without the oracle touching a codec.
    */
  def renderPcmWav(nSamples: Int, sampleRate: Int, amplitude: Int): Array[Byte] = {
    require(nSamples >= 0 && amplitude >= 0 && amplitude <= Short.MaxValue,
      s"amplitude must fit a 16-bit sample, got $amplitude")
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val v = if (i % 2 == 0) amplitude else -amplitude
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def decodeAudio(payload: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Byte])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try Some((ais.getFormat, ais.readAllBytes()))
      finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException
           | _: java.io.IOException | _: RuntimeException => None
    }

  /** Decode every payload through the JDK WAV/PCM codec and extract
    * format properties + sample statistics — one pass per partition, no
    * shuffle, no driver collect, corrupt rows flagged not thrown.
    * Supports 8-bit (unsigned, per WAV convention) and 16-bit signed
    * PCM in either endianness; other encodings flag `decoded = false`.
    */
  def audioMeta(media: Dataset[MediaRow]): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val bad = AudioMeta(r.media_id, decoded = false, -1, -1, -1L,
          Double.NaN, -1)
        decodeAudio(r.payload) match {
          case Some((fmt, data)) =>
            val bits = fmt.getSampleSizeInBits
            val ch = fmt.getChannels
            val enc = fmt.getEncoding
            val pcmSigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
            val pcmUnsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
            if (!(pcmSigned || pcmUnsigned) || (bits != 8 && bits != 16) || ch < 1) bad
            else {
              val bytesPer = bits / 8
              val n = data.length / (bytesPer * ch) // whole frames only
              var sumSq = 0.0; var peak = 0
              var i = 0
              val total = n * ch
              while (i < total) {
                val v =
                  if (bits == 8) {
                    // 8-bit WAV is unsigned-centered at 128 by convention
                    if (pcmUnsigned) (data(i) & 0xFF) - 128 else data(i).toInt
                  } else {
                    val off = i * 2
                    val b0 = data(off) & 0xFF; val b1 = data(off + 1) & 0xFF
                    val raw = if (fmt.isBigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
                    val s = raw.toShort.toInt
                    if (pcmUnsigned) raw - 32768 else s
                  }
                sumSq += v.toDouble * v; if (math.abs(v) > peak) peak = math.abs(v)
                i += 1
              }
              AudioMeta(r.media_id, decoded = true,
                math.round(fmt.getSampleRate), ch, n,
                if (total == 0) Double.NaN else math.sqrt(sumSq / total), peak)
            }
          case None => bad
        }
      }
    }
  }

  // ---- REAL VIDEO KERNEL (hand-rolled YUV4MPEG2 — no external deps) ------
  // Y4M is the raw-video interchange format (mjpegtools; emitted/consumed
  // by ffmpeg, x264, libvpx): an ASCII one-line stream header
  // `YUV4MPEG2 W<w> H<h> F<num>:<den> [I?] [A?:?] [C<space>]\n`, then per
  // frame an ASCII `FRAME[ params]\n` marker followed by raw planar YUV.
  // No entropy coding, so a from-scratch parser IS a complete decoder.

  /** Decoded-video metadata + whole-stream luma stats (the video twin of
    * [[ImageMeta]]/[[AudioMeta]]). `decoded = false` rows (payload is
    * not parseable Y4M — e.g. a compressed bitstream) carry -1
    * properties and NaN stats instead of killing the batch.
    */
  case class VideoMeta(media_id: Long, decoded: Boolean, width: Int, height: Int,
                       fps_num: Int, fps_den: Int, n_frames: Int,
                       mean_luma: Double, min_luma: Int, max_luma: Int)

  /** One decoded frame's luma statistics (frame extraction output). */
  case class VideoFrameMeta(media_id: Long, frame_idx: Int, width: Int,
                            height: Int, mean_luma: Double)

  /** Parsed Y4M stream header + the byte offset of each frame's Y plane. */
  private case class Y4m(w: Int, h: Int, fpsNum: Int, fpsDen: Int, cs: String,
                         ySize: Int, chromaSize: Int, yOffsets: Vector[Int])

  /** Deterministic Y4M encode (the encode half of the codec path): one
    * constant-luma plane per frame (`lumas(k)` for frame k), chroma at
    * neutral 128. Constant planes make decode output arithmetically
    * checkable — the mean luma of frame k is exactly `lumas(k)` — the
    * same trick as [[renderSolidPng]] / [[renderPcmWav]] (q39/q43/q44).
    * `colorspace` ∈ mono, 420jpeg/420mpeg2/420paldv (even dims), 422, 444.
    */
  def renderY4m(w: Int, h: Int, lumas: Array[Int],
                fpsNum: Int = 25, fpsDen: Int = 1,
                colorspace: String = "444"): Array[Byte] = {
    require(w > 0 && h > 0 && lumas.forall(l => l >= 0 && l <= 255),
      s"luma must be a byte, dims positive: w=$w h=$h")
    val cs = chromaPlaneSize(colorspace, w, h)
      .getOrElse(throw new IllegalArgumentException(s"colorspace: $colorspace"))
    val header = s"YUV4MPEG2 W$w H$h F$fpsNum:$fpsDen Ip A1:1 C$colorspace\n"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(header.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    lumas.foreach { l =>
      bos.write("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val y = new Array[Byte](w * h); java.util.Arrays.fill(y, l.toByte)
      bos.write(y)
      if (cs > 0) {
        val c = new Array[Byte](cs); java.util.Arrays.fill(c, 128.toByte)
        bos.write(c); bos.write(c)
      }
    }
    bos.toByteArray
  }

  /** Deterministic Y4M encode from EXPLICIT Y planes — the per-pixel
    * sibling of [[renderY4m]] (which fills each frame with one luma):
    * frame k's Y plane is `yPlanes(k)` verbatim (row-major, `w·h`
    * bytes), chroma at neutral 128. This is the fixture encoder for
    * content with real spatial structure (gradients, planted dHash bit
    * patterns) that uniform frames cannot express; q191 renders its
    * re-encoded-clip corpus through it.
    */
  def renderPlanesY4m(w: Int, h: Int, yPlanes: Seq[Array[Byte]],
                      fpsNum: Int = 25, fpsDen: Int = 1,
                      colorspace: String = "444"): Array[Byte] = {
    require(w > 0 && h > 0, s"dims positive: w=$w h=$h")
    require(yPlanes.forall(_.length == w * h),
      s"each Y plane must be w*h = ${w * h} bytes")
    val cs = chromaPlaneSize(colorspace, w, h)
      .getOrElse(throw new IllegalArgumentException(s"colorspace: $colorspace"))
    val header = s"YUV4MPEG2 W$w H$h F$fpsNum:$fpsDen Ip A1:1 C$colorspace\n"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(header.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    yPlanes.foreach { y =>
      bos.write("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bos.write(y)
      if (cs > 0) {
        val c = new Array[Byte](cs); java.util.Arrays.fill(c, 128.toByte)
        bos.write(c); bos.write(c)
      }
    }
    bos.toByteArray
  }

  /** Bytes in one chroma plane, or None for an unsupported colorspace
    * tag (or dims the tag's subsampling cannot represent). 420 halves
    * both axes (even dims required, per the Y4M spec), 422 halves width
    * only, 444 is full-size, mono has no chroma.
    */
  private def chromaPlaneSize(cs: String, w: Int, h: Int): Option[Int] = cs match {
    case "mono" => Some(0)
    case "420" | "420jpeg" | "420mpeg2" | "420paldv" =>
      if (w % 2 == 0 && h % 2 == 0) Some((w / 2) * (h / 2)) else None
    case "422" => if (w % 2 == 0) Some((w / 2) * h) else None
    case "444" => Some(w * h)
    case _ => None
  }

  /** Parse a Y4M payload: validate the stream header, walk the FRAME
    * markers, record each frame's Y-plane offset. Returns None on
    * anything malformed (wrong magic, bad params, truncated frame).
    */
  private def parseY4m(payload: Array[Byte]): Option[Y4m] = {
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < payload.length && payload(i) != '\n') i += 1
      if (i < payload.length) i else -1
    }
    val hEnd = lineEnd(0)
    if (hEnd < 0) return None
    val header = new String(payload, 0, hEnd, java.nio.charset.StandardCharsets.US_ASCII)
    val tokens = header.split(' ')
    if (tokens.isEmpty || tokens(0) != "YUV4MPEG2") return None
    var w = -1; var h = -1; var fn = 25; var fd = 1; var cs = "420jpeg"
    val num = "([0-9]+)".r
    val fps = "([0-9]+):([0-9]+)".r
    tokens.iterator.drop(1).foreach { t =>
      if (t.nonEmpty) (t.charAt(0), t.substring(1)) match {
        case ('W', num(v)) => w = v.toInt
        case ('H', num(v)) => h = v.toInt
        case ('F', fps(n, d)) => fn = n.toInt; fd = d.toInt
        case ('C', v) => cs = v
        case _ => // I (interlace), A (aspect), X (extension): stats-irrelevant
      }
    }
    if (w <= 0 || h <= 0 || fd <= 0) return None
    // overflow guard: a corrupt header claiming huge dims must flag
    // undecodable, not wrap Int arithmetic (a negative frame size would
    // stall the frame walk below). Any real frame fits the payload
    // array, so payload.length is a safe ceiling.
    if (w.toLong * h > payload.length) return None
    chromaPlaneSize(cs, w, h).flatMap { chroma =>
      val ySize = w * h
      val offsets = Vector.newBuilder[Int]
      var pos = hEnd + 1
      var ok = true
      while (ok && pos < payload.length) {
        // each frame: "FRAME[ params]\n" then ySize + 2*chroma raw bytes
        val mEnd = lineEnd(pos)
        val marker = if (mEnd < 0) "" else
          new String(payload, pos, mEnd - pos, java.nio.charset.StandardCharsets.US_ASCII)
        if (mEnd < 0 || !(marker == "FRAME" || marker.startsWith("FRAME "))) ok = false
        else {
          val yStart = mEnd + 1
          if (yStart + ySize + 2 * chroma > payload.length) ok = false
          else { offsets += yStart; pos = yStart + ySize + 2 * chroma }
        }
      }
      if (ok) Some(Y4m(w, h, fn, fd, cs, ySize, chroma, offsets.result())) else None
    }
  }

  private def lumaMean(payload: Array[Byte], yOff: Int, ySize: Int): Double = {
    var sum = 0L; var i = yOff
    val end = yOff + ySize
    while (i < end) { sum += (payload(i) & 0xFF); i += 1 }
    if (ySize == 0) Double.NaN else sum.toDouble / ySize
  }

  /** Decode every payload through the Y4M parser and extract stream
    * properties + whole-stream Y-plane (luma) statistics — one pass per
    * partition, no shuffle, no driver collect, corrupt rows flagged not
    * thrown (same contract as [[imageMeta]] / [[audioMeta]]).
    */
  def videoMeta(media: Dataset[MediaRow]): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      parseY4m(r.payload) match {
        case Some(v) if v.yOffsets.nonEmpty =>
          var sum = 0.0; var mn = 255; var mx = 0
          v.yOffsets.foreach { off =>
            var i = off
            val end = off + v.ySize
            while (i < end) {
              val l = r.payload(i) & 0xFF
              sum += l; if (l < mn) mn = l; if (l > mx) mx = l
              i += 1
            }
          }
          val n = v.ySize.toLong * v.yOffsets.size
          VideoMeta(r.media_id, decoded = true, v.w, v.h, v.fpsNum, v.fpsDen,
            v.yOffsets.size, sum / n, mn, mx)
        case _ =>
          VideoMeta(r.media_id, decoded = false, -1, -1, -1, -1, -1,
            Double.NaN, -1, -1)
      }
    })
  }

  /** Frame extraction with real frame boundaries: decode the Y4M stream
    * and emit every `stride`-th frame's luma stats as its own row — the
    * flatMap (1 → N) shape of video-frame sampling, distributed per
    * partition. Undecodable payloads emit nothing (filter semantics;
    * use [[videoMeta]] to surface them).
    */
  def videoFrameMeta(media: Dataset[MediaRow], stride: Int = 1): Dataset[VideoFrameMeta] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      parseY4m(r.payload).iterator.flatMap { v =>
        Iterator.range(0, v.yOffsets.size, stride).map { k =>
          VideoFrameMeta(r.media_id, k, v.w, v.h,
            lumaMean(r.payload, v.yOffsets(k), v.ySize))
        }
      }
    }
  }

  case class VideoFrameHash(media_id: Long, frame_idx: Int, width: Int,
                            height: Int, frame_hash: Long)

  /** Content-address every decoded frame: FNV-1a-64 over the frame's Y
    * plane with the dimensions folded in, so two frames hash equal iff
    * their luma content AND geometry agree (64-bit: cross-frame
    * collisions are negligible at corpus scale, the [[graft.operators.Dedup]]
    * convention). This is the multimodal half of frame-level dedup —
    * the hashes join/aggregate downstream as 8-byte keys; pixel data
    * never shuffles. Same partition-wise, no-collect contract as
    * [[videoFrameMeta]]; undecodable payloads emit nothing.
    */
  def videoFrameHashes(media: Dataset[MediaRow], stride: Int = 1): Dataset[VideoFrameHash] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      parseY4m(r.payload).iterator.flatMap { v =>
        Iterator.range(0, v.yOffsets.size, stride).map { k =>
          VideoFrameHash(r.media_id, k, v.w, v.h,
            fnvFrameHash(r.payload, v.w, v.h, v.yOffsets(k), v.ySize))
        }
      }
    }
  }

  /** FNV-1a over (dims, Y-plane bytes) — the per-frame content hash
    * shared by [[videoFrameHashes]] and [[videoSequenceHash]] so the
    * two can never disagree about frame identity.
    */
  private def fnvFrameHash(payload: Array[Byte], w: Int, h0: Int,
                           off: Int, ySize: Int): Long = {
    var h = 0xcbf29ce484222325L                 // FNV-1a offset basis
    def mix(b: Int): Unit = { h ^= (b & 0xFF); h *= 0x100000001b3L }
    mix(w); mix(w >> 8); mix(h0); mix(h0 >> 8)
    var i = off
    val end = off + ySize
    while (i < end) { mix(payload(i)); i += 1 }
    h
  }

  /** Per-clip 64-bit content fingerprint. */
  case class VideoHash(media_id: Long, decoded: Boolean, vhash: Long)

  /** Clip-level video content hash: FNV-1a folded over the ORDERED
    * per-frame content hashes ([[fnvFrameHash]] — dims + Y plane), so
    * two clips collide iff their DECODED frame sequences are equal.
    * This is the duplicate class exact payload hashing misses for
    * video: re-muxed copies — same frames behind different container
    * metadata (framerate tag, header spelling) — collide, while any
    * frame edit, reorder, insertion, or resize separates. Unparseable
    * payloads flag `decoded = false`. Pixels never leave the decode
    * partition; downstream pairing is the hamming-0 class path of
    * [[hammingNearDupClasses]] (identical hashes collapse, no band
    * blowup), which [[mediaDedupPipeline]] wires in for `video` rows.
    */
  def videoSequenceHash(media: Dataset[MediaRow]): Dataset[VideoHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val (dec, hash) = vseqHashCore(r.payload)
      VideoHash(r.media_id, dec, hash)
    })
  }

  /** The [[videoSequenceHash]] kernel on one payload — shared with
    * [[mediaDedupPipeline]]'s single-pass hasher. Returns
    * `(decoded, hash)`.
    */
  private def vseqHashCore(payload: Array[Byte]): (Boolean, Long) =
    parseY4m(payload) match {
      case Some(v) =>
        var h = 0xcbf29ce484222325L
        def mix(b: Int): Unit = { h ^= (b & 0xFF); h *= 0x100000001b3L }
        v.yOffsets.foreach { off =>
          val fh = fnvFrameHash(payload, v.w, v.h, off, v.ySize)
          var s = 0
          while (s < 64) { mix((fh >>> s).toInt); s += 8 }
        }
        (true, h)
      case None => (false, 0L)
    }

  case class VideoFrameDHash(media_id: Long, frame_idx: Int, dhash: Long)

  /** Per-frame PERCEPTUAL hash — the near-dup complement of
    * [[videoFrameHashes]]' exact content address: each decoded frame
    * reduces to a 9-wide × 8-high luma grid (nearest sampling,
    * `px = ⌊cx·w/9⌋`, `py = ⌊cy·h/8⌋` — O(72) pixel reads per frame)
    * and hashes to [[imageDHash]]'s difference bits (bit `y·8+x` set
    * when `grid(x+1, y) > grid(x, y)`). A re-encoded frame — same
    * content, per-pixel luma jitter below the local gradient magnitude
    * — keeps its grid gradients and lands within small Hamming
    * distance of the original, the class the exact FNV hash separates
    * on the first changed byte. Pixels never leave the partition; only
    * `(id, frame_idx, 8-byte hash)` rows shuffle downstream.
    * Undecodable payloads emit nothing ([[videoFrameMeta]] contract).
    */
  def videoFrameDHash(media: Dataset[MediaRow], stride: Int = 1): Dataset[VideoFrameDHash] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      frameDHashes(r, stride).map { case (k, hash) =>
        VideoFrameDHash(r.media_id, k, hash)
      }
    }
  }

  /** `(frame_idx, dhash)` for every `stride`-th decodable frame — the
    * shared kernel behind [[videoFrameDHash]] and
    * [[videoFrameDHashRuns]], so the per-frame and run-collapsed faces
    * can never disagree about a hash bit. */
  private def frameDHashes(r: MediaRow, stride: Int): Iterator[(Int, Long)] =
    parseY4m(r.payload).iterator.flatMap { v =>
      Iterator.range(0, v.yOffsets.size, stride).map { k =>
        val off = v.yOffsets(k)
        var hash = 0L
        var cy = 0
        while (cy < 8) {
          val py = cy * v.h / 8
          var cx = 0
          var prev = 0
          while (cx < 9) {
            val px = cx * v.w / 9
            val l = r.payload(off + py * v.w + px) & 0xFF
            if (cx > 0 && l > prev) hash |= 1L << (cy * 8 + (cx - 1))
            prev = l
            cx += 1
          }
          cy += 1
        }
        (k, hash)
      }
    }

  case class VideoFrameRun(media_id: Long, dhash: Long, start_idx: Int, run_len: Int)

  /** [[videoFrameDHash]] run-length collapsed: maximal runs of
    * CONSECUTIVE emitted frames carrying the same hash become one
    * `(media_id, dhash, start_idx, run_len)` row. A static scene — a
    * title card, a freeze frame, a black lead-in — is one row instead
    * of `m`, so any downstream pairing joins runs (and pays run-pair
    * cardinality) rather than m × m frame pairs. Collapsing happens in
    * the decode partition, row-locally per clip; the emitted frame
    * indices step by `stride`, so a run covers frames
    * `start_idx, start_idx + stride, …` — consumers recover exact
    * frame offsets from `(start, len, stride)` arithmetic. */
  def videoFrameDHashRuns(media: Dataset[MediaRow],
                          stride: Int = 1): Dataset[VideoFrameRun] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val out = scala.collection.mutable.ArrayBuffer.empty[VideoFrameRun]
      var runStart = -1; var runHash = 0L; var runLen = 0
      frameDHashes(r, stride).foreach { case (k, hash) =>
        if (runLen > 0 && hash == runHash) runLen += 1
        else {
          if (runLen > 0) out += VideoFrameRun(r.media_id, runHash, runStart, runLen)
          runStart = k; runHash = hash; runLen = 1
        }
      }
      if (runLen > 0) out += VideoFrameRun(r.media_id, runHash, runStart, runLen)
      out
    }
  }

  /** Frame-level video NEAR-dup: recover re-encoded clip pairs — same
    * content, per-frame luma jitter — that [[videoSequenceHash]]'s
    * exact sequence fingerprint (re-muxed copies only) cannot see.
    * Three metadata-scale stages over [[videoFrameDHash]] rows:
    *
    *  1. FRAME MATCHING: distinct frame hashes band-join within
    *     `maxHamming` ([[hammingNearDupClasses]]' lossless four-band
    *     pigeonhole), identical hashes collapse first, and hashes
    *     carried by more than `maxHashFrames` frames are dropped
    *     BEFORE any expansion — the black-frame/test-card stop-frame
    *     guard: a ubiquitous frame is evidence of nothing (shared by
    *     everything, it cannot separate a re-encode from a stranger),
    *     and would otherwise pair every clip with every clip. The
    *     default (1000) is deliberately tight: evidence from a frame
    *     hash carried by more frames than that is worthless anyway,
    *     and the cap bounds the join's per-hash expansion at lake
    *     scale.
    *  2. TEMPORAL EVIDENCE: frames travel RUN-LENGTH COLLAPSED
    *     ([[videoFrameDHashRuns]] — a static scene is one `(hash,
    *     start, len)` row, not `m` frames), matched runs join, and
    *     each run pair contributes its boxcar overlap to every offset
    *     it spans: `la + lb − 1` `(offset, count)` rows instead of
    *     `la × lb` frame pairs, summed per `(a_id, b_id,
    *     offset = b_idx − a_idx)`. Bit-identical to the all-frame-pair
    *     count — a true re-encode aligns at ONE offset, so scattered
    *     coincidental matches cannot accumulate into a clip claim.
    *  3. CLIP VERDICT: each pair keeps its best offset (most matched
    *     frames, smallest offset on ties — a total order) and reports
    *     `coverage = n_matched / min(frames_a, frames_b)`, cut at
    *     `minCoverage`.
    *
    * Returns `(a_id, b_id, offset, n_matched, coverage_r)` with
    * `a_id < b_id`.
    *
    * '''Compatibility note (round 14)''': `maxHashFrames` defaulted to
    * 100 000 through round 13 and now defaults to 1 000. The old
    * ceiling only dropped hashes that were ALREADY evidence-free at
    * corpus scale; the new one actually engages for mid-frequency
    * boilerplate frames (title cards, channel idents) shared by many
    * clips — exactly the fan-out the guard exists to bound. Callers
    * that relied on the looser ceiling must now pass
    * `maxHashFrames = 100000L` explicitly; a hash dropped by the guard
    * removes ALL its evidence rows, so results for pairs whose only
    * shared content is such a frame change from (weak) matches to
    * nothing.
    *
    * 100 TB shape: every stage joins/aggregates 8-byte
    * hashes and run ordinals — pixels never shuffle; the band join
    * sees DISTINCT guarded hashes only; the evidence join's expansion
    * is run pairs × their offset span, with static scenes collapsed
    * BEFORE the join (a 100-frame frozen scene shared by two clips is
    * 1 × 1 runs → 199 offset rows, not 10⁴ frame pairs) and the
    * stop-frame guard bounding the per-hash fan-out.
    */
  def videoNearDupClips(media: Dataset[MediaRow], maxHamming: Int = 3,
                        minCoverage: Double = 0.6,
                        maxHashFrames: Long = 1000L,
                        stride: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"banding is lossless only for maxHamming <= 3, got $maxHamming")
    require(minCoverage > 0.0 && minCoverage <= 1.0,
      s"minCoverage must be in (0, 1], got $minCoverage")
    val runs = videoFrameDHashRuns(media, stride).toDF()
    val lens = runs.groupBy(col("media_id")).agg(sum(col("run_len")).as("__nf"))
    val hs = runs.groupBy(col("dhash")).agg(sum(col("run_len")).as("__cnt"))
      .filter(col("__cnt") <= maxHashFrames)
      .select(col("dhash"))
    val guarded = runs.join(hs, "dhash")
    // symmetric near-hash pairs: every distinct hash matches itself,
    // plus both directions of each banded pair within maxHamming
    val banded = hs.select(col("dhash"), bandStructs(col("dhash")).as("band"))
      .select(col("dhash"), col("band.b").as("__b"), col("band.v").as("__v"))
    val b2 = banded.select(col("dhash").as("__h2"), col("__b").as("__b2"),
      col("__v").as("__v2"))
    val near = banded
      .join(b2, col("__b") === col("__b2") && col("__v") === col("__v2") &&
        col("dhash") =!= col("__h2"))
      .select(col("dhash").as("__ha"), col("__h2").as("__hb"))
      .distinct()
      .filter(expr("bit_count(__ha ^ __hb)") <= maxHamming)
    val pairsH = hs.select(col("dhash").as("__ha"), col("dhash").as("__hb"))
      .unionByName(near)
    val am = guarded.select(col("media_id").as("a_id"), col("start_idx").as("__sa"),
      col("run_len").as("__la"), col("dhash").as("__ha"))
    val bm = guarded.select(col("media_id").as("b_id"), col("start_idx").as("__sb"),
      col("run_len").as("__lb"), col("dhash").as("__hb"))
    // each matched run pair is the boxcar cross-correlation of its two
    // runs: relative shift t ∈ [1 − la, lb − 1] holds exactly
    // min(la, lb − t) − max(0, −t) aligned frame pairs, all at frame
    // offset (sb − sa) + stride·t — la + lb − 1 rows replace la × lb
    val evidence = am.join(pairsH, "__ha").join(bm, "__hb")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("__sa"), col("__la"),
        col("__sb"), col("__lb"),
        explode(sequence(lit(1) - col("__la"), col("__lb") - 1)).as("__t"))
      .groupBy(col("a_id"), col("b_id"),
        (col("__sb") - col("__sa") + lit(stride) * col("__t")).as("offset"))
      .agg(sum((least(col("__la"), col("__lb") - col("__t")) -
        greatest(lit(0), -col("__t"))).cast("long")).as("n_matched"))
    val best = evidence
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(struct(col("n_matched"), negate(col("offset")).as("__no"),
        col("offset"))).as("__best"))
      .select(col("a_id"), col("b_id"), col("__best.offset").as("offset"),
        col("__best.n_matched").as("n_matched"))
    best
      .join(lens.select(col("media_id").as("a_id"), col("__nf").as("__na")), "a_id")
      .join(lens.select(col("media_id").as("b_id"), col("__nf").as("__nb")), "b_id")
      .withColumn("coverage_r", graft.functions.NumFunctions.roundNz(
        col("n_matched").cast("double") / least(col("__na"), col("__nb")), 6))
      .filter(col("coverage_r") >= minCoverage)
      .select(col("a_id"), col("b_id"), col("offset"), col("n_matched"),
        col("coverage_r"))
  }

  // ---- FEATURE KERNEL (real, codec-backed 64-bin content histogram) ----

  /** Real 64-bin content histogram, decoded per modality through the
    * same real codecs as the metadata kernels — the classic
    * pre-learned-embedding content feature (color/intensity histograms
    * are the standard retrieval baseline; Swain & Ballard '91):
    *   - image (PNG/JPEG/BMP/GIF): per-pixel BT.601 luma, 4-wide bins;
    *   - video (Y4M): every frame's Y-plane bytes, 4-wide bins;
    *   - audio (WAV/PCM 8/16-bit): per-sample amplitude recentered to
    *     unsigned, 1024-wide (16-bit) / 4-wide (8-bit) bins;
    *   - anything else: raw payload byte distribution, 4-wide bins —
    *     a real content fingerprint for opaque blobs, not a stub.
    * Normalized to sum 1 (an all-zero vector for an empty payload), so
    * the histogram is scale-invariant and cosine-comparable. A learned
    * embedding would need an ML model this container cannot resolve;
    * every branch here is a deterministic, arithmetically-checkable
    * public feature.
    */
  private def feature64(payload: Array[Byte]): Array[Float] = {
    val counts = new Array[Long](64)
    var total = 0L
    def add(bin: Int): Unit = {
      counts(if (bin < 0) 0 else if (bin > 63) 63 else bin) += 1
      total += 1
    }
    decodeImage(payload) match {
      case Some(img) =>
        val w = img.getWidth; val h = img.getHeight
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val l = 0.299 * ((rgb >> 16) & 0xFF) +
              0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
            add(math.round(l).toInt >> 2)
            x += 1
          }
          y += 1
        }
      case None => parseY4m(payload) match {
        case Some(v) =>
          v.yOffsets.foreach { yOff =>
            var i = yOff
            val end = yOff + v.ySize
            while (i < end) { add((payload(i) & 0xFF) >> 2); i += 1 }
          }
        case None => decodeAudio(payload) match {
          case Some((fmt, data))
              if (fmt.getSampleSizeInBits == 8 || fmt.getSampleSizeInBits == 16) &&
                fmt.getChannels >= 1 =>
            val bits = fmt.getSampleSizeInBits
            val ch = fmt.getChannels
            val bytesPer = bits / 8
            val n = data.length / (bytesPer * ch) * ch // whole frames only
            var i = 0
            while (i < n) {
              if (bits == 8) add((data(i) & 0xFF) >> 2) // unsigned by WAV convention
              else {
                val off = i * 2
                val b0 = data(off) & 0xFF; val b1 = data(off + 1) & 0xFF
                val raw = if (fmt.isBigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
                val unsigned = if (fmt.getEncoding ==
                  javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED) raw
                else raw.toShort.toInt + 32768
                add(unsigned >> 10)
              }
              i += 1
            }
          case _ =>
            var i = 0
            while (i < payload.length) { add((payload(i) & 0xFF) >> 2); i += 1 }
        }
      }
    }
    val f = new Array[Float](64)
    if (total > 0) {
      var b = 0
      while (b < 64) { f(b) = (counts(b).toDouble / total).toFloat; b += 1 }
    }
    f
  }

  // -----------------------------------------------------------------------

  /** Feature extraction as a partition-wise batch kernel: each task
    * processes its partition's rows in one pass (the batch shape a real
    * codec needs for model/codec reuse), no shuffle, no driver collect.
    * The feature is [[feature64]]'s real codec-backed 64-bin content
    * histogram.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition setup (a heavier codec/model would init once here)
      rows.map { r =>
        var crc = 0L
        var i = 0
        while (i < r.payload.length) { crc = crc * 31 + (r.payload(i) & 0xFF); i += 1 }
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, crc,
          feature64(r.payload))
      }
    }
  }
}
