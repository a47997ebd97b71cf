package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NumFunctions
import graft.multimodal.Multimodal
import graft.operators.Similarity

/** Registry family: embeddings (exact and approximate nearest neighbours,
  * IVF/PQ, PCA, selection, clustering) and the image, audio and video
  * codecs with their perceptual near-dup hashes.
  */
private[graft] object MediaQueries extends Family {

  /** Q14 — north-star similarity: exact top-10 cosine neighbors of
    * vec_id=0 via the custom [[graft.functions.CosineSimilarity]]
    * expression.
    */
  def q14(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.topKCosine(e, e.filter(col("vec_id") === 0), "vec_id", "embedding", 10)
  }
  query("q14_cosine_topk", q14,
      ("""WITH p AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT e.vec_id,
         |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])) AS sim
         |  FROM embeddings e, p WHERE e.vec_id <> 0)
         |SELECT CAST(0 AS BIGINT) AS probe_id, vec_id,
         |  CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rk,
         |  round(sim, 4) + 0 AS sim_r
         |FROM scored QUALIFY rk <= 10
         |""".stripMargin))

  /** Q23 — banded cosine near-duplicate scan over embeddings. */
  def q23(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupBanded(emb(s, d), "vec_id", "embedding",
      window = 100, minSim = 0.3)
  query("q23_cosine_neardup", q23,
      ("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                               CAST(b.embedding AS DOUBLE[])), 4) + 0 AS sim_r
         |FROM embeddings a JOIN embeddings b
         |  ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 100
         |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
         |""".stripMargin))

  /** Q25 — multimodal column plumbing: binary payload metadata (byte
    * length, chunk count, checksum) of documents-as-blobs.
    */
  def q25(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      ceil(octet_length(col("text")).cast("double") / 256.0d).cast("long").as("n_chunks"),
      md5(col("text")).as("fp"))
  query("q25_binary_meta", q25,
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
       "CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / CAST(256 AS DOUBLE)) AS BIGINT) " +
       "AS n_chunks, md5(text) AS fp FROM documents"))

  /** Q26 — ANN top-k via random-hyperplane LSH in PORTABLE-plane mode
    * ([[graft.operators.Similarity.annTopKCosine]] with Rademacher ±1
    * planes drawn from MD5 low bits): identical bucketing, candidate
    * join, and exact cosine re-rank as the production Gaussian mode
    * (whose recall SimilaritySpec pins), but every plane entry replays
    * in DuckDB — so the oracle rebuilds all 8 tables' 8-bit signatures
    * with `list_dot_product` against the same ±1 lists, joins buckets,
    * and re-ranks candidates with the same rounded cosine. A plane-gen
    * bug, a bucket-join bug, or a re-rank ordering divergence all
    * hash-fail. The approximation is thus oracle-CHECKED, not merely
    * recall-pinned: both engines agree on the exact candidate set.
    */
  def q26(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // 8-bit signatures: the fixture embeddings are near-uniform (no real
    // clusters), so shorter signatures keep candidate sets non-degenerate.
    Similarity.annTopKCosine(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
      bits = 8, tables = 8, portablePlanes = true)
  }
  // q26: the portable ±1 planes replay directly — DuckDB rebuilds
  // every (table, bit) plane from the same MD5 low bit, packs the 8
  // sign bits per table with the same sequential dot product
  // (list_dot_product over the ordered ±1 list ≡ the expression's
  // accumulation loop), joins buckets, and re-ranks the IDENTICAL
  // candidate set with the rounded exact cosine.
  query("q26_ann_topk", q26,
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |dims AS (SELECT unnest(range(len(e0.embedding))) AS i
         |  FROM (SELECT embedding FROM embeddings LIMIT 1) e0),
         |pl AS MATERIALIZED (SELECT t.range AS t, b.range AS b,
         |    list(CASE WHEN CAST('0x' || substr(md5(
         |          (42 + t.range) || ':' || b.range || ':' || dims.i),
         |        16, 1) AS INT) & 1 = 1
         |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
         |      ORDER BY dims.i) AS p
         |  FROM range(8) t, range(8) b, dims
         |  GROUP BY 1, 2),
         |sg AS MATERIALIZED (SELECT e.vec_id, pl.t,
         |    sum(CASE WHEN list_dot_product(e.v, pl.p) >= 0
         |        THEN 1 << pl.b ELSE 0 END) AS sig
         |  FROM e, pl GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id
         |  FROM sg p JOIN sg c ON p.t = c.t AND p.sig = c.sig
         |  WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id),
         |sc AS (SELECT cand.probe_id, cand.vec_id,
         |    list_cosine_similarity(ce.v, pe.v) AS sim
         |  FROM cand JOIN e pe ON pe.vec_id = cand.probe_id
         |  JOIN e ce ON ce.vec_id = cand.vec_id)
         |SELECT probe_id, vec_id,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY sim DESC, vec_id) AS BIGINT) AS rk,
         |  round(sim, 4) + 0 AS sim_r
         |FROM sc QUALIFY rk <= 10
         |""".stripMargin))

  /** Q31 — IVF ANN ([[graft.operators.IvfIndex.annTopK]]): the
    * k-means-trained coarse quantizer, probes routed to their `nProbe`
    * best cells, exact cosine re-rank inside the probed cells. EXACT
    * oracle since the trainer went replay-stable (the q97 decimal-mean
    * Lloyd loop): [[q31OracleSql]] unrolls the two fit iterations,
    * replays the cell routing (cosine to each centroid, smallest cell
    * on ties) and the candidate re-rank — the index's approximation
    * vs TRUE top-k stays a recall-vs-exact property (spec-pinned),
    * but the COMPUTATION itself is oracle-checked bit for bit.
    */
  def q31(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // cacheKey = the corpus dir: the index is fit ONCE per corpus and
    // reused across calls (the build-once / probe-many lifecycle);
    // without it every query call would re-run the Lloyd iterations
    graft.operators.IvfIndex.annTopK(e, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10, nlist = 8, nProbe = 3, iters = 2,
      cacheKey = Some(d))
  }
  query("q31_ivf_ann", q31, q31OracleSql)

  /** Q39 — the REAL image codec, oracle-checked end-to-end: render a
    * deterministic solid-gray PNG per document (dims and gray level
    * derived from the text's byte length), decode it back through the
    * JDK codec ([[graft.multimodal.Multimodal.imageMeta]]), and surface
    * the DECODED dimensions + mean luma. The oracle computes the same
    * values arithmetically from `octet_length(text)`, so a hash match
    * proves the whole encode → PNG bytes → decode → pixel-stats path
    * (luma of gray g is exactly g). Per-partition batch kernels, no
    * shuffle, no UDF registry.
    */
  def q39(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .map { case (id, n) =>
        Multimodal.MediaRow(id, "image",
          Multimodal.renderSolidPng(n % 13 + 3, n % 7 + 2, n % 256),
          n % 13 + 3, n % 7 + 2, 0)
      }
    Multimodal.imageMeta(media).select(
      col("media_id").as("doc_id"),
      col("width").cast("long").as("width"),
      col("height").cast("long").as("height"),
      NumFunctions.roundNz(col("mean_luma"), 6).as("mean_luma"))
  }
  // q39: the oracle never decodes a PNG — it derives the expected
  // decoded dims/luma arithmetically from the same byte length the
  // engine renders from; matching hashes prove the codec round-trip
  query("q39_image_decode", q39,
      ("SELECT doc_id, CAST(octet_length(encode(text)) % 13 + 3 AS BIGINT) AS width, " +
       "CAST(octet_length(encode(text)) % 7 + 2 AS BIGINT) AS height, " +
       "round(CAST(octet_length(encode(text)) % 256 AS DOUBLE), 6) + 0 AS mean_luma " +
       "FROM documents WHERE text IS NOT NULL"))

  /** Q43 — the REAL audio codec, oracle-checked end-to-end: render a
    * deterministic 16-bit PCM WAV per document (frame count / sample
    * rate / amplitude derived from the text's byte length), decode it
    * back through the JDK codec
    * ([[graft.multimodal.Multimodal.audioMeta]]), and surface the
    * DECODED sample rate, frame count and RMS amplitude. The oracle
    * computes the same values arithmetically from `octet_length(text)`
    * (the RMS of a ±A square wave is exactly A), so a hash match proves
    * the whole encode → WAV bytes → decode → sample-stats path.
    * Per-partition batch kernels, no shuffle, no UDF registry.
    */
  def q43(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread: javax.sound's provider registry serializes concurrent
    // decode/render calls (synchronized static lookup per call), so a
    // parallel audio stage runs ~3x SLOWER than one task (round 19,
    // measured) — image/video kernels spread, audio stays narrow
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .as[(Long, Int)]
      .map { case (id, n) =>
        val rate = 8000 + (n % 5) * 1000
        Multimodal.MediaRow(id, "audio",
          Multimodal.renderPcmWav(n % 50 + 10, rate, (n % 100 + 1) * 100),
          0, 0, rate)
      }
    Multimodal.audioMeta(media).select(
      col("media_id").as("doc_id"),
      col("sample_rate").cast("long").as("sample_rate"),
      col("n_samples").as("n_samples"),
      NumFunctions.roundNz(col("rms"), 6).as("rms"))
  }
  // q43: the oracle never decodes a WAV — it derives the expected
  // decoded rate/frames/RMS arithmetically from the same byte length
  // the engine renders from (the RMS of a ±A square wave is exactly A)
  query("q43_audio_decode", q43,
      ("SELECT doc_id, " +
       "CAST(8000 + (octet_length(encode(text)) % 5) * 1000 AS BIGINT) AS sample_rate, " +
       "CAST(octet_length(encode(text)) % 50 + 10 AS BIGINT) AS n_samples, " +
       "round(CAST((octet_length(encode(text)) % 100 + 1) * 100 AS DOUBLE), 6) + 0 AS rms " +
       "FROM documents WHERE text IS NOT NULL"))

  /** Q44 — the REAL video codec, oracle-checked end-to-end: render a
    * deterministic YUV4MPEG2 stream per document (dims / frame count /
    * per-frame constant luma derived from the text's byte length),
    * decode it back through the hand-rolled Y4M parser, extract every
    * frame ([[graft.multimodal.Multimodal.videoFrameMeta]] — real FRAME
    * boundaries, not byte strides), and surface the DECODED per-frame
    * dimensions + mean luma. The oracle computes the same values
    * arithmetically from `octet_length(text)` (the mean luma of a
    * constant plane is exactly its value), so a hash match proves the
    * whole encode → Y4M bytes → parse → frame-split → pixel-stats path.
    * Per-partition flatMap kernel, no shuffle, no UDF registry.
    */
  def q44(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .map { case (id, n) =>
        val lumas = Array.tabulate(n % 6 + 1)(k => (n + k * 7) % 256)
        Multimodal.MediaRow(id, "video",
          Multimodal.renderY4m(n % 11 + 2, n % 9 + 2, lumas),
          n % 11 + 2, n % 9 + 2, 0)
      }
    Multimodal.videoFrameMeta(media).select(
      col("media_id").as("doc_id"),
      col("frame_idx").cast("long").as("frame_idx"),
      col("width").cast("long").as("width"),
      col("height").cast("long").as("height"),
      NumFunctions.roundNz(col("mean_luma"), 6).as("luma"))
  }
  // q44: the oracle never parses Y4M — it derives each frame's
  // dimensions and constant-plane luma arithmetically from the same
  // byte length the engine renders from (one output row per frame)
  query("q44_video_decode", q44,
      ("WITH f AS (SELECT doc_id, octet_length(encode(text)) AS n, " +
       "unnest(generate_series(0, octet_length(encode(text)) % 6)) AS g FROM documents WHERE text IS NOT NULL) " +
       "SELECT doc_id, CAST(g AS BIGINT) AS frame_idx, " +
       "CAST(n % 11 + 2 AS BIGINT) AS width, CAST(n % 9 + 2 AS BIGINT) AS height, " +
       "round(CAST((n + g * 7) % 256 AS DOUBLE), 6) + 0 AS luma FROM f"))

  /** Q89 — per-label embedding centroids
    * ([[graft.operators.Similarity.labelCentroids]]): the class-mean
    * vectors in long form — the prototype/SemDeDup building block.
    * Map-side ×d explode collapses to centroid-sized rows in the
    * partial aggregate; dimension sums are decimal-exact. Oracle: the
    * same zip-unnest + decimal mean in DuckDB.
    */
  def q89(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.labelCentroids(
      Tables.embeddings(s, d), "label", "embedding")
  query("q89_label_centroids", q89,
      ("""WITH x AS (SELECT label,
         |  unnest(range(len(embedding))) AS pos,
         |  CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS x
         |  FROM embeddings)
         |SELECT label, CAST(pos AS INT) AS pos,
         |  round(CAST(sum(x) AS DOUBLE) / count(*), 6) + 0 AS c, count(*) AS n
         |FROM x GROUP BY 1, 2
         |""".stripMargin))

  /** Q90 — intra-class centroid cohesion
    * ([[graft.operators.Similarity.centroidSpread]]): mean cosine of
    * each vector to its own label's centroid — the SemDeDup scoring
    * pass and the first embedding-quality diagnostic. Centroids
    * broadcast back; one corpus shuffle. Oracle: `list(c ORDER BY pos)`
    * + `list_cosine_similarity` in DuckDB.
    */
  def q90(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.centroidSpread(
      Tables.embeddings(s, d), "label", "embedding")
  query("q90_centroid_spread", q90,
      ("""WITH x AS (SELECT label,
         |  unnest(range(len(embedding))) AS pos,
         |  CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS x
         |  FROM embeddings),
         |cd AS (SELECT label, pos,
         |  round(CAST(sum(x) AS DOUBLE) / count(*), 6) + 0 AS c
         |  FROM x GROUP BY 1, 2),
         |cv AS (SELECT label, list(c ORDER BY pos) AS cvec FROM cd GROUP BY 1),
         |s AS (SELECT e.label,
         |  CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cv.cvec), 4)
         |       AS DECIMAL(18,9)) AS sim
         |  FROM embeddings e JOIN cv USING (label))
         |SELECT label, round(CAST(sum(sim) AS DOUBLE) / count(*), 6) + 0 AS avg_sim,
         |  count(*) AS n
         |FROM s GROUP BY 1
         |""".stripMargin))

  /** Q92 — int8 scalar quantization of the embedding corpus
    * ([[graft.operators.Quantize.scalarQuantize]]): per-dimension
    * min/max train (one d-row shuffle), then codes as a pure map-side
    * projection against the broadcast stats. Codes are integers, so the
    * oracle match is bit-exact, no rounding tolerance.
    */
  def q92(s: SparkSession, d: String): DataFrame =
    graft.operators.Quantize.scalarQuantize(emb(s, d), "vec_id", "embedding")
      .select(col("id").as("vec_id"), col("pos"), col("code"))
  query("q92_quantize_int8", q92,
      ("""WITH e AS (
         |  SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         |    unnest(embedding) AS v
         |  FROM embeddings),
         |st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1)
         |SELECT e.vec_id, e.pos,
         |  CASE WHEN st.mx = st.mn THEN 0
         |       ELSE LEAST(CAST(floor(
         |         (CAST(e.v AS DOUBLE) - CAST(st.mn AS DOUBLE)) * 255.0
         |           / (CAST(st.mx AS DOUBLE) - CAST(st.mn AS DOUBLE)))
         |         AS BIGINT), 255) END AS code
         |FROM e JOIN st USING (pos)
         |""".stripMargin))

  /** Q94 — product-quantized ANN with exact re-rank
    * ([[graft.operators.Quantize]]; Jégou et al., TPAMI 2011): the
    * third ANN scale path next to hyperplane LSH (q26) and IVF (q31).
    * Codebooks train on the L2-NORMALIZED corpus (so ADC's inner
    * product approximates cosine) and are cached per corpus dir — the
    * build-once / probe-many lifecycle. Approximate by nature: recall
    * pinned by spec (QuantizeSpec), not a SQL oracle.
    */
  def q94(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val norm = e.select(col("vec_id").as("id"),
      graft.functions.VectorFunctions.l2Normalize(col("embedding")).as("nvec"))
    val books = graft.operators.Quantize.fitPqCached(d, norm, "id", "nvec",
      m = 8, ksub = 16, iters = 5)
    graft.operators.Quantize.pqTopKRefined(e, e.filter(col("vec_id") < 5),
      "vec_id", "embedding", books, k = 10, shortlist = 100)
  }
  query("q94_pq_ann", q94, q94OracleSql)

  /** Q95 — embedding covariance matrix ([[graft.operators.Pca]]): the
    * d × d second-moment pass as ONE typed-aggregator job — each
    * partition ships a single `1 + d + d(d+1)/2` double buffer, never
    * exploded rows. Oracle = the corpus × d² self-join DuckDB can
    * afford at sf and the engine never runs. Rounded to 6 decimals
    * (cross-engine summation-order ulps).
    */
  def q95(s: SparkSession, d: String): DataFrame =
    graft.operators.Pca.covariance(emb(s, d), "embedding", d = 64, scale = 6)
  query("q95_embed_covariance", q95,
      ("""WITH e AS (
         |  SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings)
         |SELECT a.pos AS i, b.pos AS j, round(covar_pop(a.v, b.v), 6) + 0 AS cov
         |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos <= b.pos
         |GROUP BY 1, 2
         |""".stripMargin))

  /** Q96 — spectral projection by fixed-point power iteration
    * ([[graft.operators.Pca.powerProject]]): top-2 directions from 4
    * exact-integer power steps over the 6-decimal-quantized covariance
    * (L∞ normalization, truncating division, integer rank-1
    * deflation — the q133/q148 fixed-point recipe applied to linear
    * algebra), projections as map-side integer folds. Every step
    * replays bit-for-bit in DuckDB HUGEINT CTEs — the full oracle the
    * Jacobi path (spec-pinned in PcaSpec, and still the `Pca.fit`
    * surface) cannot have. Alignment with the true eigenbasis is
    * PcaSpec-pinned on a planted-spectrum corpus.
    */
  def q96(s: SparkSession, d: String): DataFrame =
    graft.operators.Pca.powerProject(emb(s, d), "vec_id", "embedding",
      d = 64, iters = 4)
  // q96: the full fixed-point power-iteration replay in HUGEINT —
  // quantized covariance grid, diagonal-argmax start, 4 steps of
  // w = C·v then v = (w·1e6) // max|w| (// truncates toward zero,
  // matching BigInt / and Spark div), sign pin at the largest-|x|
  // coordinate, integer rank-1 deflation, per-row integer folds.
  query("q96_pca_project", q96, {
      def step(m: String, prev: String, k: String): String =
        s"""w$k AS MATERIALIZED (SELECT mm.i, sum(mm.c * p.x) AS w
           |  FROM $m mm JOIN $prev p ON mm.j = p.i GROUP BY 1),
           |a$k AS MATERIALIZED (SELECT i, (w * 1000000) // (SELECT max(abs(w)) FROM w$k) AS x
           |  FROM w$k)""".stripMargin
      def pin(last: String, out: String): String =
        s"""$out AS MATERIALIZED (SELECT a.i, a.x * (CASE WHEN (SELECT x FROM $last
           |  ORDER BY abs(x) DESC, i LIMIT 1) < 0 THEN -1 ELSE 1 END) AS x
           |  FROM $last a)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings),
         |cov AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j,
         |  CAST(floor(round(covar_pop(a.v, b.v), 6) * 1000000 + 0.5) AS HUGEINT) AS c
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |a0 AS MATERIALIZED (SELECT i, CASE WHEN i = (SELECT i FROM cov WHERE i = j
         |    ORDER BY c DESC, i LIMIT 1)
         |  THEN CAST(1000000 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS x
         |  FROM (SELECT DISTINCT i FROM cov) dims),
         |${step("cov", "a0", "1")},
         |${step("cov", "a1", "2")},
         |${step("cov", "a2", "3")},
         |${step("cov", "a3", "4")},
         |${pin("a4", "p1")},
         |nd AS MATERIALIZED (SELECT
         |  (SELECT sum(pa.x * c.c * pb.x) FROM cov c
         |    JOIN p1 pa ON c.i = pa.i JOIN p1 pb ON c.j = pb.i) AS num,
         |  (SELECT sum(x * x) FROM p1) AS den),
         |cov2 AS MATERIALIZED (SELECT c.i, c.j,
         |  (c.c * nd.den * nd.den - nd.num * pa.x * pb.x) // (nd.den * nd.den) AS c
         |  FROM cov c CROSS JOIN nd
         |  JOIN p1 pa ON c.i = pa.i JOIN p1 pb ON c.j = pb.i),
         |b0 AS MATERIALIZED (SELECT i, CASE WHEN i = (SELECT i FROM cov2 WHERE i = j
         |    ORDER BY c DESC, i LIMIT 1)
         |  THEN CAST(1000000 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS x
         |  FROM (SELECT DISTINCT i FROM cov2) dims),
         |${step("cov2", "b0", "5")},
         |${step("cov2", "a5", "6")},
         |${step("cov2", "a6", "7")},
         |${step("cov2", "a7", "8")},
         |${pin("a8", "p2")},
         |xq AS MATERIALIZED (SELECT vec_id, pos,
         |  CAST(floor(v * 1000000 + 0.5) AS HUGEINT) AS x FROM e),
         |pr AS MATERIALIZED (SELECT xq.vec_id,
         |  sum(xq.x * p1.x) AS u1, sum(xq.x * p2.x) AS u2
         |  FROM xq JOIN p1 ON xq.pos = p1.i JOIN p2 ON xq.pos = p2.i
         |  GROUP BY 1)
         |SELECT vec_id, CAST(u1 AS BIGINT) AS pc1_units,
         |  CAST(u2 AS BIGINT) AS pc2_units,
         |  round(CAST(u1 AS DOUBLE) / 1000000000000, 6) + 0 AS pc1_r,
         |  round(CAST(u2 AS DOUBLE) / 1000000000000, 6) + 0 AS pc2_r
         |FROM pr
         |""".stripMargin
    })

  /** Q97 — semantic deduplication (SemDeDup, Abbas et al. 2023;
    * [[graft.operators.Dedup.semanticDedup]]): k-means cells bound the
    * pairwise cosine stage, connected components pick lowest-id
    * survivors. τ = 0.42 sits just inside the fixture's cosine tail so
    * real duplicate groups form. EXACT oracle: the whole Lloyd loop is
    * deterministic arithmetic — init = the `nlist` lowest-id vectors,
    * assignment = the [[graft.functions.NearestCentroid]] argmax
    * (sequential dot × 1/√‖c‖², smallest cell on ties), and the
    * centroid update routes per-dim sums through DECIMAL(27,18) (an
    * order-independent fold — a plain avg(double) would make the
    * fitted centroids partition-order-dependent and unreplayable) — so
    * [[q97OracleSql]] unrolls the three iterations verbatim in DuckDB,
    * replays the final assignment, the in-cell cosine pairs, and the
    * q37 recursive component closure. A drift in ANY iteration's
    * assignment or mean hash-fails; SemanticDedupSpec additionally
    * pins planted-cluster semantics.
    */
  def q97(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.semanticDedup(emb(s, d), "vec_id", "embedding",
      nlist = 8, tau = 0.42, iters = 3)
  query("q97_semantic_dedup", q97, q97OracleSql)

  /** Q101 — composed IVF-PQ ANN ([[graft.operators.Quantize.ivfPqTopK]];
    * Jégou et al. 2011 end-to-end): coarse cells bound WHICH rows score,
    * PQ codes bound WHAT is read to score them, exact re-rank restores
    * precision. Index cached per corpus (build-once / probe-many).
    * EXACT oracle since both trainers went replay-stable (decimal-mean
    * Lloyd loops): [[q101OracleSql]] unrolls the coarse quantizer, the
    * residual PQ books, the multiprobe routing, the bias+LUT ADC fold,
    * and the re-rank — the recall-vs-exact property stays spec-pinned
    * (QuantizeSpec), but the computation is oracle-checked bit for bit.
    */
  def q101(s: SparkSession, d: String): DataFrame =
    // nProbe = 6 of 16 cells (multiprobe) + a 100-row shortlist +
    // RESIDUAL codes (books quantize v − centroid; ADC adds the
    // per-(probe, cell) p·centroid bias): BASELINE.md `pq_recall`'s
    // frontier point — recall@10 0.95 on the fixture vs 0.6–0.7 at the
    // old (4, 50, raw-code) corner; scoring still touches only m-byte
    // codes
    graft.operators.Quantize.ivfPqTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10, nlist = 16, nProbe = 6,
      shortlist = 100, cacheKey = Some(d), residual = true)
  query("q101_ivfpq_ann", q101, q101OracleSql)

  /** Q136 — hard-negative mining
    * ([[graft.operators.Similarity.hardNegatives]]): for 5 anchor
    * embeddings, the 5 most-similar vectors carrying a DIFFERENT
    * label — the contrastive-training negatives that teach the margin.
    * Anchors broadcast; the corpus is scored in one pass with the
    * label filter map-side; ranking is the bounded-heap aggregate.
    */
  def q136(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.hardNegatives(
      e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "label", k = 5)
  }
  query("q136_hard_negatives", q136,
      ("""WITH p AS (SELECT vec_id AS probe_id, embedding AS pvec, label AS plabel
         |  FROM embeddings WHERE vec_id < 5),
         |scored AS (SELECT p.probe_id, e.vec_id, e.label AS neg_label,
         |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                         CAST(p.pvec AS DOUBLE[])) AS sim
         |  FROM embeddings e CROSS JOIN p
         |  WHERE e.vec_id <> p.probe_id AND e.label <> p.plabel)
         |SELECT probe_id, vec_id, neg_label,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY sim DESC, vec_id) AS BIGINT) AS rk,
         |  round(sim, 4) + 0 AS sim_r
         |FROM scored QUALIFY rk <= 5
         |""".stripMargin))

  /** Q147 — LSH-candidate bitext mining
    * ([[graft.operators.Similarity.marginMiningAnn]]): q144's margin
    * miner with random-hyperplane candidate generation — neither side
    * broadcasts, only bucket-sharing pairs are scored, the candidate
    * table persists. The probe side multiprobes its 2 least-confident
    * bit flips per table (recall 15/16 vs 13/16 planted-mate floor;
    * the tables-vs-probes cost trade is measured in BASELINE.md
    * `ann_mine_recall`). Runs in PORTABLE-plane mode (MD5 Rademacher
    * ±1, the q26/q27 discipline), so the EXACT oracle
    * ([[q147OracleSql]]) rebuilds every table's per-bit dots, the base
    * signatures, the 2 least-confident flips, the bucket join, and
    * q144's margin machinery over the candidate set — bucketing
    * included, bit for bit. The production Gaussian mode's recall
    * stays SimilaritySpec-pinned (partner agreement with q144).
    */
  def q147(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.marginMiningAnn(
      e.filter(pmod(col("vec_id"), lit(2)) === 0),
      e.filter(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", k = 4, portablePlanes = true)
  }
  query("q147_margin_ann", q147, q147OracleSql)

  /** Q182 — perceptual image near-dup (dHash;
    * [[graft.multimodal.Multimodal.imageDHash]] /
    * [[graft.multimodal.Multimodal.hammingNearDupPairs]]): each document
    * renders a deterministic 9×8 gradient PNG — pattern parameters
    * from `doc_id % 25` (so ~4 % of docs share each pattern) plus a
    * PER-DOC brightness shift dHash must cancel — decodes through the
    * real JDK codec, hashes, and pairs by the lossless 4×16-bit-band
    * Hamming join (ham ≤ 3 ⇒ one clean band, pigeonhole). The image
    * dedup class exact payload hashing misses: re-encoded and
    * brightness-shifted copies. Oracle: the gradient luma is
    * arithmetic in doc_id, so DuckDB rebuilds every doc's bit set and
    * brute-forces all pairs — a hash match proves the whole
    * render → PNG bytes → decode → grid → hash → banded-join path.
    */
  def q182(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
      .map { id =>
        val g = (id % 25).toInt
        Multimodal.MediaRow(id, "image",
          Multimodal.renderQuadGradPng(9, 8, offset = g,
            shift = (id % 3).toInt * 4),
          9, 8, 0)
      }
    // decoded = false rows carry hash 0L — pairing them would report any
    // two corrupt payloads as exact duplicates, so drop them before banding
    val hashes = Multimodal.imageDHash(media)
      .filter(col("decoded"))
      .select(col("media_id").as("doc_id"), col("dhash"))
    Multimodal.hammingNearDupPairs(hashes, "doc_id", "dhash", maxHamming = 3)
  }
  // q182: every doc's 9×8 gradient luma is pure doc_id arithmetic
  // (gray RGB → BT.601 luma is exact), so the bit set rebuilds as a
  // (doc, k) table — bit y·8+x set iff lum(x+1,y) > lum(x,y) — and
  // hamming(a, b) = |A| + |B| − 2·|A∩B| brute-forced over all pairs.
  // The banded engine join is lossless at ham ≤ 3, so the row sets
  // must agree exactly.
  query("q182_image_dhash", q182,
      ("""WITH g AS MATERIALIZED (SELECT doc_id, doc_id % 25 AS gk,
         |    (doc_id % 3) * 4 AS base FROM documents),
         |cells AS MATERIALIZED (SELECT doc_id,
         |    x.range AS x, y.range AS y,
         |    base + ((x.range + 9 * y.range + gk + 1)
         |      * (x.range + 9 * y.range + gk + 1) * 13) % 150 AS lum
         |  FROM g, range(9) x, range(8) y),
         |bits AS MATERIALIZED (SELECT a.doc_id, a.y * 8 + a.x AS k
         |  FROM cells a JOIN cells b
         |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
         |  WHERE b.lum > a.lum),
         |cnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM documents d LEFT JOIN bits b USING (doc_id) GROUP BY 1),
         |inter AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS n
         |  FROM bits a JOIN bits b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.a_id, p.b_id,
         |  CAST(ca.c + cb.c - 2 * coalesce(i.n, 0) AS BIGINT) AS hamming
         |FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |      FROM documents a JOIN documents b ON a.doc_id < b.doc_id) p
         |LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         |JOIN cnts ca ON ca.doc_id = p.a_id
         |JOIN cnts cb ON cb.doc_id = p.b_id
         |WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3
         |""".stripMargin))

  /** Q197 — transform-invariant image near-dup (dihedral-canonical
    * hash; [[graft.multimodal.Multimodal.imageDihedralHash]] /
    * [[graft.multimodal.Multimodal.hammingNearDupPairs]]): each
    * document renders q182's quadratic-gradient pattern on an 8×8
    * grid THROUGH a dihedral transform (`doc_id % 8` — a mirrored or
    * rotated re-upload) plus the per-doc brightness shift, decodes
    * through the real JDK codec, and hashes to the MINIMUM over all 8
    * grid isometries of the 56-bit difference hash — so every
    * transform of the same pattern collapses to one canonical value
    * (D4 closure), the duplicate class plain dHash (q182) misses by
    * ~30 bits. Pairing is the same lossless 4×16-bit-band Hamming
    * join. Oracle: luma, transform table, per-variant bit packing,
    * min, and the all-pairs Hamming brute force all replay in integer
    * SQL — a transform-composition bug anywhere hash-fails.
    */
  def q197(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
      .map { id =>
        Multimodal.MediaRow(id, "image",
          Multimodal.renderDihedralGradPng(offset = (id % 25).toInt,
            shift = (id % 3).toInt * 4, t = (id % 8).toInt),
          8, 8, 0)
      }
    val hashes = Multimodal.imageDihedralHash(media)
      .filter(col("decoded"))
      .select(col("media_id").as("doc_id"), col("dhash"))
    Multimodal.hammingNearDupPairs(hashes, "doc_id", "dhash", maxHamming = 3)
  }
  // q197: the dihedral-canonical replay — the q182 luma arithmetic
  // rendered THROUGH the doc's own transform (rt), the 8-variant
  // 56-bit packing, the min, then an all-pairs xor/bit_count brute
  // force. The tf CTE is the ONE transform table; the engine's
  // Multimodal.dihedral composes exactly these maps.
  query("q197_dihedral_dedup", q197,
      ("""WITH g AS MATERIALIZED (SELECT doc_id, doc_id % 25 AS gk,
         |    (doc_id % 3) * 4 AS base, doc_id % 8 AS rt FROM documents),
         |tf AS MATERIALIZED (SELECT t.range AS t, x.range AS x, y.range AS y,
         |    CASE t.range WHEN 0 THEN x.range WHEN 1 THEN 7 - y.range
         |      WHEN 2 THEN 7 - x.range WHEN 3 THEN y.range
         |      WHEN 4 THEN 7 - x.range WHEN 5 THEN x.range
         |      WHEN 6 THEN y.range ELSE 7 - y.range END AS sx,
         |    CASE t.range WHEN 0 THEN y.range WHEN 1 THEN x.range
         |      WHEN 2 THEN 7 - y.range WHEN 3 THEN 7 - x.range
         |      WHEN 4 THEN y.range WHEN 5 THEN 7 - y.range
         |      WHEN 6 THEN x.range ELSE 7 - x.range END AS sy
         |  FROM range(8) t, range(8) x, range(8) y),
         |img AS MATERIALIZED (SELECT doc_id, f.x, f.y,
         |    base + ((f.sx + 9 * f.sy + gk + 1) * (f.sx + 9 * f.sy + gk + 1)
         |      * 13) % 150 AS lum
         |  FROM g JOIN tf f ON f.t = g.rt),
         |bits AS MATERIALIZED (SELECT i1.doc_id, a.t, a.y * 7 + a.x AS k
         |  FROM (SELECT * FROM tf WHERE x < 7) a
         |  JOIN tf b ON b.t = a.t AND b.y = a.y AND b.x = a.x + 1
         |  JOIN img i1 ON i1.x = a.sx AND i1.y = a.sy
         |  JOIN img i2 ON i2.doc_id = i1.doc_id AND i2.x = b.sx AND i2.y = b.sy
         |  WHERE i2.lum > i1.lum),
         |allt AS (SELECT doc_id, t.range AS t FROM documents, range(8) t),
         |hsh AS MATERIALIZED (SELECT a.doc_id, a.t,
         |    coalesce(sum(CAST(1 AS BIGINT) << b.k), 0) AS h
         |  FROM allt a LEFT JOIN bits b ON b.doc_id = a.doc_id AND b.t = a.t
         |  GROUP BY 1, 2),
         |canon AS MATERIALIZED (SELECT doc_id, CAST(min(h) AS BIGINT) AS ch
         |  FROM hsh GROUP BY 1)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.ch, b.ch)) AS BIGINT) AS hamming
         |FROM canon a JOIN canon b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ch, b.ch)) <= 3
         |""".stripMargin))

  /** Q184 — perceptual audio near-dup (envelope hash;
    * [[graft.multimodal.Multimodal.audioEnvelopeHash]]): each document
    * renders a deterministic 65-step amplitude-staircase WAV — step
    * heights from `doc_id % 20`, scaled by a PER-DOC gain the
    * energy-contour hash must cancel — decodes through the real JDK
    * codec, fingerprints window-energy deltas into 64 bits, and pairs
    * by the same lossless Hamming-band join as q182
    * ([[graft.multimodal.Multimodal.hammingNearDupPairs]]). The audio
    * dedup class byte hashing misses: re-encoded and gain-changed
    * copies. Oracle: window energy is pure doc_id arithmetic (square
    * wave: every sample is ±step height; windows align with steps), so
    * DuckDB rebuilds every clip's bit set and brute-forces all pairs.
    */
  def q184(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread — the q43 audio-registry contention note applies
    val media = docs(s, d)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val g = (id % 20).toInt
        val gain = 1 + (id % 4).toInt
        val amps = Array.tabulate(65) { st =>
          val t = st + g * 5 + 1
          ((t * t * 7) % 97 + 1) * gain
        }
        Multimodal.MediaRow(id, "audio",
          Multimodal.renderSteppedWav(amps, samplesPerStep = 64,
            sampleRate = 8000),
          0, 0, 8000)
      }
    val hashes = Multimodal.audioEnvelopeHash(media, windows = 65)
      .filter(col("decoded"))
      .select(col("media_id").as("doc_id"), col("ahash"))
    Multimodal.hammingNearDupPairs(hashes, "doc_id", "ahash", maxHamming = 3)
  }
  // q184: window energies align with amplitude steps (64 samples
  // each, every sample ±step height), so bit w = (step(w+1) energy >
  // step(w) energy) reduces to comparing the doc_id-arithmetic step
  // heights; the per-doc gain scales both sides by gain² and
  // cancels. Same hamming brute force as q182.
  query("q184_audio_neardup", q184,
      ("""WITH g AS MATERIALIZED (SELECT doc_id, doc_id % 20 AS gk FROM documents),
         |steps AS MATERIALIZED (SELECT doc_id, w.range AS w,
         |    ((w.range + gk * 5 + 1) * (w.range + gk * 5 + 1) * 7) % 97 AS amp
         |  FROM g, range(65) w),
         |bits AS MATERIALIZED (SELECT a.doc_id, a.w AS k
         |  FROM steps a JOIN steps b
         |    ON a.doc_id = b.doc_id AND b.w = a.w + 1
         |  WHERE b.amp > a.amp),
         |cnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM documents d LEFT JOIN bits b USING (doc_id) GROUP BY 1),
         |inter AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS n
         |  FROM bits a JOIN bits b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.a_id, p.b_id,
         |  CAST(ca.c + cb.c - 2 * coalesce(i.n, 0) AS BIGINT) AS hamming
         |FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |      FROM documents a JOIN documents b ON a.doc_id < b.doc_id) p
         |LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         |JOIN cnts ca ON ca.doc_id = p.a_id
         |JOIN cnts cb ON cb.doc_id = p.b_id
         |WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3
         |""".stripMargin))

  /** Q191 — frame-level video NEAR-dup
    * ([[graft.multimodal.Multimodal.videoNearDupClips]] over
    * [[graft.multimodal.Multimodal.videoFrameDHash]]): recover
    * re-encoded / trimmed / partially-edited clip pairs that the exact
    * sequence hash (q139's frame classes, `videoSequenceHash`'s
    * re-mux catcher) cannot see. Each document renders a 9×8 Y4M clip
    * whose per-frame dHash bits are PLANTED arithmetic — grid column
    * steps of ±4 whose signs come from MD5("v191:gk:c:y:x") low bits
    * (the q26/q27 portable-hash discipline), with gk = doc_id % 40
    * the shared-content group. Encoder generations vary by
    * jit = doc_id % 3: jit 1 trims the head frame and flips one grid
    * sign per frame (1-bit Hamming — the band join must catch it, not
    * hash equality); jit 2 replaces frame 1 with doc-unique MD5 noise
    * (coverage < 1, the 0.6 threshold filters the 2-frame clips).
    * The oracle rebuilds every frame hash from the same MD5 bits,
    * brute-forces ALL frame pairs at Hamming ≤ 3 (the banding is
    * lossless, so candidate-set equality is part of what's checked),
    * and replays the offset-evidence/best-offset/coverage pipeline.
    * Decode runs through the real Y4M codec end-to-end; pixels never
    * shuffle.
    */
  def q191(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .map { case (id, n) =>
        val gk = id % 40
        val jit = (id % 3).toInt
        val f = n % 5 + 2
        val nf = f - (if (jit == 1) 1 else 0)
        val md = java.security.MessageDigest.getInstance("MD5")
        def upBit(key: String): Boolean = {
          val h = md.digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (h(7) & 1) == 1
        }
        val frames = (0 until nf).map { i =>
          val c = if (jit == 1) i + 1 else i
          val noise = jit == 2 && i == 1
          val plane = new Array[Byte](9 * 8)
          var y = 0
          while (y < 8) {
            var l = 128
            plane(y * 9) = l.toByte
            var x = 1
            while (x < 9) {
              val up =
                if (noise) upBit(s"u191:$id:$y:$x")
                else upBit(s"v191:$gk:$c:$y:$x") ^
                  (jit > 0 && x == jit && y == jit)
              l += (if (up) 4 else -4)
              plane(y * 9 + x) = l.toByte
              x += 1
            }
            y += 1
          }
          plane
        }
        Multimodal.MediaRow(id, "video",
          Multimodal.renderPlanesY4m(9, 8, frames), 9, 8, 0)
      }
    Multimodal.videoNearDupClips(media, maxHamming = 3, minCoverage = 0.6)
  }
  // q191: frame hashes rebuild from the same MD5 low bits (the ±4
  // step signs ARE the dHash bits — the prefix construction cannot
  // produce ties), ALL frame pairs brute-force at hamming <= 3
  // via HUGEINT xor/bit_count, then the offset-evidence /
  // best-offset / rounded-coverage pipeline replays verbatim.
  query("q191_video_neardup", q191,
      ("""WITH d AS (SELECT doc_id, strlen(text) AS n, doc_id % 40 AS gk,
         |    doc_id % 3 AS jit, strlen(text) % 5 + 2 AS f FROM documents
         |  WHERE text IS NOT NULL),
         |d2 AS (SELECT doc_id, gk, jit, f,
         |    f - CASE WHEN jit = 1 THEN 1 ELSE 0 END AS nf FROM d),
         |fr AS (SELECT doc_id, gk, jit, i.range AS i,
         |    CASE WHEN jit = 1 THEN i.range + 1 ELSE i.range END AS c,
         |    (jit = 2 AND i.range = 1) AS noise
         |  FROM d2, range(6) i WHERE i.range < nf),
         |cells AS (SELECT doc_id, i, y.range AS y, x.range AS x,
         |    CASE WHEN noise THEN
         |      CASE WHEN CAST('0x' || substr(md5('u191:' || doc_id || ':'
         |            || y.range || ':' || x.range), 16, 1) AS INT) & 1 = 1
         |        THEN 1 ELSE 0 END
         |    ELSE
         |      CASE WHEN (CAST('0x' || substr(md5('v191:' || gk || ':' || c
         |            || ':' || y.range || ':' || x.range), 16, 1) AS INT)
         |            & 1 = 1)
         |          <> (jit > 0 AND x.range = jit AND y.range = jit)
         |        THEN 1 ELSE 0 END
         |    END AS up
         |  FROM fr, range(8) y, range(1, 9) x),
         |fh AS MATERIALIZED (SELECT doc_id, i,
         |    sum(CASE WHEN up = 1
         |        THEN CAST(1 AS HUGEINT) << CAST(y * 8 + x - 1 AS INT)
         |        ELSE CAST(0 AS HUGEINT) END) AS h
         |  FROM cells GROUP BY 1, 2),
         |m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, b.i - a.i AS off
         |  FROM fh a JOIN fh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.h, b.h)) <= 3),
         |ev AS (SELECT a_id, b_id, off, count(*) AS n_matched
         |  FROM m GROUP BY 1, 2, 3),
         |best AS (SELECT a_id, b_id, off, n_matched,
         |    row_number() OVER (PARTITION BY a_id, b_id
         |      ORDER BY n_matched DESC, off ASC) AS rn
         |  FROM ev)
         |SELECT b.a_id, b.b_id, CAST(b.off AS INT) AS offset,
         |  CAST(b.n_matched AS BIGINT) AS n_matched,
         |  round(CAST(b.n_matched AS DOUBLE) / least(la.nf, lb.nf), 6) + 0
         |    AS coverage_r
         |FROM best b JOIN d2 la ON la.doc_id = b.a_id
         |JOIN d2 lb ON lb.doc_id = b.b_id
         |WHERE rn = 1
         |  AND round(CAST(b.n_matched AS DOUBLE) / least(la.nf, lb.nf), 6)
         |    >= 0.6
         |""".stripMargin))

  /** Shared Lloyd-loop CTE builder: `e` (vectors), `ev` (exploded
    * dims), `c0` (lowest-id init), `iters` assign/update rounds, and
    * the final assignment `af` — the exact replay of
    * [[graft.operators.IvfIndex.fit]] (sequential-dot argmax with
    * smallest-cell ties, DECIMAL(27,18) means, lost cells keep their
    * centroid). q97 and q31 both build on it.
    */
  private def kmeansCtes(nlist: Int, iters: Int,
                         normalized: Boolean = false): String = {
    def assign(prev: String, name: String): String =
      s"""$name AS MATERIALIZED (SELECT id, cell FROM (
         |  SELECT e.id, c.cell,
         |    row_number() OVER (PARTITION BY e.id ORDER BY
         |      list_dot_product(e.vec, c.cvec) *
         |        (1.0 / sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
         |      c.cell ASC) AS rk
         |  FROM e, $prev c
         |  WHERE list_dot_product(c.cvec, c.cvec) > 0 AND len(c.cvec) = len(e.vec)
         |) WHERE rk = 1)""".stripMargin
    def update(a: String, prev: String, name: String): String =
      s"""${name}m AS MATERIALIZED (SELECT a.cell, ev.pos,
         |    CAST(sum(CAST(ev.v AS DECIMAL(27,18))) AS DOUBLE) / count(*) AS m
         |  FROM $a a JOIN ev ON ev.id = a.id GROUP BY 1, 2),
         |$name AS MATERIALIZED (SELECT cell, list(newv ORDER BY pos) AS cvec FROM (
         |  SELECT cp.cell, cp.pos, coalesce(m.m, cp.oldv) AS newv
         |  FROM (SELECT cell, generate_subscripts(cvec, 1) - 1 AS pos,
         |        unnest(cvec) AS oldv FROM $prev) cp
         |  LEFT JOIN ${name}m m ON m.cell = cp.cell AND m.pos = cp.pos
         |) GROUP BY cell)""".stripMargin
    val rounds = (1 to iters).map(i =>
      assign(s"c${i - 1}", s"a$i") + ",\n" + update(s"a$i", s"c${i - 1}", s"c$i"))
      .mkString(",\n")
    // `normalized` replays [[graft.functions.L2Normalize]] first (the
    // q94 CTE): IvfIndex.fit inside ivfPqTopK runs on the L2-normalized
    // corpus, while q97/q31 train on raw vectors
    val eCtes =
      if (normalized)
        """en AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS raw
          |  FROM embeddings WHERE embedding IS NOT NULL),
          |e AS MATERIALIZED (SELECT id, list_transform(raw,
          |  x -> x * (1.0 / sqrt(list_dot_product(raw, raw)))) AS vec FROM en)""".stripMargin
      else
        """e AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
          |  FROM embeddings WHERE embedding IS NOT NULL)""".stripMargin
    s"""$eCtes,
       |ev AS MATERIALIZED (SELECT id, generate_subscripts(vec, 1) - 1 AS pos,
       |  unnest(vec) AS v FROM e),
       |c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY id) - 1 AS cell,
       |  vec AS cvec FROM (SELECT id, vec FROM e ORDER BY id LIMIT $nlist)),
       |$rounds,
       |${assign(s"c$iters", "af")}""".stripMargin
  }

  /** The q97 oracle: the Lloyd loop unrolled — per iteration, the
    * [[graft.functions.NearestCentroid]] assignment (same operation
    * order: sequential dot, × 1/√‖c‖², ties to the smallest cell) and
    * the DECIMAL(27,18)-routed per-dim mean with lost cells keeping
    * their previous centroid — then the final assignment, the in-cell
    * cosine pair stage at τ, and the q37 recursive reach closure.
    */
  private def q97OracleSql: String = {
    val (nlist, tau, iters) = (8, 0.42, 3)
    s"""WITH RECURSIVE
       |${kmeansCtes(nlist, iters)},
       |pairs AS (SELECT x.id AS a_id, y.id AS b_id
       |  FROM af ax JOIN af ay ON ax.cell = ay.cell AND ax.id < ay.id
       |  JOIN e x ON x.id = ax.id JOIN e y ON y.id = ay.id
       |  WHERE list_cosine_similarity(x.vec, y.vec) >= $tau),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs
       |  UNION SELECT id, id FROM e),
       |reach(a, b) AS (SELECT src, dst FROM edges
       |  UNION SELECT e2.src, r.b FROM edges e2 JOIN reach r ON e2.dst = r.a),
       |surv AS (SELECT a AS id, min(b) AS survivor_id FROM reach GROUP BY a)
       |SELECT af.id, CAST(af.cell AS INT) AS cell, s.survivor_id,
       |  (af.id = s.survivor_id) AS is_survivor
       |FROM af JOIN surv s USING (id)
       |""".stripMargin
  }

  /** The q31 oracle: the fitted index replayed ([[kmeansCtes]], two
    * Lloyd rounds), probes routed to their `nProbe` best cells by
    * cosine (ties to the smallest cell), candidates = members of the
    * probed cells, exact cosine re-rank top-k — the IDENTICAL
    * deterministic computation, so the "approximate" index is
    * oracle-CHECKED end to end, cell routing included.
    */
  private def q31OracleSql: String = {
    val (nlist, iters, nProbe, k) = (8, 2, 3, 10)
    s"""WITH RECURSIVE
       |${kmeansCtes(nlist, iters)},
       |routed AS (SELECT probe_id, cell FROM (
       |  SELECT p.id AS probe_id, c.cell,
       |    row_number() OVER (PARTITION BY p.id ORDER BY
       |      list_cosine_similarity(p.vec, c.cvec) DESC, c.cell ASC) AS crk
       |  FROM e p, c$iters c WHERE p.id < 5
       |) WHERE crk <= $nProbe),
       |cand AS (SELECT r.probe_id, af.id,
       |    list_cosine_similarity(x.vec, pv.vec) AS sim
       |  FROM routed r JOIN af ON af.cell = r.cell AND af.id <> r.probe_id
       |  JOIN e x ON x.id = af.id JOIN e pv ON pv.id = r.probe_id)
       |SELECT probe_id, id AS vec_id,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sim DESC, id) AS BIGINT) AS rk,
       |  round(sim, 4) + 0 AS sim_r
       |FROM cand QUALIFY rk <= $k
       |""".stripMargin
  }

  /** Shared PQ-training CTE builder over `$src` (columns `id`,
    * `vec`): `sv`/`svv` (subvector split), `b0` (first-`ksub`-by-id
    * init), `iters` assign/update rounds with
    * [[graft.functions.NearestCentroidL2]]'s exact scoring
    * (`‖c‖² − 2·dot`, ties to the smallest centroid) and
    * DECIMAL(27,18) means, and the final `codes` assignment — the
    * exact replay of [[graft.operators.Quantize.fitPq]] +
    * `encodePq`. q94 feeds it the normalized corpus; q101 the IVF
    * residuals.
    */
  private def pqCtes(src: String, m: Int, ksub: Int, dsub: Int,
                     iters: Int): String = {
    def assignCte(books: String, name: String): String =
      s"""$name AS MATERIALIZED (SELECT id, sub, cent FROM (
         |  SELECT sv.id, sv.sub, b.cent,
         |    row_number() OVER (PARTITION BY sv.id, sv.sub ORDER BY
         |      list_dot_product(b.bvec, b.bvec) -
         |        2.0 * list_dot_product(sv.sv, b.bvec) ASC,
         |      b.cent ASC) AS rk
         |  FROM sv JOIN $books b ON b.sub = sv.sub AND len(b.bvec) = len(sv.sv)
         |) WHERE rk = 1)""".stripMargin
    def updateCte(a: String, prev: String, name: String): String =
      s"""${name}m AS MATERIALIZED (SELECT a.sub, a.cent, vv.pos,
         |    CAST(sum(CAST(vv.v AS DECIMAL(27,18))) AS DOUBLE) / count(*) AS m
         |  FROM $a a JOIN svv vv ON vv.id = a.id AND vv.sub = a.sub
         |  GROUP BY 1, 2, 3),
         |$name AS MATERIALIZED (SELECT sub, cent, list(nv ORDER BY pos) AS bvec
         |  FROM (SELECT bp.sub, bp.cent, bp.pos, coalesce(m.m, bp.ov) AS nv
         |    FROM (SELECT sub, cent, generate_subscripts(bvec, 1) - 1 AS pos,
         |          unnest(bvec) AS ov FROM $prev) bp
         |    LEFT JOIN ${name}m m ON m.sub = bp.sub AND m.cent = bp.cent
         |      AND m.pos = bp.pos
         |  ) GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to iters).map(i =>
      assignCte(s"b${i - 1}", s"p$i") + ",\n" +
        updateCte(s"p$i", s"b${i - 1}", s"b$i")).mkString(",\n")
    s"""sv AS MATERIALIZED (SELECT id, s.range AS sub,
       |    vec[CAST(s.range * $dsub + 1 AS INT):CAST(s.range * $dsub + $dsub AS INT)] AS sv
       |  FROM $src, range($m) s),
       |svv AS MATERIALIZED (SELECT id, sub, generate_subscripts(sv, 1) - 1 AS pos,
       |  unnest(sv) AS v FROM sv),
       |b0 AS MATERIALIZED (SELECT sv.sub, r.cent, sv.sv AS bvec
       |  FROM (SELECT id, row_number() OVER (ORDER BY id) - 1 AS cent
       |        FROM $src ORDER BY id LIMIT $ksub) r
       |  JOIN sv ON sv.id = r.id),
       |$rounds,
       |${assignCte(s"b$iters", "codes")}""".stripMargin
  }

  private def q94OracleSql: String = {
    val (m, ksub, dsub, iters, shortlist, k) = (8, 16, 8, 5, 100, 10)
    s"""WITH en AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS raw
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |e AS MATERIALIZED (SELECT id, list_transform(raw,
       |  x -> x * (1.0 / sqrt(list_dot_product(raw, raw)))) AS vec FROM en),
       |${pqCtes("e", m, ksub, dsub, iters)},
       |lut AS MATERIALIZED (SELECT sv.id AS probe_id, b.sub, b.cent,
       |    list_dot_product(sv.sv, b.bvec) AS t
       |  FROM sv JOIN b$iters b ON b.sub = sv.sub WHERE sv.id < 5),
       |sc AS MATERIALIZED (SELECT l.probe_id, c.id,
       |    list_reduce(list(l.t ORDER BY l.sub), (x, y) -> x + y) AS score
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.cent = c.cent
       |  WHERE c.id <> l.probe_id GROUP BY 1, 2),
       |short AS (SELECT probe_id, id FROM (SELECT probe_id, id,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, id ASC) AS srk FROM sc) WHERE srk <= $shortlist),
       |rer AS (SELECT s.probe_id, s.id,
       |    list_cosine_similarity(cx.vec, px.vec) AS sim
       |  FROM short s JOIN e cx ON cx.id = s.id JOIN e px ON px.id = s.probe_id)
       |SELECT probe_id, id AS vec_id,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sim DESC, id) AS BIGINT) AS rk,
       |  round(sim, 4) + 0 AS sim_r
       |FROM rer QUALIFY rk <= $k
       |""".stripMargin
  }

  /** The q101 oracle: the COMPOSED IVF-PQ pipeline replayed end to
    * end — L2 normalization, the coarse quantizer's three Lloyd rounds
    * ([[kmeansCtes]] in normalized mode), the RESIDUAL encoding
    * (`v − centroid(cell)` rebuilt per-dimension from the exploded
    * corpus × the final centroid table), three per-subspace PQ Lloyd
    * rounds over those residuals ([[pqCtes]]), multiprobe cell routing
    * (cosine to each centroid, `nProbe` best, ties to the smallest
    * cell), per-(probe, cell) bias `p·centroid` + per-subspace LUTs
    * (the residual-ADC identity `p·v = p·c + p·r`), the ADC shortlist
    * as a left-to-right fold + bias (the PqAdcScore + bias order), and
    * the exact cosine re-rank. Both trained codebooks, the cell
    * routing, and every score replay bit for bit — the approximation
    * vs TRUE top-k stays a recall property (QuantizeSpec pins it), but
    * the computation itself is oracle-checked.
    */
  private def q101OracleSql: String = {
    val (nlist, nProbe, m, ksub, dsub, iters, shortlist, k) =
      (16, 6, 8, 16, 8, 3, 100, 10)
    s"""WITH RECURSIVE
       |${kmeansCtes(nlist, iters, normalized = true)},
       |cf AS MATERIALIZED (SELECT cell, generate_subscripts(cvec, 1) - 1 AS pos,
       |  unnest(cvec) AS cv FROM c$iters),
       |rv AS MATERIALIZED (SELECT af.id, ev.pos, ev.v - cf.cv AS v
       |  FROM af JOIN ev ON ev.id = af.id
       |  JOIN cf ON cf.cell = af.cell AND cf.pos = ev.pos),
       |r AS MATERIALIZED (SELECT id, list(v ORDER BY pos) AS vec
       |  FROM rv GROUP BY id),
       |${pqCtes("r", m, ksub, dsub, iters)},
       |pr AS MATERIALIZED (SELECT id, vec FROM e WHERE id < 5),
       |routed AS MATERIALIZED (SELECT probe_id, cell, bias FROM (
       |  SELECT p.id AS probe_id, c.cell,
       |    list_dot_product(p.vec, c.cvec) AS bias,
       |    row_number() OVER (PARTITION BY p.id ORDER BY
       |      list_cosine_similarity(p.vec, c.cvec) DESC, c.cell ASC) AS crk
       |  FROM pr p, c$iters c
       |) WHERE crk <= $nProbe),
       |lut AS MATERIALIZED (SELECT p.id AS probe_id, b.sub, b.cent,
       |    list_dot_product(
       |      p.vec[CAST(b.sub * $dsub + 1 AS INT):CAST(b.sub * $dsub + $dsub AS INT)],
       |      b.bvec) AS t
       |  FROM pr p, b$iters b),
       |sc AS MATERIALIZED (SELECT rt.probe_id, af.id,
       |    list_reduce(list(l.t ORDER BY l.sub), (x, y) -> x + y) + rt.bias AS score
       |  FROM routed rt JOIN af ON af.cell = rt.cell AND af.id <> rt.probe_id
       |  JOIN codes c ON c.id = af.id
       |  JOIN lut l ON l.probe_id = rt.probe_id AND l.sub = c.sub AND l.cent = c.cent
       |  GROUP BY rt.probe_id, af.id, rt.bias),
       |short AS (SELECT probe_id, id FROM (SELECT probe_id, id,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, id ASC) AS srk FROM sc) WHERE srk <= $shortlist),
       |rer AS (SELECT s.probe_id, s.id,
       |    list_cosine_similarity(cx.vec, px.vec) AS sim
       |  FROM short s JOIN e cx ON cx.id = s.id JOIN pr px ON px.id = s.probe_id)
       |SELECT probe_id, id AS vec_id,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sim DESC, id) AS BIGINT) AS rk,
       |  round(sim, 4) + 0 AS sim_r
       |FROM rer QUALIFY rk <= $k
       |""".stripMargin
  }

  /** The q201 oracle: the greedy facility-location selection unrolled —
    * the 6-dp DECIMAL sim matrix once, then per round an argmax CTE
    * (ORDER BY gain DESC, cid — the engine's exact tie order) and a
    * cover-update CTE. A sim-rounding bug, a tie-break bug, or a
    * cover-clip bug diverges the whole selection chain.
    */
  private def q201OracleSql: String = {
    val k = 6
    val rounds = (1 to k).map { r =>
      val prior = (1 until r).map(i => s"SELECT cid FROM s$i").mkString(" UNION ALL ")
      val excl = if (r == 1) "" else s"WHERE s.cid NOT IN ($prior)"
      s"""g$r AS (SELECT s.cid, sum(greatest(s.s, c.c) - c.c) AS gain
         |  FROM sims s JOIN cov${r - 1} c USING (tid) $excl GROUP BY 1),
         |s$r AS MATERIALIZED (SELECT cid, gain FROM g$r
         |  ORDER BY gain DESC, cid LIMIT 1),
         |cov$r AS MATERIALIZED (SELECT c.tid, greatest(c.c, s.s) AS c
         |  FROM cov${r - 1} c JOIN sims s ON s.tid = c.tid
         |  JOIN s$r x ON s.cid = x.cid)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS sel_rank, cid AS vec_id, " +
      s"CAST(gain * 1000000 AS BIGINT) AS gain_micros FROM s$r")
      .mkString("\nUNION ALL\n")
    s"""WITH tgt AS (SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id % 20 = 0),
       |cand AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id % 20 <> 0),
       |sims AS MATERIALIZED (SELECT cid, tid,
       |    CAST(round(list_cosine_similarity(c.v, t.v), 6) + 0
       |      AS DECIMAL(18,6)) AS s
       |  FROM cand c JOIN tgt t ON true),
       |cov0 AS (SELECT tid, CAST(0 AS DECIMAL(18,6)) AS c FROM tgt),
       |$rounds
       |$out
       |""".stripMargin
  }

  /** The q203 oracle: MMR unrolled — the 6-dp query-sim column, a
    * candidate-pair sim matrix for the redundancy term, then per round
    * an argmax CTE over `7·sq − 3·max(sim to selected)` (round 1 is
    * pure relevance) with the engine's exact (score DESC, cid) order.
    */
  private def q203OracleSql: String = {
    val (k, lamNum, lamDen) = (6, 7, 10)
    val rounds = (1 to k).map { r =>
      val prior = (1 to r - 1).map(i => s"SELECT cid FROM s$i").mkString(" UNION ALL ")
      val score =
        if (r == 1) s"$lamNum * q.sq"
        else s"""$lamNum * q.sq - ${lamDen - lamNum} *
           |    (SELECT max(cc.s) FROM cc WHERE cc.ca = q.cid
           |     AND cc.cb IN ($prior))""".stripMargin
      val excl = if (r == 1) "" else s"WHERE q.cid NOT IN ($prior)"
      s"""g$r AS (SELECT q.cid, $score AS sc FROM simq q $excl),
         |s$r AS MATERIALIZED (SELECT cid, sc FROM g$r
         |  ORDER BY sc DESC, cid LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS sel_rank, cid AS vec_id, " +
      s"CAST(sc * 1000000 AS BIGINT) AS score_micros FROM s$r")
      .mkString("\nUNION ALL\n")
    s"""WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id <> 0),
       |simq AS MATERIALIZED (SELECT cid,
       |    CAST(round(list_cosine_similarity(c.v, q.v), 6) + 0
       |      AS DECIMAL(18,6)) AS sq
       |  FROM cand c, qv q),
       |cc AS MATERIALIZED (SELECT a.cid AS ca, b.cid AS cb,
       |    CAST(round(list_cosine_similarity(a.v, b.v), 6) + 0
       |      AS DECIMAL(18,6)) AS s
       |  FROM cand a JOIN cand b ON a.cid <> b.cid),
       |$rounds
       |$out
       |""".stripMargin
  }

  /** The q205 oracle: k-center greedy unrolled — the candidate-pair
    * 6-dp decimal distance matrix (1 − cosine), the smallest-id seed,
    * then per round an argmax CTE over the min distance to the
    * selected set with the engine's exact (d DESC, cid) order; radii
    * in exact 1e-6 integer units (seed row = the 2 000 000 ceiling).
    */
  private def q205OracleSql: String = {
    val k = 8
    val rounds = (2 to k).map { r =>
      val prior = (1 until r).map(i => s"SELECT cid FROM s$i").mkString(" UNION ALL ")
      s"""g$r AS (SELECT q.cid,
         |    (SELECT min(cc.d) FROM cc WHERE cc.ca = q.cid
         |     AND cc.cb IN ($prior)) AS d
         |  FROM cand q WHERE q.cid NOT IN ($prior)),
         |s$r AS MATERIALIZED (SELECT cid, d FROM g$r
         |  ORDER BY d DESC, cid LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (Seq("SELECT CAST(1 AS BIGINT) AS sel_rank, cid AS vec_id, " +
      "CAST(2000000 AS BIGINT) AS radius_micros FROM s1") ++
      (2 to k).map(r =>
        s"SELECT CAST($r AS BIGINT) AS sel_rank, cid AS vec_id, " +
        s"CAST(d * 1000000 AS BIGINT) AS radius_micros FROM s$r"))
      .mkString("\nUNION ALL\n")
    s"""WITH cand AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |cc AS MATERIALIZED (SELECT a.cid AS ca, b.cid AS cb,
       |    CAST(1 AS DECIMAL(18,6)) -
       |    CAST(round(list_cosine_similarity(a.v, b.v), 6) + 0
       |      AS DECIMAL(18,6)) AS d
       |  FROM cand a JOIN cand b ON a.cid <> b.cid),
       |s1 AS MATERIALIZED (SELECT cid FROM cand ORDER BY cid LIMIT 1),
       |$rounds
       |$out
       |""".stripMargin
  }

  /** The q147 oracle: the multiprobe-LSH bitext miner replayed end to
    * end — the q26 MD5 Rademacher plane construction per table
    * (seed 42 + t), per-bit dots, base signatures, the probe side's 2
    * least-confident single-bit flips (sorted by (|dot|, bit) — the
    * expression's strict-< selection order), the (t, sig) bucket join,
    * DISTINCT candidate pairs, and q144's margin machinery (top-4 both
    * directions over the CANDIDATE set, DECIMAL(18,4) averages,
    * rounded margin, top-1 per probe). A plane bug, a flip-order bug,
    * a bucket-join bug, or a margin divergence all hash-fail.
    */
  private def q147OracleSql: String = {
    val (bits, tables, probes, k, seed) = (8, 8, 2, 4, 42)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (SELECT unnest(range(len(e0.embedding))) AS i
       |  FROM (SELECT embedding FROM embeddings LIMIT 1) e0),
       |pl AS MATERIALIZED (SELECT t.range AS t, b.range AS b,
       |    list(CASE WHEN CAST('0x' || substr(md5(
       |          ($seed + t.range) || ':' || b.range || ':' || dims.i),
       |        16, 1) AS INT) & 1 = 1
       |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
       |      ORDER BY dims.i) AS p
       |  FROM range($tables) t, range($bits) b, dims
       |  GROUP BY 1, 2),
       |db AS MATERIALIZED (SELECT e.vec_id, pl.t, pl.b,
       |    list_dot_product(e.v, pl.p) AS d
       |  FROM e, pl),
       |sg AS MATERIALIZED (SELECT vec_id, t,
       |    CAST(sum(CASE WHEN d >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS sig
       |  FROM db GROUP BY 1, 2),
       |fl AS (SELECT vec_id, t, b FROM (SELECT vec_id, t, b,
       |    row_number() OVER (PARTITION BY vec_id, t
       |      ORDER BY abs(d) ASC, b ASC) AS frk
       |  FROM db WHERE vec_id % 2 = 0) WHERE frk <= $probes),
       |asig AS (SELECT vec_id, t, sig FROM sg WHERE vec_id % 2 = 0
       |  UNION ALL
       |  SELECT f.vec_id, f.t, xor(s.sig, CAST(1 << f.b AS BIGINT)) AS sig
       |  FROM fl f JOIN sg s ON s.vec_id = f.vec_id AND s.t = f.t),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS b_id
       |  FROM asig a JOIN sg c ON c.t = a.t AND c.sig = a.sig
       |  WHERE c.vec_id % 2 = 1),
       |pr AS MATERIALIZED (SELECT c.a_id, c.b_id,
       |    list_cosine_similarity(bv.v, av.v) AS sim
       |  FROM cand c JOIN e av ON av.vec_id = c.a_id
       |  JOIN e bv ON bv.vec_id = c.b_id),
       |fwd AS (SELECT a_id, b_id, round(sim, 4) + 0 AS sim_r
       |  FROM (SELECT a_id, b_id, sim,
       |    row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rk
       |  FROM pr) WHERE rk <= $k),
       |bwd AS (SELECT b_id, round(sim, 4) + 0 AS sim_r
       |  FROM (SELECT b_id, sim,
       |    row_number() OVER (PARTITION BY b_id ORDER BY sim DESC, a_id) AS rk
       |  FROM pr) WHERE rk <= $k),
       |aa AS (SELECT a_id, CAST(sum(CAST(sim_r AS DECIMAL(18,4))) AS DOUBLE)
       |  / count(*) AS avg_a FROM fwd GROUP BY 1),
       |ab AS (SELECT b_id, CAST(sum(CAST(sim_r AS DECIMAL(18,4))) AS DOUBLE)
       |  / count(*) AS avg_b FROM bwd GROUP BY 1),
       |sc AS (SELECT f.a_id, f.b_id, f.sim_r,
       |  round(f.sim_r / ((aa.avg_a + ab.avg_b) / 2), 6) + 0 AS margin
       |  FROM fwd f JOIN aa USING (a_id) JOIN ab USING (b_id)),
       |r AS (SELECT a_id, b_id, sim_r, margin,
       |  row_number() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rk
       |  FROM sc)
       |SELECT a_id, b_id, sim_r, margin FROM r WHERE rk = 1
       |""".stripMargin
  }

  /** Q185 — incremental perceptual media dedup
    * ([[graft.multimodal.Multimodal.incrementalHammingNearDup]]): the
    * q105 daily-batch shape applied to q182's image hashes — every
    * tenth document plays today's arriving batch, the rest the
    * standing index, and the batch's hash bands broadcast while the
    * corpus streams map-side to the probe (its only exchange is the
    * matched-pair distinct). Oracle: the q182 luma arithmetic,
    * brute-forced over CROSS pairs only.
    */
  def q185(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def mediaOf(ids: org.apache.spark.sql.Dataset[Long]) = ids.map { id =>
      val g = (id % 25).toInt
      Multimodal.MediaRow(id, "image",
        Multimodal.renderQuadGradPng(9, 8, offset = g,
          shift = (id % 3).toInt * 4),
        9, 8, 0)
    }
    val all = docs(s, d).select(col("doc_id")).repartition(s.sparkContext.defaultParallelism).as[Long]
    def hashesOf(ids: org.apache.spark.sql.Dataset[Long]) =
      Multimodal.imageDHash(mediaOf(ids))
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("dhash"))
    Multimodal.incrementalHammingNearDup(
      hashesOf(all.filter(_ % 10 == 0)), hashesOf(all.filter(_ % 10 != 0)),
      "doc_id", "dhash", maxHamming = 3)
  }
  // q185: the q182 bit replay, brute-forced over batch × corpus
  // pairs only (batch = doc_id % 10 = 0).
  query("q185_incr_media_dedup", q185,
      ("""WITH g AS MATERIALIZED (SELECT doc_id, doc_id % 25 AS gk,
         |    (doc_id % 3) * 4 AS base FROM documents),
         |cells AS MATERIALIZED (SELECT doc_id,
         |    x.range AS x, y.range AS y,
         |    base + ((x.range + 9 * y.range + gk + 1)
         |      * (x.range + 9 * y.range + gk + 1) * 13) % 150 AS lum
         |  FROM g, range(9) x, range(8) y),
         |bits AS MATERIALIZED (SELECT a.doc_id, a.y * 8 + a.x AS k
         |  FROM cells a JOIN cells b
         |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
         |  WHERE b.lum > a.lum),
         |cnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM documents d LEFT JOIN bits b USING (doc_id) GROUP BY 1),
         |pairs AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM documents n JOIN documents o
         |    ON n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0),
         |inter AS MATERIALIZED (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
         |    count(*) AS n
         |  FROM bits a JOIN bits b ON a.k = b.k
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |  GROUP BY 1, 2)
         |SELECT p.new_id, p.old_id,
         |  CAST(ca.c + cb.c - 2 * coalesce(i.n, 0) AS BIGINT) AS hamming
         |FROM pairs p
         |LEFT JOIN inter i ON i.new_id = p.new_id AND i.old_id = p.old_id
         |JOIN cnts ca ON ca.doc_id = p.new_id
         |JOIN cnts cb ON cb.doc_id = p.old_id
         |WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3
         |""".stripMargin))

  /** Q187 — end-to-end media dedup pipeline
    * ([[graft.multimodal.Multimodal.mediaDedupPipeline]]): the q37
    * corpus-dedup composition for a MULTIMODAL lake — even doc_ids
    * render q182's brightness-shifted gradient PNGs, odd doc_ids
    * q184's gain-scaled staircase WAVs, and the pipeline runs exact
    * payload collapse → per-modality perceptual hash → banded CLASS
    * pairs → connected components → survivor datasheet in one query.
    * Pixels and samples never shuffle (hashing is map-side); the band
    * join sees only distinct hash values; components run over linear
    * membership + class-pair edges. Oracle: both modalities' bit sets
    * are pure doc_id arithmetic (the q182 luma and q184 step-energy
    * replays), so DuckDB brute-forces each modality's ham ≤ 3 pairs,
    * closes them with a recursive CTE (the q37 closure), and rebuilds
    * each survivor's member and exact-byte-class counts.
    */
  def q187(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread — the audio half hits the q43 audio-registry
    // contention; the mixed pipeline stays narrow like q43/q184
    val media = docs(s, d).select(col("doc_id")).as[Long].map { id =>
      if (id % 2 == 0) {
        val g = (id % 25).toInt
        Multimodal.MediaRow(id, "image",
          Multimodal.renderQuadGradPng(9, 8, offset = g,
            shift = (id % 3).toInt * 4),
          9, 8, 0)
      } else {
        val g = (id % 20).toInt
        val gain = 1 + (id % 4).toInt
        val amps = Array.tabulate(65) { st =>
          val t = st + g * 5 + 1
          ((t * t * 7) % 97 + 1) * gain
        }
        Multimodal.MediaRow(id, "audio",
          Multimodal.renderSteppedWav(amps, samplesPerStep = 64,
            sampleRate = 8000),
          0, 0, 8000)
      }
    }
    Multimodal.mediaDedupPipeline(media, maxHamming = 3)
      .select(col("survivor_id"), col("kind"), col("n_members"),
        col("n_exact_classes"))
  }
  // q187: both modalities' bit sets replay arithmetically (the q182
  // luma CTE over even ids, the q184 step-energy CTE over odd ids),
  // each modality brute-forces its ham <= 3 pairs, and the q37
  // recursive closure labels components; exact byte classes rebuild
  // as distinct render-parameter pairs (the renderers are injective
  // in their parameters).
  query("q187_media_dedup_pipeline", q187,
      ("""WITH RECURSIVE
         |ig AS (SELECT doc_id, doc_id % 25 AS gk, (doc_id % 3) * 4 AS base
         |  FROM documents WHERE doc_id % 2 = 0),
         |icells AS MATERIALIZED (SELECT doc_id, x.range AS x, y.range AS y,
         |    base + ((x.range + 9 * y.range + gk + 1)
         |      * (x.range + 9 * y.range + gk + 1) * 13) % 150 AS lum
         |  FROM ig, range(9) x, range(8) y),
         |ibits AS MATERIALIZED (SELECT a.doc_id, a.y * 8 + a.x AS k
         |  FROM icells a JOIN icells b
         |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
         |  WHERE b.lum > a.lum),
         |icnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM ig d LEFT JOIN ibits b USING (doc_id) GROUP BY 1),
         |iinter AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS n
         |  FROM ibits a JOIN ibits b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ipairs AS (SELECT p.a_id, p.b_id
         |  FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |        FROM ig a JOIN ig b ON a.doc_id < b.doc_id) p
         |  LEFT JOIN iinter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         |  JOIN icnts ca ON ca.doc_id = p.a_id
         |  JOIN icnts cb ON cb.doc_id = p.b_id
         |  WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3),
         |ag AS (SELECT doc_id, doc_id % 20 AS gk FROM documents
         |  WHERE doc_id % 2 = 1),
         |asteps AS MATERIALIZED (SELECT doc_id, w.range AS w,
         |    ((w.range + gk * 5 + 1) * (w.range + gk * 5 + 1) * 7) % 97 AS amp
         |  FROM ag, range(65) w),
         |abits AS MATERIALIZED (SELECT a.doc_id, a.w AS k
         |  FROM asteps a JOIN asteps b ON a.doc_id = b.doc_id AND b.w = a.w + 1
         |  WHERE b.amp > a.amp),
         |acnts AS MATERIALIZED (SELECT d.doc_id, count(b.k) AS c
         |  FROM ag d LEFT JOIN abits b USING (doc_id) GROUP BY 1),
         |ainter AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS n
         |  FROM abits a JOIN abits b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |apairs AS (SELECT p.a_id, p.b_id
         |  FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |        FROM ag a JOIN ag b ON a.doc_id < b.doc_id) p
         |  LEFT JOIN ainter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         |  JOIN acnts ca ON ca.doc_id = p.a_id
         |  JOIN acnts cb ON cb.doc_id = p.b_id
         |  WHERE ca.c + cb.c - 2 * coalesce(i.n, 0) <= 3),
         |pairs AS (SELECT a_id, b_id FROM ipairs
         |  UNION ALL SELECT a_id, b_id FROM apairs),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs
         |  UNION SELECT doc_id, doc_id FROM documents),
         |reach(a, b) AS (SELECT src, dst FROM edges
         |  UNION SELECT e.src, r.b FROM edges e JOIN reach r ON e.dst = r.a),
         |comp AS (SELECT a AS doc_id, min(b) AS survivor_id FROM reach GROUP BY a)
         |SELECT survivor_id,
         |  CASE WHEN survivor_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(count(DISTINCT CASE WHEN doc_id % 2 = 0
         |    THEN doc_id % 25 * 10 + doc_id % 3
         |    ELSE doc_id % 20 * 10 + doc_id % 4 END) AS BIGINT) AS n_exact_classes
         |FROM comp GROUP BY 1, 2
         |""".stripMargin))

  /** Q201 — greedy facility-location data selection
    * ([[graft.operators.Selection.facilityLocation]]; Lin & Bilmes,
    * ACL 2011): pick 6 candidates maximizing target coverage
    * `Σ_t max(0, max_sel sim)` against the 5 % target slice
    * (`vec_id % 20 = 0`) — target-RELEVANT and DIVERSE at once (a
    * near-dup of a prior pick gains nothing), the submodular selector
    * similarity-top-k lacks. Sims route through 6-dp DECIMAL so every
    * greedy round is exact in any partitioning; per round the plan is
    * one zero-exchange row-local fold + TakeOrdered(1). Oracle unrolls
    * all 6 rounds (argmax CTE + cover update per round).
    */
  def q201(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Selection.facilityLocation(
      e.filter(pmod(col("vec_id"), lit(20)) =!= 0),
      e.filter(pmod(col("vec_id"), lit(20)) === 0),
      "vec_id", "embedding", k = 6)
  }
  query("q201_facility_select", q201, q201OracleSql)

  /** Q203 — MMR diversified re-ranking
    * ([[graft.operators.Selection.mmr]]; Carbonell & Goldstein, SIGIR
    * 1998): q14's relevance list re-ranked for diversity — greedy
    * `λ·sim(query, c) − (1−λ)·max_sel sim` at λ = 7/10 against probe
    * vec 0, k = 6. Exact decimal scoring (6-dp sims, rational λ never
    * divided), zero-exchange rounds; the oracle unrolls every round
    * with a candidate-pair sim matrix.
    */
  def q203(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Selection.mmr(e.filter(col("vec_id") =!= 0),
      e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 6,
      lamNum = 7, lamDen = 10)
  }
  query("q203_mmr_rerank", q203, q203OracleSql)

  /** Q205 — k-center greedy coreset
    * ([[graft.operators.Selection.kcenter]]; Gonzalez, TCS 1985;
    * Sener & Savarese, ICLR 2018): seed at the smallest id, then 7
    * farthest-point rounds over the embeddings table — each pick
    * maximizes the min 6-dp-decimal cosine distance to the selected
    * set, ties to the smallest id. Zero-exchange rounds (selected
    * vectors ride as ONE nested-array literal), one TakeOrdered(1)
    * each. Oracle: the candidate-pair distance matrix + all 8 rounds
    * unrolled in argmax CTEs, radius in exact 1e-6 units.
    */
  def q205(s: SparkSession, d: String): DataFrame =
    graft.operators.Selection.kcenter(emb(s, d), "vec_id", "embedding",
      k = 8)
  query("q205_kcenter_coreset", q205, q205OracleSql)

  /** Q211 — kNN-distance outlier scores
    * ([[graft.operators.Similarity.knnOutlierScores]]; Ramaswamy et
    * al., SIGMOD 2000): the 20 % audit slice's (`vec_id % 5 = 0`)
    * distance to its 10th nearest neighbor in the FULL corpus — the
    * embedding-space curation gate for corrupt or off-distribution
    * vectors. The probe side is an explicit bounded slice (the
    * broadcast-audit contract: only the probes broadcast, neighbors
    * scan map-side); lake-scale full sweeps batch the probes or route
    * through the ANN tier. Oracle: the slice-by-corpus pair matrix +
    * row_number at rk = 10.
    */
  def q211(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.knnOutlierScores(e,
      e.filter(pmod(col("vec_id"), lit(5)) === 0), "vec_id",
      "embedding", k = 10)
  }
  // q211: the dense pair matrix, k-th row per probe by (sim DESC, id),
  // the engine's 4-dp rounding on both the similarity and its
  // distance complement
  query("q211_knn_outliers", q211,
      ("""WITH pr AS (SELECT a.vec_id AS vec_id, b.vec_id AS nb,
         |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |    CAST(b.embedding AS DOUBLE[])) AS sim
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id % 5 = 0 AND a.vec_id <> b.vec_id),
         |r AS (SELECT vec_id, nb, sim, row_number() OVER (
         |  PARTITION BY vec_id ORDER BY sim DESC, nb) AS rk FROM pr)
         |SELECT vec_id, nb AS kth_neighbor, round(sim, 4) + 0 AS kth_sim_r,
         |  round(1 - round(sim, 4), 4) + 0 AS outlier_score_r
         |FROM r WHERE rk = 10
         |""".stripMargin))

  /** Q228 — simplified silhouette clustering quality
    * ([[graft.operators.Similarity.silhouetteSimplified]], Rousseeuw
    * 1987 / Hruschka et al. 2004): per embedding label, the mean
    * (b − a)/max(a, b) of cosine distances to the own vs nearest
    * foreign centroid — the cluster-validity gate over the q89
    * centroids; centroids collect (metadata tier) and score in one
    * zero-exchange projection. Oracle replays the centroid table, the
    * vector×centroid distance fan-out, and the same rounded chain.
    */
  def q228(s: SparkSession, d: String): DataFrame =
    graft.operators.Similarity.silhouetteSimplified(
      Tables.embeddings(s, d), "label", "embedding")
  // q228: the q90 centroid CTE, a vector×centroid distance fan-out
  // (the engine keeps this row-local off collected literals), own vs
  // min-foreign distances, the same rounded silhouette chain
  query("q228_silhouette", q228,
      ("""WITH x AS (SELECT label,
         |  unnest(range(len(embedding))) AS pos,
         |  CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS x
         |  FROM embeddings),
         |cd AS (SELECT label, pos,
         |  round(CAST(sum(x) AS DOUBLE) / count(*), 6) + 0 AS c
         |  FROM x GROUP BY 1, 2),
         |cv AS (SELECT label, list(c ORDER BY pos) AS cvec FROM cd GROUP BY 1),
         |p AS (SELECT e.vec_id, e.label AS lab, cv.label AS cl,
         |  1.0 - round(list_cosine_similarity(
         |    CAST(e.embedding AS DOUBLE[]), cv.cvec), 4) AS d
         |  FROM embeddings e, cv),
         |ab AS (SELECT vec_id, lab,
         |  min(CASE WHEN cl = lab THEN d END) AS a,
         |  min(CASE WHEN cl <> lab THEN d END) AS b FROM p GROUP BY 1, 2),
         |s AS (SELECT lab,
         |  CASE WHEN greatest(a, b) = 0 THEN CAST(0.0 AS DECIMAL(18,9))
         |    ELSE CAST(round((b - a) / greatest(a, b), 6) AS DECIMAL(18,9))
         |    END AS sv FROM ab)
         |SELECT lab AS label, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(sv) AS DOUBLE) / count(*), 6) + 0 AS mean_sil_r
         |FROM s GROUP BY 1
         |""".stripMargin))

  /** Q144 — margin-based bitext mining
    * ([[graft.operators.Similarity.marginMining]]): even-id embeddings
    * mined against odd-id embeddings (the two-language stand-in), best
    * margin-scored partner per source row — the LASER/CCMatrix
    * parallel-corpus op. Two top-k passes + neighborhood means; the
    * margin normalizes hub-vector density away.
    */
  def q144(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.marginMining(
      e.filter(pmod(col("vec_id"), lit(2)) === 0),
      e.filter(pmod(col("vec_id"), lit(2)) === 1),
      "vec_id", "embedding", k = 4)
  }
  query("q144_margin_mine", q144,
      ("""WITH A AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |B AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         |pf AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
         |                         CAST(a.embedding AS DOUBLE[])) AS sim,
         |  row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
         |                           CAST(a.embedding AS DOUBLE[])) DESC,
         |    b.vec_id) AS rk
         |  FROM A a CROSS JOIN B b),
         |fwd AS (SELECT a_id, b_id, round(sim, 4) + 0 AS sim_r FROM pf WHERE rk <= 4),
         |pb AS (SELECT b.vec_id AS b_id,
         |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                         CAST(b.embedding AS DOUBLE[])) AS sim,
         |  row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                           CAST(b.embedding AS DOUBLE[])) DESC,
         |    a.vec_id) AS rk
         |  FROM B b CROSS JOIN A a),
         |bwd AS (SELECT b_id, round(sim, 4) + 0 AS sim_r FROM pb WHERE rk <= 4),
         |aa AS (SELECT a_id, CAST(sum(CAST(sim_r AS DECIMAL(18,4))) AS DOUBLE)
         |  / count(*) AS avg_a FROM fwd GROUP BY 1),
         |ab AS (SELECT b_id, CAST(sum(CAST(sim_r AS DECIMAL(18,4))) AS DOUBLE)
         |  / count(*) AS avg_b FROM bwd GROUP BY 1),
         |sc AS (SELECT f.a_id, f.b_id, f.sim_r,
         |  round(f.sim_r / ((aa.avg_a + ab.avg_b) / 2), 6) + 0 AS margin
         |  FROM fwd f JOIN aa USING (a_id) JOIN ab USING (b_id)),
         |r AS (SELECT a_id, b_id, sim_r, margin,
         |  row_number() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rk
         |  FROM sc)
         |SELECT a_id, b_id, sim_r, margin FROM r WHERE rk = 1
         |""".stripMargin))

  /** Q143 — retrieval-quality eval
    * ([[graft.operators.Similarity.retrievalMetrics]]): recall@10 and
    * MRR@10 per label over 50 probe embeddings, relevance = label
    * match — the post-re-embed eval of a retrieval pipeline. One
    * corpus pass, decimal-routed reciprocal ranks.
    */
  def q143(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Similarity.retrievalMetrics(
      e, e.filter(col("vec_id") < 50), "vec_id", "embedding", "label", k = 10)
  }
  query("q143_retrieval_eval", q143,
      ("""WITH p AS (SELECT vec_id AS probe_id, embedding AS pvec, label AS plabel
         |  FROM embeddings WHERE vec_id < 50),
         |scored AS (SELECT p.probe_id, p.plabel, e.label AS clabel,
         |  row_number() OVER (PARTITION BY p.probe_id
         |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                    CAST(p.pvec AS DOUBLE[])) DESC,
         |      e.vec_id) AS rk
         |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.probe_id),
         |per AS (SELECT probe_id, plabel AS label,
         |  min(CASE WHEN clabel = plabel THEN rk END) AS first
         |  FROM scored WHERE rk <= 10 GROUP BY 1, 2)
         |SELECT label, count(*) AS n_probes,
         |  round(CAST(sum(CASE WHEN first IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) + 0 AS recall_at_k,
         |  round(CAST(sum(coalesce(CAST(1.0 / first AS DECIMAL(18,9)),
         |                          CAST(0 AS DECIMAL(18,9)))) AS DOUBLE)
         |        / count(*), 6) + 0 AS mrr
         |FROM per GROUP BY 1
         |""".stripMargin))

  /** Q139 — cross-document FRAME-level dedup: q106's deterministic Y4M
    * corpus decoded through the real codec, every frame content-hashed
    * ([[graft.multimodal.Multimodal.videoFrameHashes]]), and frames
    * shared by ≥ 2 documents profiled per document — the multimodal
    * twin of q81's text dup profile (re-broadcast detection, credit
    * sequences, mirrored uploads). Pixel data never shuffles: frames
    * leave their partition as 8-byte hashes, then one hash-scale
    * aggregate + one doc-scale join. Exact oracle: the output exposes
    * only hash EQUALITY classes, and two frames hash equal iff their
    * (w, h, luma) construction is equal — pure doc-length arithmetic
    * DuckDB replays directly (an FNV collision on the fixture would
    * hash-fail the compare); MultimodalSpec additionally pins the
    * profile from the planted luma construction.
    */
  def q139(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT spread: q139's frames are tiny (<= 6 frames of <= 12x10
    // luma), so generation+hashing is lighter than the seed exchange
    // it would buy (measured 0.42 -> 0.80 s spread; reverted)
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .as[(Long, Int)]
      .map { case (id, n) =>
        val lumas = Array.tabulate(n % 6 + 1)(k => (n + k * 7) % 256)
        Multimodal.MediaRow(id, "video",
          Multimodal.renderY4m(n % 11 + 2, n % 9 + 2, lumas),
          n % 11 + 2, n % 9 + 2, 0)
      }
    val frames = Multimodal.videoFrameHashes(media)
      .select(col("media_id").as("doc_id"), col("frame_hash"))
    val perDoc = frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"))
    // a frame hash is "shared" when ≥2 DISTINCT docs carry it
    val shared = frames.distinct()
      .groupBy(col("frame_hash")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= 2)
    val sharedPerDoc = frames.join(shared, "frame_hash")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    perDoc.join(sharedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        NumFunctions.roundNz(
          coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_frames"), 6)
          .as("shared_ratio"))
  }
  // q139: the output exposes only frame-hash EQUALITY classes, and
  // the FNV input bytes are exactly (w, h, luma-fill) — so sharing
  // replays as tuple equality over the planted doc-length arithmetic
  // (w = n%11+2, h = n%9+2, frame k luma = (n+7k)%256, k <= n%6); a
  // hash collision in the engine would diverge and hash-fail.
  query("q139_frame_dedup", q139,
      ("""WITH d AS (SELECT doc_id, strlen(text) AS n FROM documents
         |  WHERE text IS NOT NULL),
         |f AS (SELECT doc_id, n % 11 + 2 AS w, n % 9 + 2 AS h,
         |    (n + k.range * 7) % 256 AS luma
         |  FROM d, range(6) k WHERE k.range <= n % 6),
         |pd AS (SELECT doc_id, count(*) AS n_frames FROM f GROUP BY 1),
         |sh AS (SELECT w, h, luma
         |  FROM (SELECT DISTINCT doc_id, w, h, luma FROM f)
         |  GROUP BY 1, 2, 3 HAVING count(*) >= 2),
         |sp AS (SELECT f.doc_id, count(*) AS n_shared
         |  FROM f JOIN sh USING (w, h, luma) GROUP BY 1)
         |SELECT pd.doc_id, CAST(pd.n_frames AS BIGINT) AS n_frames,
         |  CAST(coalesce(sp.n_shared, 0) AS BIGINT) AS n_shared,
         |  round(CAST(coalesce(sp.n_shared, 0) AS DOUBLE) / pd.n_frames, 6)
         |    + 0 AS shared_ratio
         |FROM pd LEFT JOIN sp USING (doc_id)
         |""".stripMargin))

  /** Q106 — end-to-end multimodal retrieval: a deterministic Y4M video
    * per document (q44's planted lumas), decoded through the REAL codec
    * into the 64-bin content histogram
    * ([[graft.multimodal.Multimodal.extractFeatures]]), then cosine
    * top-5 against five probe documents
    * ([[graft.operators.Similarity.topKCosine]]) — the
    * decode → featurize → similarity-search composition a multimodal
    * pipeline runs, partition-wise kernels plus the broadcast-probe
    * ranking, no shuffle before the bounded-heap top-k. EXACT oracle
    * (the q182/q184 replay discipline composed): every frame's uniform
    * luma is planted arithmetic ((n + 7k) % 256), so the decoded
    * histogram is pure integer counting — bin m·w·h over total F·w·h,
    * and the w·h factors cancel EXACTLY under IEEE division (both are
    * the correctly-rounded quotient of the same real number) — and the
    * cosine re-rank replays through `list_cosine_similarity` with the
    * same float→double widening. A codec bug, a histogram bug, or a
    * ranking divergence all hash-fail; MultimodalSpec additionally
    * pins the histogram against hand-computed values.
    */
  def q106(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = docs(s, d)
      .filter(col("text").isNotNull) // mirror the oracle's doc filter
      .select(col("doc_id"), octet_length(col("text")).cast("int").as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .map { case (id, n) =>
        val lumas = Array.tabulate(n % 6 + 1)(k => (n + k * 7) % 256)
        Multimodal.MediaRow(id, "video",
          Multimodal.renderY4m(n % 11 + 2, n % 9 + 2, lumas),
          n % 11 + 2, n % 9 + 2, 0)
      }
    val feats = Multimodal.extractFeatures(media)
      .select(col("media_id").as("vec_id"), col("feature"))
    graft.operators.Similarity.topKCosine(
        feats, feats.filter(col("vec_id") < 5), "vec_id", "feature", k = 5)
  }
  // q106: the decoded per-frame uniform lumas are planted arithmetic,
  // so the 64-bin histogram replays as integer frame counting — each
  // frame adds w·h to bin ((n+7k)%256)>>2, and the w·h factors cancel
  // EXACTLY in the normalization (same real quotient → same IEEE
  // double); the float squeeze and the cosine re-rank replay through
  // CAST(… AS REAL) and list_cosine_similarity.
  query("q106_media_topk", q106,
      ("""WITH d AS (SELECT doc_id, strlen(text) AS n FROM documents
         |  WHERE text IS NOT NULL),
         |fr AS (SELECT doc_id, ((n + k.range * 7) % 256) // 4 AS bin
         |  FROM d, range(6) k WHERE k.range <= n % 6),
         |bins AS (SELECT doc_id, bin, count(*) AS m FROM fr GROUP BY 1, 2),
         |vecs AS (SELECT d.doc_id,
         |    list(CAST(CAST(CAST(coalesce(b2.m, 0) AS DOUBLE) / (d.n % 6 + 1)
         |      AS REAL) AS DOUBLE) ORDER BY bb.range) AS v
         |  FROM d CROSS JOIN range(64) bb
         |  LEFT JOIN bins b2 ON b2.doc_id = d.doc_id AND b2.bin = bb.range
         |  GROUP BY 1),
         |sc AS (SELECT p.doc_id AS probe_id, c.doc_id AS vec_id,
         |    list_cosine_similarity(c.v, p.v) AS sim
         |  FROM vecs p JOIN vecs c ON c.doc_id <> p.doc_id
         |  WHERE p.doc_id < 5)
         |SELECT probe_id, vec_id,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY sim DESC, vec_id) AS BIGINT) AS rk,
         |  round(sim, 4) + 0 AS sim_r
         |FROM sc QUALIFY rk <= 5
         |""".stripMargin))
}
