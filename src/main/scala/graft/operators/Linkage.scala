package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.NumFunctions

/** Probabilistic record linkage (Fellegi & Sunter, JASA 1969) — the
  * classic decision theory for STRUCTURED-record dedup, where identity
  * is argued from several weak fields at once rather than one strong
  * text similarity: each compared field contributes a likelihood-ratio
  * factor (agreement on a rare value is strong evidence; disagreement
  * on a noisy field is weak counter-evidence), and the product ranks
  * candidate pairs into match / possible / non-match bands. The
  * structured-record counterpart of the text near-dup family
  * ([[Dedup.sortedNeighborhoodPairs]] supplies bounded candidates for
  * text; here the caller's blocking keys do).
  */
object Linkage {

  /** A non-negative DECIMAL as a Long, saturating at `Long.MaxValue`:
    * `longValue()` alone keeps only the low 64 bits of a larger value,
    * which can wrap negative.
    */
  private[graft] def saturatingLong(d: java.math.BigDecimal): Long =
    if (d.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) > 0) Long.MaxValue
    else d.longValue()

  /** Pre-flight blocking profile: per block key, the record count and
    * the candidate-pair count `n·(n−1)/2` that
    * [[fellegiSunterScores]] would generate, plus each block's share
    * of the total pair work — the skew scan run BEFORE a linkage pass
    * (the [[Corpus.heavyHitters]] discipline applied to blocked
    * pairers): Σ block² is the linkage's real cost, and one oversized
    * block dominates it long before the total row count looks scary.
    * Sorted by pair count descending so the first rows ARE the
    * decision: refine the block key, or proceed.
    *
    * One partial-aggregating collapse to block counts; pair counts in
    * DECIMAL(38,0) (n² at any scale); the total joins in as one
    * broadcast scalar. A NULL-keyed block reports its record count
    * with `n_pairs = 0` — the equi-join in [[fellegiSunterScores]]
    * never matches null keys, so those records genuinely generate no
    * pairs, but the dirty rows stay visible in the profile.
    */
  def blockProfile(records: DataFrame, blockCols: Seq[String]): DataFrame = {
    require(blockCols.nonEmpty, "need at least one blocking column")
    val nullKey = blockCols.map(col(_).isNull).reduce(_ || _)
    val counts = records.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("n_records"))
      .withColumn("n_pairs", when(nullKey, lit(0).cast(d38))
        .otherwise((col("n_records").cast(d38) *
          (col("n_records") - 1).cast(d38) / 2).cast(d38)))
    val total = counts.agg(
      greatest(sum(col("n_pairs")), lit(1).cast(d38)).as("__tot"))
    counts.crossJoin(broadcast(total))
      .select(blockCols.map(col) :+ col("n_records") :+
        col("n_pairs").cast("long").as("n_pairs") :+
        NumFunctions.roundNz(col("n_pairs").cast("double") /
          col("__tot").cast("double"), 6).as("pair_share"): _*)
      .orderBy(col("n_pairs").desc +: blockCols.map(col): _*)
  }

  private val d38 = DecimalType(38, 0)

  /** Fellegi-Sunter match scoring over blocked candidate pairs.
    *
    * For each field `j`, the likelihood ratio uses:
    *  - `m_j` (P[fields agree | same entity]) — supplied by the caller
    *    in parts-per-million (from a labeled sample or prior, the
    *    standard practice when no EM fit is run);
    *  - `u_j` (P[fields agree | different entities]) — ESTIMATED from
    *    the data itself as the random-pair agreement probability
    *    `u_j = Σ_v f_v(f_v − 1) / (N(N − 1))` over the field's value
    *    frequencies (Fellegi-Sunter §3.3.1's frequency method).
    * A pair's score is the product of per-field factors, `m_j/u_j` on
    * agreement and `(1−m_j)/(1−u_j)` on disagreement — reported as the
    * ODDS rather than the traditional log-weight sum, so the whole
    * computation stays in products of exactly-derived doubles: every
    * numerator and denominator is an exact DECIMAL(38,0) integer
    * (`m·N(N−1)` vs `1e6·S_j`), each factor is ONE IEEE division, the
    * product folds in fixed field order, and the only rounding is at
    * the edge. No logarithm anywhere — nothing transcendental for an
    * engine to disagree on. Degenerate fields are Laplace-clamped:
    * `S_j = 0` (no value repeats — agreement between non-matches
    * "impossible") and `S_j = N(N−1)` (field constant — disagreement
    * "impossible") clamp the zero side to 1, keeping factors finite.
    *
    * Field agreement is NULL-SAFE equality (two missing values agree —
    * document the fields accordingly). Decisions compare the ROUNDED
    * odds against the thresholds (the [[Eval.mcnemarGate]] convention):
    * `odds_r ≥ upper → match`, `odds_r ≤ lower → nonmatch`, else
    * `possible` — the middle band is exactly the pairs Fellegi-Sunter
    * sends to clerical review.
    *
    * Scale shape: the u-estimation is one value-frequency aggregation
    * per field (each a partial-aggregating shuffle collapsing to one
    * scalar row, cross-joined into a single broadcast stats row);
    * candidate generation is a self-equi-join on the blocking key with
    * an id total order (`id_a < id_b`), so cost is Σ block², which the
    * CALLER bounds by choosing block keys with bounded classes — the
    * documented contract of every blocked pairer here (q206's
    * sorted-neighborhood window is the alternative when no natural
    * bounded key exists). That contract is now ENFORCED, not assumed:
    * the same per-block counts [[blockProfile]] prices are checked
    * before the pairer runs, and one block exceeding
    * `maxPairsPerBlock` candidate pairs fails fast with the worst
    * block's size in the message — a null-heavy or constant block key
    * is a near-cartesian self-join that no downstream stage can
    * recover from, and the failure must name the block BEFORE the
    * shuffle, not OOM inside it. Escape hatch: pass
    * `maxPairsPerBlock = Long.MaxValue` to run a deliberately heavy
    * block (e.g. a one-off backfill where the cost is priced and
    * accepted via [[blockProfile]]). NOTE this call is EAGER: at
    * plan-CONSTRUCTION time it (a) `localCheckpoint`s the projected
    * comparison surface — block keys + compared fields + id, a
    * metadata-width row at any corpus scale — so the gate, the
    * u-estimation, and both self-join sides read ONE materialization
    * instead of re-running the caller's upstream pipeline up to seven
    * times (localCheckpoint, not persist: a fresh invocation always
    * recomputes from source — no CacheManager plan matching can serve
    * a previous run's rows); (b) runs the gate's `.head()`; and (c)
    * evaluates every per-field agreement/disagreement factor ONCE with
    * the engine's own DECIMAL(38,0) arithmetic and inlines the
    * resulting doubles as literals — the scored pairs then pay one
    * double multiply per field instead of per-row decimal products
    * and divisions (the factors depend only on the corpus-level stats
    * row, never on the pair, so the values are bit-identical to the
    * former per-row evaluation). Scoring itself is row-local
    * projection over the pairs; nothing windows, nothing collects.
    *
    * Returns `(id_a, id_b, agree_<field>…, odds_r, decision)`.
    */
  def fellegiSunterScores(records: DataFrame, idCol: String,
                          blockCols: Seq[String], fieldCols: Seq[String],
                          mPpm: Seq[Long], upper: Double,
                          lower: Double,
                          maxPairsPerBlock: Long = 10000000L): DataFrame = {
    require(blockCols.nonEmpty, "need at least one blocking column")
    require(maxPairsPerBlock >= 1,
      s"maxPairsPerBlock must be >= 1, got $maxPairsPerBlock")
    require(fieldCols.nonEmpty && fieldCols.size <= 8,
      s"need 1..8 comparison fields, got ${fieldCols.size}")
    require(mPpm.size == fieldCols.size,
      s"need one m per field: ${fieldCols.size} fields, ${mPpm.size} m values")
    require(mPpm.forall(m => m >= 1 && m <= 999999),
      s"m must be in [1, 999999] ppm, got $mPpm")
    require(lower <= upper, s"thresholds out of order: $lower > $upper")

    // ONE materialization of the projected comparison surface (see
    // scaladoc): every downstream pass — gate, u-estimation, both
    // self-join sides — reads this instead of the caller's pipeline
    val recs = records
      .select((blockCols ++ fieldCols :+ idCol).distinct.map(col): _*)
      .localCheckpoint(true)

    // one scalar stats row: N and each field's repeat-pair sum S_j
    val nRow = recs.agg(count(lit(1)).cast(d38).as("__n"))
    val stats = fieldCols.zipWithIndex
      .map { case (f, j) =>
        recs.groupBy(col(f)).agg(count(lit(1)).as("__f"))
          .agg(coalesce(sum(col("__f").cast(d38) *
            (col("__f") - 1).cast(d38)), lit(0).cast(d38)).as(s"__s$j"))
      }
      .foldLeft(nRow)((acc, s) => acc.crossJoin(s))

    // pre-flight pair-volume gate: the worst block's n(n−1)/2 from the
    // same counts blockProfile reports, checked before the self-join —
    // and (round 19) the TOTAL pair volume from the same one-pass
    // aggregate, which sizes the scoring parallelism below
    var totalPairs = -1L
    if (maxPairsPerBlock != Long.MaxValue) {
      val nullKey = blockCols.map(col(_).isNull).reduce(_ || _)
      val worst = recs.filter(!nullKey)
        .groupBy(blockCols.map(col): _*)
        .agg(count(lit(1)).as("__nb"))
        .agg(max(struct((col("__nb").cast(d38) * (col("__nb") - 1)
          .cast(d38) / 2).cast(d38).as("p"),
          to_json(struct(blockCols.map(col): _*)).as("k"))).as("w"),
          sum((col("__nb").cast(d38) * (col("__nb") - 1)
            .cast(d38) / 2).cast(d38)).as("__tot"))
        .select(col("w.p"), col("w.k"), col("__tot")).head()
      if (!worst.isNullAt(0)) {
        val pairsWorst = worst.getDecimal(0)
        require(pairsWorst.compareTo(
            new java.math.BigDecimal(maxPairsPerBlock)) <= 0,
          s"block ${worst.getString(1)} would generate $pairsWorst candidate " +
            s"pairs (> maxPairsPerBlock = $maxPairsPerBlock): refine the " +
            "blocking key (run blockProfile for the full ranking) or pass " +
            "maxPairsPerBlock = Long.MaxValue to accept the cost explicitly")
        totalPairs = saturatingLong(worst.getDecimal(2))
      }
    }

    // the self-join EXPANDS (Σ n·(n−1)/2 pairs from N records), so a
    // narrow comparison surface must be pre-partitioned by the block
    // key to the pair volume, not its input bytes — the join then
    // reuses the partitioning (zero extra exchanges) and the scoring
    // projection runs wide. One partition per ~64 k pairs, clamped to
    // the cluster; a wide real-scale input (parts ≥ target) is left
    // untouched. Values are partitioning-independent (row-local
    // scoring, exact integer/double chain).
    val parallelism = records.sparkSession.sparkContext.defaultParallelism
    val target = if (totalPairs > 0)
      math.min(parallelism.toLong, totalPairs / 65536L + 1L).toInt else 1
    val recsWide = if (target > recs.rdd.getNumPartitions)
      recs.repartition(target, blockCols.map(col): _*) else recs

    // candidate pairs: block-key self-join under an id total order
    val left = recsWide.select(
      (blockCols.map(col) ++ fieldCols.map(col)) :+ col(idCol).as("id_a"): _*)
    val right = recsWide.select(
      (blockCols.map(col) ++
        fieldCols.map(f => col(f).as(s"${f}__b"))) :+ col(idCol).as("id_b"): _*)
    val pairs = left.join(right, blockCols)
      .filter(col("id_a") < col("id_b"))

    // the per-field factors depend ONLY on the stats row — evaluate
    // them once through the engine's own decimal arithmetic (identical
    // values to the former per-row evaluation) and inline as literals
    val nn1 = col("__n") * (col("__n") - 1)
    val factorRow = stats.select(fieldCols.indices.flatMap { j =>
      val s = col(s"__s$j")
      val fa = (lit(mPpm(j)).cast(d38) * nn1).cast("double") /
        (lit(1000000L).cast(d38) * greatest(s, lit(1).cast(d38)))
          .cast("double")
      val fd = (lit(1000000L - mPpm(j)).cast(d38) * nn1).cast("double") /
        (lit(1000000L).cast(d38) * greatest(nn1 - s, lit(1).cast(d38)))
          .cast("double")
      Seq(fa.as(s"__fa$j"), fd.as(s"__fd$j"))
    }: _*).head()
    val odds = fieldCols.zipWithIndex.map { case (f, j) =>
      when(col(f) <=> col(s"${f}__b"), lit(factorRow.getDouble(2 * j)))
        .otherwise(lit(factorRow.getDouble(2 * j + 1)))
    }.reduce(_ * _)

    pairs
      .withColumn("odds_r", NumFunctions.roundNz(odds, 6))
      .withColumn("decision",
        when(col("odds_r") >= upper, lit("match"))
          .when(col("odds_r") <= lower, lit("nonmatch"))
          .otherwise(lit("possible")))
      .select(Seq(col("id_a"), col("id_b")) ++
        fieldCols.map(f => (col(f) <=> col(s"${f}__b")).as(s"agree_$f")) ++
        Seq(col("odds_r"), col("decision")): _*)
  }
}
