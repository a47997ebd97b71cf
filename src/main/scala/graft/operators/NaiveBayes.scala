package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Trained multinomial Naive Bayes over hashed bag-of-words features
  * (McCallum & Nigam, "A Comparison of Event Models for Naive Bayes
  * Text Classification", AAAI-98; the linear-classifier family fastText
  * made standard for language ID, Joulin et al. 2017): per-class
  * token-bucket likelihoods with add-one smoothing, class priors from
  * document counts, prediction by argmax of the fixed-point
  * log-posterior. The LEARNED counterpart of the q19 character-n-gram
  * language-ID heuristic: where q19 ships rules, this trains on the
  * labeled corpus itself.
  *
  * Determinism contract (the [[QualityClassifier]] / [[Corpus]] DSIR
  * recipe): buckets are md5-prefix hashes (exact on any engine); each
  * class's per-bucket log-likelihood and log-prior are frozen ONCE into
  * integer 1e-6 units (double computed with a fixed operation order,
  * half-away-from-zero), so per-document class scores are pure BIGINT
  * sums and the argmax — ties broken by class name — replays
  * identically on every engine, partitioning, and rerun.
  *
  * Scale shape: ONE token-scale partial-aggregated shuffle builds every
  * class histogram at once ((K·dim)-bounded output) plus one K-row doc
  * count; the driver holds K·dim + K counters (metadata scale). Scoring
  * is then a ROW-LOCAL projection — the token array folds against each
  * class's score-map literal, zero exchanges at any corpus size — and
  * the argmax is an `array_min` over K structs per row. Nothing
  * doc-scale reaches the driver, and the scoring pass drops into a
  * streaming query unchanged (the [[QualityClassifier.scoreRowWise]]
  * contract).
  */
object NaiveBayes {

  /** A trained model: frozen 1e6-unit log-probability maps, driver
    * metadata sized K·dim longs.
    */
  final case class NbModel(classes: Seq[String], prior: Map[String, Long],
                           su: Map[String, Map[Long, Long]])

  /** Train the multinomial NB model on `docs`' (`labelCol`,
    * `textCol`): one (K·dim)-bounded histogram pass + one class-count
    * pass, Laplace smoothing, scores frozen into 1e6 units.
    */
  def nbTrain(docs: DataFrame, textCol: String, labelCol: String,
              dim: Int = 128): NbModel = {
    require(dim >= 2 && dim <= 65536,
      s"dim must be in [2, 65536] (score maps are plan literals), got $dim")
    import graft.operators.QualityClassifier.featureBucket
    // tokens() is an interpreted HOF chain — spread a narrow
    // single-file scan so the per-doc work parallelizes (q215 lesson)
    val toks = Similarity.spreadIfNarrow(
        docs.select(col(labelCol).as("label"), col(textCol)),
        computeWeight = 512)
      .select(col("label"), TextFunctions.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) > 0 && col("label").isNotNull)

    // every class histogram in ONE pass; (K·dim)-bounded result
    val hist: Map[(String, Long), Long] = toks
      .select(col("label"), explode(col("__tk")).as("__tok"))
      .select(col("label"), featureBucket(col("__tok"), dim).as("j"))
      .groupBy(col("label"), col("j")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nByClass: Map[String, Long] = toks.groupBy(col("label"))
      .agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val classes = nByClass.keys.toSeq.sorted
    require(classes.nonEmpty, "no labeled documents with tokens to train on")
    val tokTot: Map[String, Long] = classes.map(c =>
      c -> hist.collect { case ((cc, _), n) if cc == c => n }.sum).toMap
    val nDocs = nByClass.valuesIterator.sum

    // frozen unit scores: identical operation order in the oracle —
    // double division of exact longs, ln, ×1e6, half-away-from-zero
    def units(x: Double): Long = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue
    val su: Map[String, Map[Long, Long]] = classes.map { c =>
      c -> (0L until dim.toLong).map { j =>
        j -> units(math.log(
          (hist.getOrElse((c, j), 0L) + 1).toDouble / (tokTot(c) + dim).toDouble))
      }.toMap
    }.toMap
    val prior: Map[String, Long] = classes.map { c =>
      c -> units(math.log(
        (nByClass(c) + 1).toDouble / (nDocs + classes.size).toDouble))
    }.toMap
    NbModel(classes, prior, su)
  }

  /** [[nbTrain]] built once per (session application, `key`, params)
    * ([[graft.Memo]]) — the prediction query and its evaluation report
    * share one training run per session instead of silently retraining.
    */
  def nbTrainCached(key: String, docs: DataFrame, textCol: String,
                    labelCol: String, dim: Int = 128): NbModel =
    graft.Memo.inApp(docs.sparkSession, "NaiveBayes.nbTrain", key, textCol,
      labelCol, dim)(nbTrain(docs, textCol, labelCol, dim))

  /** Score every document under a trained model — map-side only
    * (per-class plan-literal folds, argmax over K structs). Returns
    * `(id, label, pred, correct)` over documents with ≥ 1 token and a
    * non-null label.
    */
  def nbApply(docs: DataFrame, idCol: String, textCol: String,
              labelCol: String, model: NbModel, dim: Int = 128): DataFrame = {
    import graft.operators.QualityClassifier.featureBucket
    // the per-class score folds are interpreted `aggregate` HOFs —
    // spread narrow scans before the per-doc work (q215 lesson)
    val toks = Similarity.spreadIfNarrow(
        docs.select(col(idCol).as("id"), col(labelCol).as("label"),
          col(textCol)),
        computeWeight = 512)
      .select(col("id"), col("label"),
        TextFunctions.tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) > 0 && col("label").isNotNull)
    val scored = toks.select(col("id") +: col("label") +: model.classes.map { c =>
      (lit(model.prior(c)) + aggregate(col("__tk"), lit(0L), (acc, t) =>
        acc + coalesce(
          element_at(typedlit(model.su(c)), featureBucket(t, dim)), lit(0L))))
        .as(s"__z_$c")
    }: _*)
    // argmax with deterministic ties: min over (−z, class) structs
    val pick = array_min(array(model.classes.map(c =>
      struct((-col(s"__z_$c")).as("nz"), lit(c).as("c"))): _*))
    scored
      .select(col("id"), col("label"), pick.getField("c").as("pred"))
      .withColumn("correct", col("label") === col("pred"))
  }

  /** Train on `docs` and predict every document's class in one call
    * ([[nbTrain]] + [[nbApply]]). Pass `cacheKey` to memoize the
    * trained model per session ([[nbTrainCached]]).
    */
  def nbClassify(docs: DataFrame, idCol: String, textCol: String,
                 labelCol: String, dim: Int = 128,
                 cacheKey: Option[String] = None): DataFrame = {
    val model = cacheKey match {
      case Some(k) => nbTrainCached(k, docs, textCol, labelCol, dim)
      case None    => nbTrain(docs, textCol, labelCol, dim)
    }
    nbApply(docs, idCol, textCol, labelCol, model, dim)
  }
}
