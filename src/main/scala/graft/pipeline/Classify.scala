package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-based quality classification — the GPT-3/LLaMA/DCLM pipeline
  * step that trains a lightweight text classifier on labeled seed sets
  * (e.g. curated-reference vs random-web) and scores the whole corpus,
  * keeping documents the model judges reference-like. The classifier
  * here is multinomial Naive Bayes with additive (Lidstone) smoothing:
  * closed-form, deterministic, and exactly replayable from integer
  * count aggregates — no SGD state, no initialization order.
  *
  * Scale shape: TRAINING runs on the seed set (labeled data is small by
  * construction — it's hand-curated), one tokenize + one groupBy; the
  * model is a catalog-sized (term × class) log-probability table.
  * SCORING is the corpus-sized pass: one tokenize into (doc, term, tf),
  * a BROADCAST join against the model (the corpus never shuffles for
  * the lookup), and one map-side-combinable groupBy(doc, class) summing
  * `tf · log P(term|class)`. The per-doc class ranking collects C
  * structs per document (C = number of classes, 2-5 in practice) —
  * bounded by the label alphabet, never by the corpus.
  *
  * Out-of-vocabulary corpus terms are IGNORED (the standard multinomial
  * NB convention: the event space is the training vocabulary); training
  * terms unseen in a class get the smoothed floor `alpha / (tokens_c +
  * alpha·V)`. Tokenization is [[TextAnalysis.normalizedTokens]] — the
  * repo's one lowercased tokenizer, shared with the LM scorers.
  *
  * reference capability: none (deequ has no classifier); part of the
  * beyond-reference LLM-pipeline family (SURVEY §2 pipeline block).
  */
object Classify {

  /** A trained NB model: `termLogProb` = (term, label, log_cond) for
    * EVERY training-vocabulary term × class (dense, so scoring needs no
    * per-class OOV bookkeeping), `classLogPrior` = (label, log_prior),
    * plus the vocabulary size and smoothing used.
    */
  final case class NbModel(
      termLogProb: DataFrame,
      classLogPrior: DataFrame,
      vocabSize: Long,
      alpha: Double) {
    /** Frees every [[CacheLifecycle.truncate]] cut `termLogProb` reads
      * (for a [[modelFromCounts]] model: the pivoted counts it derives
      * from); call this when done with the model. The model is unusable
      * afterwards: those blocks cannot be recomputed, so scoring with a
      * released model fails.
      */
    def release(): Unit = CacheLifecycle.releaseCutsUnder(termLogProb)
  }

  /** The model's sufficient statistics — plain integer counts, so the
    * state is a commutative monoid under [[mergeCounts]] (the deequ
    * state-algebra convention: train per shard/day, merge, derive the
    * model once): `termCounts` = (term, label, cnt) token counts,
    * `classDocs` = (label, docs). Integer merge means
    * `counts(A ∪ B) == merge(counts(A), counts(B))` EXACTLY, and the
    * derived model is bit-identical either way.
    */
  final case class NbCountState(termCounts: DataFrame, classDocs: DataFrame)

  /** A featurizer turns (df, idCol, textCol) into the slim
    * (idCol, term, tf) frame NB trains and scores on. The default is
    * word tokens ([[TextAnalysis.termFrequencies]]); [[LangId]] plugs in
    * char n-grams for fastText-style language identification. The term
    * column must be StringType.
    */
  type Featurizer = (DataFrame, String, String) => DataFrame

  /** Sufficient statistics of `labeled` for NB training — one tokenize
    * pass + two map-side-combinable groupBys on the seed set.
    */
  def countState(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String): NbCountState =
    countState(labeled, idCol, textCol, labelCol,
      TextAnalysis.termFrequencies)

  def countState(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      featurizer: Featurizer): NbCountState = {
    // null-id rows are dropped HERE, not only inside termFrequencies —
    // otherwise they would count toward the priors (classDocs) while
    // contributing zero token mass, skewing posteriors toward the class
    // that lost its ids
    val rows = labeled
      .where(col(labelCol).isNotNull && col(idCol).isNotNull)
    val termCounts = featurizer(rows, idCol, textCol)
      .join(rows.select(col(idCol), col(labelCol).as("label")), Seq(idCol))
      .groupBy(col("label"), col("term"))
      .agg(sum(col("tf")).as("cnt"))
    val classDocs = rows.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("docs"))
    NbCountState(termCounts, classDocs)
  }

  /** Persist a count state to parquet — the incremental-production shape
    * (the q76 LshState / q43 HdfsStateProvider convention applied to the
    * classifier): a daily seed refresh trains ONLY its shard's state,
    * merges with the persisted history via [[mergeCounts]], writes back,
    * and re-derives the model from counts — no retraining over all
    * history, and the integer-count monoid makes the result EXACTLY the
    * full-retrain model. Two slim tables: (term, label, cnt) and
    * (label, docs).
    */
  def writeCountState(state: NbCountState, path: String): Unit = {
    state.termCounts.select(col("term"), col("label"), col("cnt"))
      .write.mode("overwrite").parquet(s"$path/term_counts")
    state.classDocs.select(col("label"), col("docs"))
      .write.mode("overwrite").parquet(s"$path/class_docs")
  }

  def readCountState(spark: SparkSession, path: String): NbCountState =
    NbCountState(
      spark.read.parquet(s"$path/term_counts"),
      spark.read.parquet(s"$path/class_docs"))

  /** Monoid merge of two count states: union + integer sum.
    * Associative, commutative, with the empty state as identity.
    */
  def mergeCounts(a: NbCountState, b: NbCountState): NbCountState =
    NbCountState(
      a.termCounts.unionByName(b.termCounts)
        .groupBy(col("label"), col("term"))
        .agg(sum(col("cnt")).as("cnt")),
      a.classDocs.unionByName(b.classDocs)
        .groupBy(col("label"))
        .agg(sum(col("docs")).as("docs")))

  /** Derive the smoothed model from a count state: `log P(term|class)` =
    * `ln((count + alpha) / (class_tokens + alpha·V))` with V = the
    * vocabulary across ALL classes; `log P(class)` = `ln(docs_c /
    * total_docs)`.
    *
    * Two actions, each reading its input once: a collect of the C class
    * rows of `classDocs` (labels, doc counts, the total), then ONE lineage
    * cut ([[CacheLifecycle.truncate]]) of the counts pivoted to one row
    * per term with one count column per label. V and the per-class token
    * totals are observed while that cut materializes, so `termLogProb`
    * derives from the cut's leaf as a projection and `classLogPrior` is a
    * local relation: no later plan re-reads the counts or the seed.
    * The table stays dense — every vocabulary term × every class, a
    * class whose seed docs carry no token included (it gets the floor
    * `alpha/(alpha·V)` on every term).
    */
  def modelFromCounts(state: NbCountState, alpha: Double = 1.0): NbModel = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val classDocs = state.classDocs
      .select(col("label"), col("docs").cast(LongType).as("graft_docs"))
    val classRows = classDocs.collect()
    val total = classRows.iterator.map(_.getLong(1)).sum
    // an empty seed set would otherwise flow ln(x/0) = NaN/-Inf priors
    // silently into every downstream score — fail fast like the alpha
    // guard above
    require(total > 0,
      "modelFromCounts needs a non-empty training state (total seed docs = 0)")
    val labels = classRows.map(_.get(0)).toIndexedSeq
    val cntCols = labels.indices.map(i => s"graft_c$i")
    val counted = Observation()
    val perLabel = labels.zip(cntCols).map { case (l, c) =>
      sum(when(col("label") === lit(l), col("cnt"))).as(c) }
    val wide = CacheLifecycle.truncate(state.termCounts
      .groupBy(col("term"))
      .agg(perLabel.head, perLabel.tail: _*)
      .observe(counted, count(lit(1)).as("graft_v"),
        cntCols.map(c => coalesce(sum(col(c)), lit(0L)).as(c)): _*))
    val stats = counted.get
    val v = stats("graft_v").asInstanceOf[Long]
    val termLogProb = wide.select(col("term"), inline(array(
      labels.zip(cntCols).map { case (l, c) =>
        struct(lit(l).as("label"),
          log((coalesce(col(c), lit(0L)) + lit(alpha)) /
            (lit(stats(c).asInstanceOf[Long]) + lit(alpha) * lit(v.toDouble)))
            .as("log_cond"))
      }: _*)))
    val classLogPrior = classDocs.sparkSession
      .createDataFrame(java.util.Arrays.asList(classRows: _*), classDocs.schema)
      .select(col("label"),
        log(col("graft_docs").cast(DoubleType) / lit(total.toDouble))
          .as("log_prior"))
    NbModel(termLogProb, classLogPrior, v, alpha)
  }

  /** [[countState]] + [[modelFromCounts]] in one call. */
  def trainNaiveBayes(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      alpha: Double = 1.0): NbModel =
    modelFromCounts(countState(labeled, idCol, textCol, labelCol), alpha)

  def trainNaiveBayes(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      alpha: Double,
      featurizer: Featurizer): NbModel =
    modelFromCounts(
      countState(labeled, idCol, textCol, labelCol, featurizer), alpha)

  /** Score `df` against a trained model: one row per (non-null-id)
    * document with `predicted` (highest posterior, ties broken by
    * ascending label so the result is a pure function of the data),
    * `score` (the winning log posterior) and `margin` (winner minus
    * runner-up; +Infinity for a single-class model). Documents with no
    * in-vocabulary token are still classified — by priors alone.
    */
  def scoreNaiveBayes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: NbModel): DataFrame =
    scoreNaiveBayes(df, idCol, textCol, model, TextAnalysis.termFrequencies)

  def scoreNaiveBayes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: NbModel,
      featurizer: Featurizer): DataFrame = {
    val tf = featurizer(df, idCol, textCol)
    val contrib = tf
      .join(broadcast(model.termLogProb), Seq("term"))
      .select(col(idCol), col("label"),
        (col("tf") * col("log_cond")).as("graft_part"))
    // the prior rides in as one seed row per (doc, class) through the
    // SAME aggregation — no (doc, class)-keyed join of two corpus-sized
    // frames ever happens (an earlier left-outer formulation sort-merged
    // the corpus twice; the plan audit pins this shape now). Seed rows
    // also carry OOV-only and empty docs to a priors-only score.
    // distinct: one prior seed per DOCUMENT, not per input row — a
    // duplicate-id input (re-crawls, join fan-out) would otherwise fold
    // k·log_prior into the posterior and silently flip predictions
    // whenever priors are unequal
    val seeds = df.where(col(idCol).isNotNull)
      .select(col(idCol)).distinct()
      .crossJoin(broadcast(model.classLogPrior))
      .select(col(idCol), col("label"), col("log_prior").as("graft_part"))
    val perClass = contrib.unionByName(seeds)
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("graft_part")).as("graft_score"))
    // C structs per doc (C = class count) — bounded by the label
    // alphabet; sort ascending on (-score, label) so element 0 is the
    // winner with the deterministic tie-break
    perClass
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(
        (-col("graft_score")).as("n"), col("label").as("l")))).as("graft_r"))
      .select(
        col(idCol),
        col("graft_r")(0).getField("l").as("predicted"),
        (-col("graft_r")(0).getField("n")).as("score"),
        when(size(col("graft_r")) > 1,
          col("graft_r")(1).getField("n") - col("graft_r")(0).getField("n"))
          .otherwise(lit(Double.PositiveInfinity)).as("margin"))
  }

  /** The filter step: rows of `df` the model assigns `keepLabel` with at
    * least `minMargin` of log-posterior headroom over the runner-up.
    * One broadcast-model scoring pass + a slim id-keyed join.
    */
  def filterByClassifier(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: NbModel,
      keepLabel: String,
      minMargin: Double = 0.0): DataFrame = {
    val kept = scoreNaiveBayes(df, idCol, textCol, model)
      .where(col("predicted") === keepLabel && col("margin") >= minMargin)
      .select(col(idCol))
    df.join(kept, Seq(idCol))
  }
}
