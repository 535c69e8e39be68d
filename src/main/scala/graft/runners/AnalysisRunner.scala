package graft.runners

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.core._
import graft.operators._
import graft.sketch.KLLSketchAnalyzer

/** Computed metrics keyed by analyzer
  * (reference capability: runners/AnalyzerContext.scala:29-43).
  */
case class AnalyzerContext(metricMap: Map[AnyAnalyzer, Metric[_]]) {

  def metric(analyzer: AnyAnalyzer): Option[Metric[_]] = metricMap.get(analyzer)

  def ++(other: AnalyzerContext): AnalyzerContext =
    AnalyzerContext(metricMap ++ other.metricMap)

  def allMetrics: Seq[Metric[_]] = metricMap.values.toSeq
}

object AnalyzerContext {
  def empty: AnalyzerContext = AnalyzerContext(Map.empty)

  /** Successful double-valued metrics as a (entity, instance, name, value)
    * DataFrame, optionally restricted to some analyzers (reference
    * capability: runners/AnalyzerContext.successMetricsAsDataFrame).
    */
  def successMetricsAsDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      context: AnalyzerContext,
      forAnalyzers: Seq[AnyAnalyzer] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = selected(context, forAnalyzers).toSeq.collect {
      case (_, DoubleMetric(entity, name, instance, scala.util.Success(value), _)) =>
        Row(entity.repr, instance, name, value)
    }
    val schema = StructType(Seq(
      StructField("entity", StringType, nullable = false),
      StructField("instance", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Same selection as JSON (reference capability:
    * runners/AnalyzerContext.successMetricsAsJson).
    */
  def successMetricsAsJson(
      context: AnalyzerContext,
      forAnalyzers: Seq[AnyAnalyzer] = Seq.empty): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val entries = selected(context, forAnalyzers).toSeq.collect {
      case (_, DoubleMetric(entity, name, instance, scala.util.Success(value), _)) =>
        ("entity" -> entity.repr) ~ ("instance" -> instance) ~
          ("name" -> name) ~ ("value" -> value)
    }
    JsonMethods.compact(JsonMethods.render(entries))
  }

  private def selected(
      context: AnalyzerContext,
      forAnalyzers: Seq[AnyAnalyzer]): Map[AnyAnalyzer, Metric[_]] =
    if (forAnalyzers.isEmpty) context.metricMap
    else context.metricMap.view.filterKeys(forAnalyzers.contains).toMap
}

/** The engine's "optimizer": fuses all scan-shareable analyzers into ONE
  * wide aggregation (one pass over the data, partial + final hash-agg by
  * Catalyst) and shares one frequency table per (groupingColumns, where)
  * across all grouping analyzers
  * (reference capability: runners/AnalysisRunner.scala:101-247,350-380).
  *
  * Batch and incremental runs are one pipeline: every analyzer family
  * yields a fresh [[State]] per analyzer, and one finisher loads the
  * stored state (`aggregateWith`), merges, persists the merged state
  * (`saveStatesWith`) and renders the metric from it — a batch run is the
  * merge with the empty state (reference capability:
  * analyzers/Analyzer.scala:126-147).
  *
  * Scale design: for N analyzers over 100 TB a run issues exactly
  *   1 scan (all fused aggregates, map-side partial aggregation)
  * + 1 scan per distinct WHERE among the KLL sketches
  * + 1 shuffle per distinct grouping (columns, where) key, whose ONE fused
  *   aggregation over the (distinct-keys-only) frequency table yields the
  *   row count and every frequency-based metric
  * + each standalone analyzer's own plan (Histogram, CustomSql, ...).
  * An incremental run reads the new data exactly as often. Loaded states
  * merge without touching the data, except frequency tables: the stored
  * table is outer-joined with the fresh one before that same aggregation,
  * and a table that is persisted is cached for the aggregation and written
  * from the cache — one write per persisted table, no re-run of the
  * groupBy. The cache is released before `run` returns. Nothing else
  * touches the data.
  */
object AnalysisRunner {

  private type Typed = Analyzer[State[_], Metric[_]]
  private type FreshStates = Seq[(AnyAnalyzer, Try[Option[State[_]]])]

  def onData(data: DataFrame): AnalysisRunBuilder = new AnalysisRunBuilder(data)

  /** Computes `analyzers` over `data`. With `aggregateWith`, each fresh
    * state is merged with the state loaded from it, so the metrics cover
    * the earlier data too without rescanning it; with `saveStatesWith`,
    * the merged states are persisted for the next run (reference
    * capability: analyzers/Analyzer.scala:126-166).
    */
  def run(
      data: DataFrame,
      analyzers: Seq[AnyAnalyzer],
      aggregateWith: Option[StateLoader] = None,
      saveStatesWith: Option[StatePersister] = None): AnalyzerContext = {

    val distinct = analyzers.distinct
    if (distinct.isEmpty) return AnalyzerContext.empty
    val incremental = aggregateWith.nonEmpty || saveStatesWith.nonEmpty

    // 1. precondition short-circuit: failing analyzers become failure
    //    metrics without running any job
    //    (reference capability: runners/AnalysisRunner.scala:143-152)
    val checked = distinct.map(a => a -> Try(checkAdmissible(a, data.schema, incremental)))
    val passed = checked.collect { case (a, Success(_)) => a }
    val failed = checked.collect { case (a, Failure(e)) => a -> (a.toFailureMetric(e): Metric[_]) }

    // 2. partition the surviving analyzers by execution strategy
    val grouping = passed.collect { case g: GroupingAnalyzer[_] => g }
    val scanShareable = passed.collect {
      case s: AnyScanAnalyzer if !s.isInstanceOf[GroupingAnalyzer[_]] => s
    }
    val kll = passed.collect { case k: KLLSketchAnalyzer => k }
    val standalone = passed.filterNot(a =>
      grouping.contains(a) || scanShareable.contains(a) || kll.contains(a))

    // 3. fresh states: ONE fused scan, one pass per KLL WHERE, and a
    //    standalone computation for everything else (Histogram, CustomSql,
    //    metadata analyzers), each finished the same way
    val fresh: FreshStates =
      scanStates(data, scanShareable) ++
        kll.groupBy(_.where).values.flatMap(kllStates(data, _)) ++
        standalone.map(a => a -> Try(a.asInstanceOf[Typed].computeStateFrom(data)))
    val finished = fresh.map { case (a, state) =>
      a -> finish(a, aggregateWith.toSeq, saveStatesWith)(state.get)
    }

    // 4. one frequency table per (groupingColumns.sorted, where), shared
    val groupingMetrics = grouping.groupBy(_.groupingKey).values
      .flatMap(runGroupingFamily(data, _, aggregateWith, saveStatesWith))

    AnalyzerContext((failed ++ finished ++ groupingMetrics).toMap)
  }

  /** Preconditions, plus the refusal of HistogramBinned in incremental
    * runs: its state is not mergeable BY DESIGN (bin edges are
    * data-dependent), and a current-batch-only number mixed into
    * cumulative metrics is exactly the corruption the persist-side guard
    * exists to prevent — fail LOUDLY instead.
    */
  private def checkAdmissible(
      analyzer: AnyAnalyzer,
      schema: StructType,
      incremental: Boolean): Unit = {
    analyzer.preconditions.foreach(_(schema))
    if (incremental && analyzer.isInstanceOf[HistogramBinned]) {
      throw new IllegalArgumentException(
        "HistogramBinned state is not mergeable across runs " +
          "(bin edges are data-dependent) — it cannot " +
          "participate in aggregateWith/saveStatesWith " +
          "incremental runs; compute it per batch instead")
    }
  }

  /** Load → merge → persist → render for one analyzer. Only NonFatal
    * errors (including one raised while computing `fresh`) become failure
    * metrics — an OutOfMemoryError must surface, not masquerade as a
    * failed check.
    */
  private def finish(
      analyzer: AnyAnalyzer,
      loaders: Seq[StateLoader],
      saveStatesWith: Option[StatePersister])(fresh: => Option[State[_]]): Metric[_] = {
    val typed = analyzer.asInstanceOf[Typed]
    try {
      val merged = (fresh +: loaders.map(_.load(typed))).flatten
        .reduceOption((s1, s2) => s1.mergeUntyped(s2).asInstanceOf[State[_]])
      merged.foreach(m => saveStatesWith.foreach(_.persist[State[_]](typed, m)))
      typed.computeMetricFrom(merged)
    } catch {
      case NonFatal(e) => analyzer.toFailureMetric(e)
    }
  }

  /** No scan at all: load states from N providers, merge pairwise, render
    * metrics (reference capability: runners/AnalysisRunner.scala:466-541).
    */
  def runOnAggregatedStates(
      analyzers: Seq[AnyAnalyzer],
      stateLoaders: Seq[StateLoader],
      saveStatesWith: Option[StatePersister] = None): AnalyzerContext =
    AnalyzerContext(analyzers.distinct.map(a =>
      a -> finish(a, stateLoaders, saveStatesWith)(None)).toMap)

  /** Heavy per-row aggregations (exact-percentile buffers, per-row regex
    * type inference, KLL sketch updates) are dominated by per-row CPU, not
    * scan I/O — the shared [[graft.core.Parallelism.floor]] guard applies
    * (see its scaladoc for the sizing rationale).
    */
  private[graft] def ensureParallelism(data: DataFrame): DataFrame =
    graft.core.Parallelism.floor(data)

  /** All scan-shareable analyzers → one `df.agg(...)`; each analyzer
    * decodes its state from its slice of the single result row via offsets.
    */
  private def scanStates(rawData: DataFrame, analyzers: Seq[AnyScanAnalyzer]): FreshStates = {
    if (analyzers.isEmpty) return Seq.empty
    try {
      // per-row-CPU-bound aggregations get cluster-wide parallelism even on
      // degenerate scan layouts; pure-I/O aggregate families never pay the
      // extra exchange
      val hasHeavy = analyzers.exists {
        case _: SharedPercentiles => true
        case _: DataTypeAnalyzer => true
        // per-row KLL-udaf sketch updates are exactly the CPU-bound case
        // ensureParallelism documents
        case _: ApproxQuantile => true
        case _: ApproxQuantiles => true
        case _ => false
      }
      val data = if (hasHeavy) ensureParallelism(rawData) else rawData
      // executor-memory guard BEFORE the scan: exact-percentile buffers
      // over budget are routed elsewhere (one cheap count job across all
      // keys, only when such analyzers are present — see
      // ExactQuantileGuard). It reads rawData, not the repartitioned view:
      // the guard job and the fused agg are separate actions, so the
      // parallelize exchange is not reused between them — the HLL estimate
      // is cheap enough per row that rerunning the shuffle for it would
      // cost more than it saves
      val over = ExactQuantileGuard.overBudget(rawData,
        analyzers.collect { case s: SharedPercentiles => s })
      val (guarded, runnable) = analyzers.partition {
        case s: SharedPercentiles => over.contains(s.percentileKey)
        case _ => false
      }
      def percentiles(a: AnyScanAnalyzer) = a.asInstanceOf[SharedPercentiles]
      // over-budget exact percentiles run as a distributed selection (every
      // stage bounded by partition size, not column cardinality) instead of
      // the single in-buffer `percentile` aggregate — ONE selection per
      // (column, where) key serves all its quantile analyzers. None (no
      // rows after null/where filtering) is the same empty state the
      // in-buffer percentile's null result decodes to; a selection error
      // surfaces as itself, not as the budget-exceeded advice
      val guardedStates: FreshStates = guarded.groupBy(percentiles(_).percentileKey).toSeq
        .flatMap { case ((column, where), as) =>
          val byQ = Try(DistributedExactQuantile.percentiles(rawData, column, where,
            as.flatMap(percentiles(_).requestedQuantiles).distinct))
          as.map(a => a -> byQ.map(_.map(percentiles(a).stateFromQuantiles)))
        }
      if (runnable.isEmpty) guardedStates
      else {
        // fuse exact-percentile requests per (column, where): all quantiles
        // on a column share ONE percentile buffer (Catalyst dedups the
        // identical aggregate), instead of one full value buffer per quantile
        val quantilesByKey: Map[(String, Option[String]), Seq[Double]] = runnable
          .collect { case s: SharedPercentiles => s }
          .groupBy(_.percentileKey)
          .map { case (k, ss) => k -> ss.flatMap(_.requestedQuantiles).distinct.sorted }
        def aggsFor(a: AnyScanAnalyzer): Seq[Column] = a match {
          case s: SharedPercentiles => s.aggregationFunctionsFused(quantilesByKey(s.percentileKey))
          case other => other.aggregationFunctions()
        }
        val aggregations = runnable.flatMap(aggsFor)
        val offsets = runnable.map(aggsFor(_).length).scanLeft(0)(_ + _)
        val row: Row = data.agg(aggregations.head, aggregations.tail: _*).collect().head
        guardedStates ++ runnable.zip(offsets).map { case (a, offset) =>
          a -> Try(a.fromAggregationResult(row, offset): Option[State[_]])
        }
      }
    } catch {
      case NonFatal(_) =>
        // one malformed aggregation must not poison the whole fused scan:
        // degrade to per-analyzer states so only the offender fails
        // (fatal JVM errors propagate — retrying in a corrupted JVM or
        // rebranding an OOM as a failure metric hides the real condition)
        analyzers.map(a => a -> Try(a.computeStateFrom(rawData): Option[State[_]]))
    }
  }

  /** All KLL sketches with the same WHERE share ONE pass with per-column
    * updaters (reference capability: runners/KLLRunner.scala:89-177); if
    * that pass fails, each sketch is computed alone so one bad column does
    * not fail the others.
    */
  private def kllStates(data: DataFrame, group: Seq[KLLSketchAnalyzer]): FreshStates =
    Try(KLLSketchAnalyzer.computeSketches(data, group)) match {
      case Success(states) => group.zip(states.map(Success(_)))
      case Failure(_) => group.map(a => a -> Try(a.computeStateFrom(data)))
    }

  /** One frequency table serves the whole (columns, where) family. The
    * family shares one state: the fresh table is merged with the stored
    * table of the first member that has one (the reference loads its
    * sample analyzer's), ONE fused aggregation over the merged table
    * yields numRows plus every frequency-based metric, and the merged
    * table is persisted under every member. The table is cached only when
    * a second pass over it follows — a persist or a non-frequency-based
    * analyzer (reference capability: runners/AnalysisRunner.scala:218-234,
    * 574-578) — and released before this returns.
    */
  private def runGroupingFamily(
      data: DataFrame,
      analyzers: Seq[GroupingAnalyzer[_ <: Metric[_]]],
      aggregateWith: Option[StateLoader],
      saveStatesWith: Option[StatePersister]): Seq[(AnyAnalyzer, Metric[_])] = {

    val head = analyzers.head
    val freqBased = analyzers.collect { case f: FrequencyBasedAnalyzer => f }
    var cached: Option[DataFrame] = None
    try {
      val fresh = FrequenciesAndNumRows.computeFrequenciesOnly(
        data, head.groupingColumns, head.where)
      val loaded = aggregateWith.flatMap(loader =>
        analyzers.iterator.flatMap(loader.load(_)).nextOption())
      val frequencies = loaded.fold(fresh)(l => FrequenciesAndNumRows.sumCounts(fresh, l.frequencies))
      if (saveStatesWith.nonEmpty || freqBased.size < analyzers.size) {
        frequencies.persist(StorageLevel.MEMORY_AND_DISK)
        cached = Some(frequencies)
      }

      // slot 0 of the fused agg derives numRows = SUM(count): the family's
      // row count under the same (non-null keys AND where) filters as the
      // frequencies themselves — reference numRows semantics, no extra scan.
      // Aggregation expressions are numRows-independent (numRows only feeds
      // the decode step), so 0 is a safe placeholder while building them
      val aggs = coalesce(sum(col(FrequenciesAndNumRows.COUNT_COL)), lit(0L)) +:
        freqBased.flatMap(_.aggregationFunctionsOverFrequencies(0L))
      val offsets = freqBased.map(_.aggregationFunctionsOverFrequencies(0L).length)
        .scanLeft(1)(_ + _)
      val row = frequencies.agg(aggs.head, aggs.tail: _*).collect().head
      val state = FrequenciesAndNumRows(frequencies, row.getLong(0))
      val offsetOf = freqBased.zip(offsets).toMap

      analyzers.map { a =>
        val metric: Metric[_] =
          try {
            saveStatesWith.foreach(_.persist(a, state))
            a match {
              case f: FrequencyBasedAnalyzer => f.metricFromRow(row, offsetOf(f), state.numRows)
              case other => other.computeMetricFrom(Some(state))
            }
          } catch {
            case NonFatal(e) => a.toFailureMetric(e)
          }
        (a: AnyAnalyzer) -> metric
      }
    } catch {
      case NonFatal(e) => analyzers.map(a => (a: AnyAnalyzer) -> (a.toFailureMetric(e): Metric[_]))
    } finally {
      cached.foreach(_.unpersist(blocking = true))
    }
  }
}

/** Fluent builder (reference capability: runners/AnalysisRunBuilder.scala,
  * incl. the WithRepository / WithSparkSession variants — folded into one
  * builder here since Scala phantom-builder ceremony buys nothing).
  */
class AnalysisRunBuilder(data: DataFrame) {
  private var analyzers: Seq[AnyAnalyzer] = Seq.empty
  private var repository: Option[graft.repository.MetricsRepository] = None
  private var reuseKey: Option[graft.repository.ResultKey] = None
  private var failIfResultsMissing: Boolean = false
  private var saveKey: Option[graft.repository.ResultKey] = None
  private var stateLoader: Option[graft.core.StateLoader] = None
  private var statePersister: Option[graft.core.StatePersister] = None
  private var outputSession: Option[org.apache.spark.sql.SparkSession] = None
  private var overwriteFiles: Boolean = false
  private var successMetricsPath: Option[String] = None

  def addAnalyzer(analyzer: AnyAnalyzer): AnalysisRunBuilder = {
    analyzers = analyzers :+ analyzer
    this
  }

  def addAnalyzers(more: Seq[AnyAnalyzer]): AnalysisRunBuilder = {
    analyzers = analyzers ++ more
    this
  }

  def useRepository(repo: graft.repository.MetricsRepository): AnalysisRunBuilder = {
    repository = Some(repo)
    this
  }

  /** Skip analyzers whose metrics are already stored under `key`; with
    * `failIfResultsMissing`, fail unless the stored result covers every
    * analyzer.
    */
  def reuseExistingResultsForKey(
      key: graft.repository.ResultKey,
      failIfResultsMissing: Boolean = false): AnalysisRunBuilder = {
    reuseKey = Some(key)
    this.failIfResultsMissing = failIfResultsMissing
    this
  }

  /** Merge the run's metrics into anything already stored under `key`
    * (new metrics win on conflict).
    */
  def saveOrAppendResult(key: graft.repository.ResultKey): AnalysisRunBuilder = {
    saveKey = Some(key)
    this
  }

  /** Merge freshly computed states with states from this provider
    * (incremental analysis over growing data).
    */
  def aggregateWith(loader: graft.core.StateLoader): AnalysisRunBuilder = {
    stateLoader = Some(loader)
    this
  }

  /** Persist the (merged) states for future incremental runs. */
  def saveStatesWith(persister: graft.core.StatePersister): AnalysisRunBuilder = {
    statePersister = Some(persister)
    this
  }

  def useSparkSession(session: org.apache.spark.sql.SparkSession): AnalysisRunBuilder = {
    outputSession = Some(session)
    this
  }

  def overwritePreviousFiles(overwrite: Boolean): AnalysisRunBuilder = {
    overwriteFiles = overwrite
    this
  }

  def saveSuccessMetricsJsonToPath(path: String): AnalysisRunBuilder = {
    successMetricsPath = Some(path)
    this
  }

  def run(): AnalyzerContext = {
    val distinct = analyzers.distinct
    val cached = RunResults.reused(repository, reuseKey, failIfResultsMissing, distinct)
    val computed = AnalysisRunner.run(data, distinct.filterNot(cached.contains),
      aggregateWith = stateLoader, saveStatesWith = statePersister)
    val context = AnalyzerContext(cached ++ computed.metricMap)
    RunResults.saveOrAppend(repository, saveKey, context.metricMap)
    successMetricsPath.foreach(path => RunResults.writeJson(
      outputSession.getOrElse(data.sparkSession), path, overwriteFiles,
      AnalyzerContext.successMetricsAsJson(context)))
    context
  }
}
