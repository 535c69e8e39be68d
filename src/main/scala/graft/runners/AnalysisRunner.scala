package graft.runners

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{array, coalesce, col, count, explode, lit, struct, sum}
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
  * merge without touching the data. A frequency state is stored as runs
  * with each frequency-based analyzer's fused slot values, so appending a
  * day touches only the day's keys: the fused aggregation over the fresh
  * table (plus its key range), one lookup of the day's keys in just the
  * stored runs whose key range can hold them (none for a day of new
  * keys), and one write of the fresh table as a new run, shared by the
  * family — state I/O grows with the day, not with the history. Families
  * whose metric needs the whole table (MutualInformation, Histogram) sum
  * the stored table with the fresh one before the aggregation. The fresh
  * table is cached for these passes and released before `run` returns.
  * Nothing else touches the data.
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

  /** One frequency table serves the whole (columns, where) family, and
    * the family shares one state. Slot 0 of the family's fused
    * aggregation F is numRows = SUM(count) — the row count under the same
    * (non-null keys AND where) filters as the table itself, the reference
    * numRows semantics with no extra scan — and every further slot is a
    * frequency-based member's (reference capability:
    * runners/AnalysisRunner.scala:218-234, 574-578).
    *
    * Without a stored state, F runs over the day's fresh table. When
    * every member is frequency-based and has its slot values stored
    * (`sums`), the append touches only the day's keys: new slots = stored
    * + F(new counts of the touched keys) − F(old counts of the touched
    * keys), the old counts looked up null-safely in only those stored
    * runs whose key range can hold a key of the day — pruned on the
    * driver from the runs' recorded ranges, so a day of new keys reads no
    * stored row at all. When that lookup would read every stored run and
    * they hold no more keys than the day, the whole table is merged and
    * persisted as one run instead (see `appended`). Otherwise
    * (MutualInformation, Histogram, a member with no stored slots) F and
    * every metric run over the whole table, the stored table summed with
    * the fresh one by key, and the fresh table is persisted as a new run.
    *
    * The fresh table is cached when a second pass over it follows (a
    * persist, a stored state, a non-frequency-based member) and released
    * before this returns; a persist writes it once for the family.
    */
  private def runGroupingFamily(
      data: DataFrame,
      analyzers: Seq[GroupingAnalyzer[_ <: Metric[_]]],
      aggregateWith: Option[StateLoader],
      saveStatesWith: Option[StatePersister]): Seq[(AnyAnalyzer, Metric[_])] = {

    val head = analyzers.head
    val freqBased = analyzers.collect { case f: FrequencyBasedAnalyzer => f }
    // aggregation expressions are numRows-independent (numRows only feeds
    // the decode step), so 0 is a safe placeholder while building them
    val slots = freqBased.map(_.aggregationFunctionsOverFrequencies(0L))
    val aggs = coalesce(sum(col(FrequenciesAndNumRows.COUNT_COL)), lit(0L)) +: slots.flatten
    val offsets = slots.map(_.length).scanLeft(1)(_ + _)
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      cached += df
      df
    }
    def fused(table: DataFrame): Row = table.agg(aggs.head, aggs.tail: _*).collect().head
    try {
      val loaded = aggregateWith.toSeq.flatMap(l => analyzers.flatMap(l.load(_)))
      val computed = FrequenciesAndNumRows.computeFrequenciesOnly(
        data, head.groupingColumns, head.where)
      val fresh =
        if (saveStatesWith.nonEmpty || loaded.nonEmpty || freqBased.size < analyzers.size) {
          cache(computed)
        } else computed

      val stored = loaded.headOption
      val storedSums = loaded.flatMap(_.sums).toMap
      val appendable = stored.exists { s =>
        freqBased.size == analyzers.size && loaded.size == analyzers.size &&
          loaded.forall(sameTable(_, s)) &&
          freqBased.zip(slots).forall { case (f, fs) => storedSums.get(f).exists(_.size == fs.size) }
      }
      val (view, row, runs) = stored match {
        case None => (fresh, fused(fresh), Nil)
        case Some(s) =>
          val view = FrequenciesAndNumRows.summed(Seq(s.frequencies, fresh))
          val delta =
            if (appendable) appended(s, s.numRows +: freqBased.flatMap(storedSums), fresh, aggs)
            else None
          delta match {
            case Some(slotValues) => (view, Row.fromSeq(slotValues), s.runs)
            case None =>
              // the whole table: persisted as one run when the append
              // path chose it, otherwise with the fresh table as a new run
              if ((appendable && saveStatesWith.nonEmpty) || freqBased.size < analyzers.size) {
                cache(view)
              }
              (view, fused(view), if (appendable) Nil else s.runs)
          }
      }
      // slot values are kept only when they are all sums the next append
      // can add to
      val sums: Map[AnyAnalyzer, Seq[Any]] = freqBased.zip(offsets).zip(slots)
        .map { case ((f, o), s) => f -> row.toSeq.slice(o, o + s.size) }
        .collect { case (f, v) if v.forall(x => x.isInstanceOf[Long] || x.isInstanceOf[Double]) =>
          f -> v
        }.toMap
      val state = FrequenciesAndNumRows(view, row.getLong(0), runs, Some(fresh), sums)
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

  /** Whether two members' loaded states hold the same table. */
  private def sameTable(a: FrequenciesAndNumRows, b: FrequenciesAndNumRows): Boolean =
    a.numRows == b.numRows &&
      (if (a.runs.nonEmpty || b.runs.nonEmpty) a.runs == b.runs
       else a.frequencies eq b.frequencies)

  /** The fused slot values `before` of `stored` after appending `fresh`:
    * before + F(new counts of the touched keys) − F(old counts of the
    * touched keys). Stored runs are pruned by key range first when the
    * key has one; with no run left every key of the day is new, and the
    * delta is F(fresh). None when the lookup would read every stored run
    * and they hold no more keys than the day's table: merging and
    * rewriting the whole table then costs no more than the day, and it
    * leaves one run for the next lookup (a key set that stops growing,
    * such as a category, would otherwise add a run to read per append).
    */
  private def appended(
      stored: FrequenciesAndNumRows,
      before: Seq[Any],
      fresh: DataFrame,
      aggs: Seq[Column]): Option[Seq[Any]] = {
    val rangeAggs = KeyRange.aggregates(fresh.schema).getOrElse(Nil)
    // F over the day's keys, their number and their key range
    lazy val freshRow = {
      val all = aggs ++ (count(lit(1)) +: rangeAggs)
      fresh.agg(all.head, all.tail: _*).collect().head
    }
    lazy val freshRange = KeyRange.fromRow(freshRow, aggs.size + 1)
    val live = stored.runs.filter(_.rows > 0)
    lazy val candidates =
      live.filter(r => rangeAggs.isEmpty || r.range.forall(_.overlaps(freshRange)))
    if (stored.runs.isEmpty) Some(lookedUp(before, fresh, stored.frequencies, aggs))
    else if (candidates.isEmpty) Some(before.zip(freshRow.toSeq).map { case (b, d) => plus(b, d, 1) })
    else if (candidates.size == live.size && live.map(_.rows).sum <= freshRow.getLong(aggs.size)) None
    else Some(lookedUp(before, fresh,
      FrequencyRuns.read(fresh.sparkSession, stored.frequencies.schema, candidates), aggs))
  }

  /** `before` + F(new counts) − F(old counts) of the keys of `fresh`,
    * their old counts summed (null-safely, by `groupBy`) from `old`.
    */
  private def lookedUp(
      before: Seq[Any],
      fresh: DataFrame,
      old: DataFrame,
      aggs: Seq[Column]): Seq[Any] = {
    import FrequenciesAndNumRows.COUNT_COL
    val keys = FrequenciesAndNumRows.keyColumns(fresh).map(col)
    val (f, s) = ("graft_fresh", "graft_side")
    val touched = fresh.select(keys :+ col(COUNT_COL).as(f) :+ lit(0L).as(COUNT_COL): _*)
      .unionByName(old.select(keys :+ lit(0L).as(f) :+ col(COUNT_COL): _*))
      .groupBy(keys: _*)
      .agg(sum(col(f)).as(f), sum(col(COUNT_COL)).as(COUNT_COL))
      .where(col(f) > 0)
    // each touched key once with its new count (side 1) and, if it was
    // stored, once with its old count (side -1)
    val sides = touched
      .select(keys :+ explode(array(
        struct(lit(1).as(s), (col(f) + col(COUNT_COL)).as(COUNT_COL)),
        struct(lit(-1).as(s), col(COUNT_COL).as(COUNT_COL)))).as("graft_e"): _*)
      .select(keys :+ col(s"graft_e.$s") :+ col(s"graft_e.$COUNT_COL"): _*)
      .where(col(s) === 1 || col(COUNT_COL) > 0)
      .groupBy(s).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r.toSeq.tail).toMap
    before.indices.map { i =>
      Seq(1, -1).foldLeft(before(i))((v, side) => sides.get(side).fold(v)(d => plus(v, d(i), side)))
    }
  }

  /** a + sign * b for two slot values of one kind (Long or Double). */
  private def plus(a: Any, b: Any, sign: Int): Any = (a, b) match {
    case (x: Long, y: Long) => x + sign * y
    case (x: Double, y: Double) => x + sign * y
    case _ => throw new IllegalStateException(s"slot values $a and $b are not sums")
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
