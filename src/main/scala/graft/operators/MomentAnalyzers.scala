package graft.operators

import scala.util.Success

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.core.Analyzers._
import graft.core.Preconditions._

/** Base for the moment family. The fused scan uses Spark's built-in
  * central-moment aggregates (stable, codegen'd, single pass); the decoded
  * values are re-expressed as a mergeable [[MomentsState]] so incremental
  * state persistence works without a custom UDAF (replaces the reference's
  * catalyst/StatefulStdDevPop.scala:24 etc. with built-ins — SURVEY §7.3).
  */
abstract class MomentAnalyzer(metricName: String, column: String, where: Option[String])
    extends DoubleResultScanAnalyzer[MomentsState](metricName, column) {

  override def preconditions: Seq[StructType => Unit] =
    hasColumn(column) :: isNumeric(column) :: Nil

  protected def selection: Column = conditionalSelection(col(column), where).cast(DoubleType)

  override def aggregationFunctions(): Seq[Column] = Seq(
    count(selection).cast(DoubleType),
    avg(selection),
    var_pop(selection),
    skewness(selection),
    kurtosis(selection))

  override def fromAggregationResult(result: Row, offset: Int): Option[MomentsState] = {
    val n = doubleAt(result, offset).getOrElse(0.0)
    if (n == 0.0) return None
    val mean = doubleAt(result, offset + 1).getOrElse(return None)
    val m2 = doubleAt(result, offset + 2).map(_ * n).getOrElse(0.0)
    // invert Spark's g1 / excess-kurtosis formulas to recover raw moments
    val m3 = doubleAt(result, offset + 3)
      .filterNot(_.isNaN)
      .map(sk => sk * math.sqrt(m2 * m2 * m2) / math.sqrt(n))
      .getOrElse(0.0)
    val m4 = doubleAt(result, offset + 4)
      .filterNot(_.isNaN)
      .map(k => (k + 3.0) * m2 * m2 / n)
      .getOrElse(0.0)
    Some(MomentsState(n, mean, m2, m3, m4))
  }

  protected def metricFromMoments(m: MomentsState): Double

  override protected def valueFromState(state: MomentsState): Double =
    metricFromMoments(state)
}

/** Population standard deviation (reference capability:
  * analyzers/StandardDeviation.scala:47). */
case class StandardDeviation(column: String, where: Option[String] = None)
    extends MomentAnalyzer("StandardDeviation", column, where) {
  override protected def metricFromMoments(m: MomentsState): Double = m.stdDevPop
}

/** Population variance (reference capability: analyzers/Variance.scala:47). */
case class Variance(column: String, where: Option[String] = None)
    extends MomentAnalyzer("Variance", column, where) {
  override protected def metricFromMoments(m: MomentsState): Double = m.variancePop
}

/** Skewness (reference capability: analyzers/Skewness.scala:62). */
case class Skewness(column: String, where: Option[String] = None)
    extends MomentAnalyzer("Skewness", column, where) {
  override protected def metricFromMoments(m: MomentsState): Double = m.skewness
}

/** Excess kurtosis (reference capability: analyzers/Kurtosis.scala:68). */
case class Kurtosis(column: String, where: Option[String] = None)
    extends MomentAnalyzer("Kurtosis", column, where) {
  override protected def metricFromMoments(m: MomentsState): Double = m.kurtosis
}

/** Pearson correlation of two columns with mergeable co-moment state
  * (reference capability: analyzers/Correlation.scala:65).
  */
case class Correlation(firstColumn: String, secondColumn: String, where: Option[String] = None)
    extends StandardScanShareableAnalyzer[CorrelationState]("Correlation",
      s"$firstColumn,$secondColumn", Entity.Multicolumn) {

  override def preconditions: Seq[StructType => Unit] = Seq(
    hasColumn(firstColumn), isNumeric(firstColumn),
    hasColumn(secondColumn), isNumeric(secondColumn))

  // pairwise-complete selection: a value only counts when BOTH are non-null
  private def sel(c: String, other: String): Column =
    conditionalSelection(when(col(other).isNotNull, col(c)), where).cast(DoubleType)

  override def aggregationFunctions(): Seq[Column] = {
    val x = sel(firstColumn, secondColumn)
    val y = sel(secondColumn, firstColumn)
    Seq(count(x).cast(DoubleType), avg(x), avg(y), covar_pop(x, y), var_pop(x), var_pop(y))
  }

  override def fromAggregationResult(result: Row, offset: Int): Option[CorrelationState] = {
    val n = doubleAt(result, offset).getOrElse(0.0)
    if (n == 0.0) return None
    for {
      xAvg <- doubleAt(result, offset + 1)
      yAvg <- doubleAt(result, offset + 2)
      ck <- doubleAt(result, offset + 3)
      xMk <- doubleAt(result, offset + 4)
      yMk <- doubleAt(result, offset + 5)
    } yield CorrelationState(n, xAvg, yAvg, ck * n, xMk * n, yMk * n)
  }
}

/** Exact percentile via Spark's built-in `percentile`; state is
  * intentionally non-mergeable (reference capability:
  * analyzers/ExactQuantile.scala:42).
  */
/** Analyzers whose aggregation is exact percentiles over one column: the
  * runner unions all requested quantiles per (column, where) into ONE
  * `percentile(col, array(qs))` and each analyzer reads its values via
  * `element_at`. Every exact-percentile aggregate buffers the whole
  * column's value counts — sharing the buffer across N quantile analyzers
  * divides that memory and update cost by N. Catalyst deduplicates the
  * semantically-equal aggregate functions into a single buffer.
  */
trait SharedPercentiles { self: ScanShareableAnalyzer[_, _] =>
  def column: String
  def where: Option[String]
  def requestedQuantiles: Seq[Double]

  /** Aggregation slots given the fused quantile list for this (col, where). */
  def aggregationFunctionsFused(allQs: Seq[Double]): Seq[Column] = {
    val combined = percentile(
      conditionalSelection(col(column), where), array(allQs.map(lit): _*))
    requestedQuantiles.map(q => element_at(combined, allQs.indexOf(q) + 1))
  }

  /** State from already-computed exact quantile values — the
    * [[DistributedExactQuantile]] route for over-budget columns.
    */
  def stateFromQuantiles(byQuantile: Map[Double, Double]): ExactQuantileState =
    ExactQuantileState(requestedQuantiles.map(byQuantile), name)

  final def percentileKey: (String, Option[String]) = (column, where)
}

/** Executor-memory guard for the exact-percentile family: Spark's built-in
  * `percentile` buffers one (value, count) map entry per DISTINCT value of
  * the column in one aggregation buffer, so a high-cardinality column at
  * 100x scale is a genuine OOM risk the plan itself cannot bound (the
  * reference has the identical exposure and no guard). Before the fused
  * scan runs, the distinct values each percentile buffer would hold are
  * estimated (HLL sketch at 2% rsd) in ONE cheap job across all keys;
  * any (column, where) over [[maxBufferedValues]] is routed to
  * [[DistributedExactQuantile]] — same exact answer, every stage bounded
  * by partition size instead of column cardinality — rather than running
  * through the single fused buffer. A 100M-row column with 50 distinct
  * status codes passes untouched — only cardinality, not row count, costs
  * buffer memory. Set [[maxBufferedValues]] to 0 to disable the guard
  * (and its estimation job).
  */
object ExactQuantileGuard {

  /** 20M distinct doubles ~ 1 GB of open-hash (value, count) entries per
    * buffer — past a sane executor budget once a few columns run together.
    */
  @volatile var maxBufferedValues: Long = 20L * 1000 * 1000

  class BudgetExceededException(message: String)
      extends MetricCalculationException(message)

  /** (column, where) keys whose estimated distinct-value count exceeds the
    * budget. One aggregation job for ALL keys; no job when the guard is
    * disabled or no percentile analyzers are present. The HLL estimate is
    * compared against the budget with a 5% safety margin so sketch error
    * cannot wave a truly-over-budget column through.
    */
  def overBudget(
      data: org.apache.spark.sql.DataFrame,
      percentiles: Seq[SharedPercentiles]): Map[(String, Option[String]), Long] = {
    val limit = maxBufferedValues
    if (limit <= 0 || percentiles.isEmpty) return Map.empty
    val keys = percentiles.map(_.percentileKey).distinct
    def estimate(k: (String, Option[String])) =
      // explicit 2% rsd: the default 5% would exceed the guard's own 5%
      // safety margin about once per 1-sigma underestimate
      approx_count_distinct(conditionalSelection(col(k._1), k._2), rsd = 0.02)
    val counts = data.agg(estimate(keys.head), keys.tail.map(estimate): _*)
      .collect().head
    keys.zipWithIndex.collect {
      case (k, i) if counts.getLong(i) > limit * 0.95 => k -> counts.getLong(i)
    }.toMap
  }

  def failure(key: (String, Option[String]), buffered: Long): Throwable =
    new BudgetExceededException(
      s"Exact percentile on column '${key._1}'${key._2.map(w => s" (where $w)").getOrElse("")} " +
        s"would buffer ~$buffered distinct values in a single aggregation " +
        s"buffer (limit: ${maxBufferedValues}). Use ApproxQuantile/" +
        "ApproxQuantiles (mergeable KLL sketch, bounded memory, ~1% rank " +
        "error) or raise ExactQuantileGuard.maxBufferedValues.")
}

/** Exact percentiles as a distributed selection, for columns whose
  * cardinality would blow the in-buffer `percentile` aggregate (see
  * [[ExactQuantileGuard]]). Three bounded stages:
  *
  *   1. `groupBy(value).count()` — a hash aggregation with map-side
  *      partials, so the shuffle carries one row per DISTINCT value, and
  *      `repartitionByRange(value)` + `sortWithinPartitions` — a range
  *      shuffle of that frequency table, giving globally-ordered,
  *      size-balanced partitions (Spark samples range bounds).
  *   2. One pass collecting per-partition count sums (K longs to the
  *      driver, K = shuffle partitions) → prefix sums locate which
  *      partition owns each target rank.
  *   3. One pass over ONLY the owning partitions, re-reading and
  *      re-sorting their range-shuffle output (nothing is cached; see
  *      [[graft.pipeline.Ranking.prefixScan]]) and walking the sorted run
  *      to the local ranks — emits ≤ 2 values per requested quantile.
  *
  * No stage buffers more than one partition of distinct values; memory is
  * bounded by partition size, not column cardinality, so a multi-billion-
  * distinct-value column at 100 TB holds. Results match Spark's built-in
  * `percentile` bit-for-bit on doubles (same `pos = q*(n-1)` continuous
  * interpolation; values compared after the same cast to double).
  */
object DistributedExactQuantile {

  /** Partition owning global rank k (0-based) under prefix-sum `offsets`
    * (length K+1): the i with offsets(i) <= k < offsets(i+1) AND a
    * non-zero row count. Empty range partitions (routine when distinct
    * values < shuffle partitions) repeat offset values, and
    * `Arrays.binarySearch` makes no guarantee WHICH duplicate an exact
    * hit returns — a rank landing on a repeated boundary could otherwise
    * be routed to an empty partition that never emits it in the rank
    * walk. After the search, advance past any zero-width partitions to
    * the first one actually covering k.
    */
  private[graft] def ownerOf(offsets: Array[Long], k: Long): Int = {
    val hit = java.util.Arrays.binarySearch(offsets, k)
    var i = if (hit >= 0) hit else -(hit + 1) - 1
    while (offsets(i + 1) <= k) i += 1
    i
  }

  /** @return quantile → exact value, or None when no rows survive
    *         null/where filtering (matching `percentile`'s null result).
    */
  def percentiles(
      data: DataFrame,
      column: String,
      where: Option[String],
      qs: Seq[Double]): Option[Map[Double, Double]] = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0))
    val freq = data
      .select(conditionalSelection(col(column), where).cast(DoubleType).as("graft_v"))
      .where(col("graft_v").isNotNull) // NaN kept: sorts last, as in `percentile`
      .groupBy("graft_v").agg(count(lit(1)).as("graft_c"))
    def positions(n: Long) = qs.map(q => q * (n - 1))
    // stage 2: K per-partition count sums → rank offsets → partition →
    // (rank offset, sorted local ranks to extract)
    val ((n, _), found) = graft.pipeline.Ranking.prefixScan(freq, Seq(col("graft_v")))(
      it => it.foldLeft(0L)(_ + _.getLong(1)))(
      partTotals => {
        val n = partTotals.sum
        val offsets = partTotals.scanLeft(0L)(_ + _) // ranks before partition i
        val ranks =
          if (n == 0) Nil
          else positions(n).flatMap(p => Seq(math.floor(p).toLong, math.ceil(p).toLong)).distinct
        (n, ranks.groupBy(k => ownerOf(offsets, k))
          .map { case (p, ks) => p -> (offsets(p), ks.map(_ - offsets(p)).sorted) })
      }) { (i, prefix, it) =>
      // stage 3: walk only owning partitions to their local ranks
      prefix._2.get(i) match {
        case None => Iterator.empty
        case Some((rankOffset, localRanks)) =>
          val want = localRanks.iterator.buffered
          val out = Seq.newBuilder[(Long, Double)]
          var cum = 0L
          while (want.hasNext && it.hasNext) {
            val r = it.next()
            cum += r.getLong(1)
            while (want.hasNext && want.head < cum) {
              out += ((rankOffset + want.next(), r.getDouble(0))) // keyed by GLOBAL rank
            }
          }
          out.result().iterator
      }
    }
    if (n == 0) None
    else {
      val valueAt: Map[Long, Double] = found.collect().toMap
      Some(qs.zip(positions(n)).map { case (q, p) =>
        val lo = valueAt(math.floor(p).toLong)
        val hi = valueAt(math.ceil(p).toLong)
        // Mirror the built-in `percentile`'s interpolation exactly: exact
        // ranks return the value itself, fractional ranks use the
        // two-sided weighted form. The one-sided lo + f*(hi - lo) algebra
        // turns infinite neighbors into NaN (Inf - Inf) where the
        // weighted form — and Spark — propagate the infinity.
        q -> (if (lo == hi) lo
              else (math.ceil(p) - p) * lo + (p - math.floor(p)) * hi)
      }.toMap)
    }
  }
}

case class ExactQuantile(column: String, quantile: Double, where: Option[String] = None)
    extends DoubleResultScanAnalyzer[ExactQuantileState]("ExactQuantile", column)
    with SharedPercentiles {

  require(quantile >= 0.0 && quantile <= 1.0, "quantile must be in [0, 1]")

  override def preconditions: Seq[StructType => Unit] =
    hasColumn(column) :: isNumeric(column) :: Nil

  override def requestedQuantiles: Seq[Double] = Seq(quantile)

  override def aggregationFunctions(): Seq[Column] =
    percentile(conditionalSelection(col(column), where), lit(quantile)) :: Nil

  // standalone path routes over-budget columns through the same
  // distributed selection as the fused runner
  override def computeStateFrom(data: DataFrame): Option[ExactQuantileState] = {
    if (ExactQuantileGuard.overBudget(data, Seq(this)).nonEmpty) {
      DistributedExactQuantile.percentiles(data, column, where, Seq(quantile))
        .map(stateFromQuantiles)
    } else super.computeStateFrom(data)
  }

  override def fromAggregationResult(result: Row, offset: Int): Option[ExactQuantileState] =
    doubleAt(result, offset).map(v => ExactQuantileState(Seq(v), name))

  override protected def valueFromState(state: ExactQuantileState): Double =
    state.values.head
}

/** Approximate quantile with a MERGEABLE serialized-sketch state: the
  * fused-scan slot aggregates a KLL sketch (graft.sketch.KLLAggregator),
  * so the state unions losslessly across partitions/days/shards and
  * participates in `aggregateWith`/`runOnAggregatedStates`/persistence —
  * unlike `percentile_approx`, whose digest Spark never exposes
  * (reference capability: analyzers/ApproxQuantile.scala:50 +
  * catalyst/StatefulApproxQuantile.scala:29-125).
  */
case class ApproxQuantile(column: String, quantile: Double,
    relativeError: Double = 0.01, where: Option[String] = None)
    extends DoubleResultScanAnalyzer[graft.sketch.KLLState]("ApproxQuantile", column) {

  require(quantile >= 0.0 && quantile <= 1.0, "quantile must be in [0, 1]")

  override def preconditions: Seq[StructType => Unit] =
    hasColumn(column) :: isNumeric(column) :: Nil

  override def aggregationFunctions(): Seq[Column] =
    graft.sketch.KLLAggregator.sketchBytes(
      conditionalSelection(col(column), where).cast(DoubleType),
      graft.sketch.KLLAggregator.sketchSizeFor(relativeError)) :: Nil

  override def fromAggregationResult(result: Row, offset: Int): Option[graft.sketch.KLLState] =
    graft.sketch.KLLAggregator.stateAt(result, offset)

  override protected def valueFromState(state: graft.sketch.KLLState): Double =
    state.sketch.quantile(quantile)
}

/** Many approximate quantiles from ONE mergeable sketch state, keyed
  * metric output (reference capability: analyzers/ApproxQuantiles.scala:39).
  * Shares its aggregation slot with same-parameter [[ApproxQuantile]]s via
  * Catalyst's semantic aggregate dedup.
  */
case class ApproxQuantiles(column: String, quantiles: Seq[Double],
    relativeError: Double = 0.01, where: Option[String] = None)
    extends ScanShareableAnalyzer[graft.sketch.KLLState, KeyedDoubleMetric] {

  val name = "ApproxQuantiles"
  val entity: Entity = Entity.Column
  val instance: String = column

  override def preconditions: Seq[StructType => Unit] =
    hasColumn(column) :: isNumeric(column) :: Nil

  override def aggregationFunctions(): Seq[Column] =
    graft.sketch.KLLAggregator.sketchBytes(
      conditionalSelection(col(column), where).cast(DoubleType),
      graft.sketch.KLLAggregator.sketchSizeFor(relativeError)) :: Nil

  override def fromAggregationResult(result: Row, offset: Int): Option[graft.sketch.KLLState] =
    graft.sketch.KLLAggregator.stateAt(result, offset)

  override def computeMetricFrom(state: Option[graft.sketch.KLLState]): KeyedDoubleMetric =
    state match {
      case Some(s) =>
        val kv = quantiles.map(q => q.toString -> s.sketch.quantile(q)).toMap
        KeyedDoubleMetric(entity, name, instance, Success(kv))
      case None =>
        KeyedDoubleMetric(entity, name, instance,
          scala.util.Failure(new EmptyStateException(s"Empty state for $name $instance")))
    }

  override def toFailureMetric(failure: Throwable): KeyedDoubleMetric =
    KeyedDoubleMetric(entity, name, instance,
      scala.util.Failure(MetricCalculationException.wrap(failure)))
}

/** Q3 - Q1 (reference capability: analyzers/InterquartileRange.scala:53). */
case class InterquartileRange(column: String, where: Option[String] = None)
    extends DoubleResultScanAnalyzer[ExactQuantileState]("InterquartileRange", column)
    with SharedPercentiles {

  override def preconditions: Seq[StructType => Unit] =
    hasColumn(column) :: isNumeric(column) :: Nil

  override def requestedQuantiles: Seq[Double] = Seq(0.25, 0.75)

  override def aggregationFunctions(): Seq[Column] = Seq(
    percentile(conditionalSelection(col(column), where), lit(0.25)),
    percentile(conditionalSelection(col(column), where), lit(0.75)))

  // standalone path routes over-budget columns through the same
  // distributed selection as the fused runner
  override def computeStateFrom(data: DataFrame): Option[ExactQuantileState] = {
    if (ExactQuantileGuard.overBudget(data, Seq(this)).nonEmpty) {
      DistributedExactQuantile.percentiles(data, column, where, requestedQuantiles)
        .map(stateFromQuantiles)
    } else super.computeStateFrom(data)
  }

  override def fromAggregationResult(result: Row, offset: Int): Option[ExactQuantileState] =
    for {
      q1 <- doubleAt(result, offset)
      q3 <- doubleAt(result, offset + 1)
    } yield ExactQuantileState(Seq(q1, q3), name)

  override protected def valueFromState(state: ExactQuantileState): Double =
    state.values(1) - state.values(0)
}
