package graft.operators

import scala.util.{Failure, Success}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.core.Preconditions._

/** Aggregate applied per value group (reference capability:
  * analyzers/Histogram.scala:162-203).
  */
sealed trait HistogramAggregate {
  def aggregation: Column
}
object HistogramAggregate {
  case object CountAggregate extends HistogramAggregate {
    val aggregation: Column = count(lit(1))
  }
  case class SumAggregate(aggColumn: String) extends HistogramAggregate {
    val aggregation: Column = sum(col(aggColumn)).cast(LongType)
  }
}

/** Top-N value distribution of a column: own groupBy + TakeOrdered, which
  * Spark executes as partial-agg + top-K without a global sort
  * (reference capability: analyzers/Histogram.scala:54).
  */
case class Histogram(
    column: String,
    binningFunc: Option[Column => Column] = None,
    maxDetailBins: Int = Histogram.MaximumAllowedDetailBins,
    where: Option[String] = None,
    computeFrequenciesAsRatio: Boolean = true,
    aggregateFunction: HistogramAggregate = HistogramAggregate.CountAggregate
) extends Analyzer[FrequenciesAndNumRows, HistogramMetric] {

  val name = "Histogram"
  val entity: Entity = Entity.Column
  val instance: String = column

  override def preconditions: Seq[StructType => Unit] =
    hasColumn(column) :: isNotNested(column) :: Nil

  override def computeStateFrom(data: DataFrame): Option[FrequenciesAndNumRows] = {
    if (maxDetailBins > Histogram.MaximumAllowedDetailBins) {
      throw new IllegalArgumentException(
        s"Cannot return histogram values for more than ${Histogram.MaximumAllowedDetailBins} bins")
    }
    val filtered = where.map(w => data.filter(expr(w))).getOrElse(data)
    val binned = binningFunc
      .map(f => filtered.withColumn(Histogram.BIN_COL, f(col(column))))
      .getOrElse(filtered.withColumn(Histogram.BIN_COL, col(column)))
    // NULLs become an explicit bucket, as in the reference
    val withNullBucket = binned.withColumn(Histogram.BIN_COL,
      coalesce(col(Histogram.BIN_COL).cast(StringType), lit(Histogram.NullFieldReplacement)))
    val freq = withNullBucket
      .groupBy(Histogram.BIN_COL)
      .agg(aggregateFunction.aggregation.as(FrequenciesAndNumRows.COUNT_COL))
    // numRows == the frequency table's count sum for BOTH aggregate kinds
    // (the null bucket keeps every filtered row; per-bucket sums total the
    // column sum) — one tiny aggregation over the groups instead of a
    // second full scan of the source
    val numRows = freq
      .agg(coalesce(sum(col(FrequenciesAndNumRows.COUNT_COL)), lit(0L)))
      .collect().head.getLong(0)
    Some(FrequenciesAndNumRows(freq, numRows))
  }

  override def computeMetricFrom(state: Option[FrequenciesAndNumRows]): HistogramMetric =
    state match {
      case Some(state) =>
        import FrequenciesAndNumRows.COUNT_COL
        val freq = state.frequencies
        // two actions follow (bin count + top-K): cache the frequency plan
        // so the source groupBy does not re-execute per action
        freq.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (totalBins, topBins) =
          try {
            (freq.count(), freq
              .orderBy(col(COUNT_COL).desc, col(Histogram.BIN_COL).asc)
              .limit(maxDetailBins)
              .collect())
          } finally {
            freq.unpersist(blocking = false)
            ()
          }
        val denom = math.max(state.numRows, 1L)
        val values = topBins.map { row =>
          val value = row.getString(row.fieldIndex(Histogram.BIN_COL))
          val countIdx = row.fieldIndex(COUNT_COL)
          // SumAggregate over an all-null aggregation column yields NULL
          val absolute = if (row.isNullAt(countIdx)) 0L else row.getLong(countIdx)
          val ratio = if (computeFrequenciesAsRatio) absolute.toDouble / denom else absolute.toDouble
          value -> DistributionValue(absolute, ratio)
        }.toMap
        HistogramMetric(column, Success(Distribution(values, totalBins)))
      case None =>
        HistogramMetric(column, Failure(new EmptyStateException(s"Empty state for Histogram $column")))
    }

  override def toFailureMetric(failure: Throwable): HistogramMetric =
    HistogramMetric(column, Failure(MetricCalculationException.wrap(failure)))
}

object Histogram {
  val MaximumAllowedDetailBins = 1000
  val NullFieldReplacement = "NullValue"
  private[operators] val BIN_COL = "graft_histogram_bin"
}

/** Per-bin counts of a [[HistogramBinned]] with the edges that define the
  * bins (bin b, 1-based, spans edges(b - 1) to edges(b)). Not mergeable:
  * computed edges are data-dependent.
  */
case class BinnedCountsState(counts: Map[Int, Long], edges: Seq[Double])
    extends NonMergeableState[BinnedCountsState] {
  def analyzerName: String = "HistogramBinned"
}

/** Equal-width (or custom-edge) numeric histogram: one min/max pass, then a
  * single groupBy on the computed bin index via `width_bucket`
  * (reference capability: analyzers/HistogramBinned.scala:62).
  */
case class HistogramBinned(
    column: String,
    binCount: Option[Int] = Some(10),
    customEdges: Option[Seq[Double]] = None,
    where: Option[String] = None
) extends Analyzer[BinnedCountsState, HistogramMetric] {

  val name = "HistogramBinned"
  val entity: Entity = Entity.Column
  val instance: String = column

  // a single edge defines ZERO bins: fail at construction with a clear
  // message, not a MatchError from edges.sliding(2) deep in planning
  require(customEdges.forall(_.size >= 2),
    "customEdges must contain at least two edges (one bin)")

  override def preconditions: Seq[StructType => Unit] =
    hasColumn(column) :: isNumeric(column) :: Nil

  /** Resolved (inclusive lower) edges; last edge is the max. */
  private def resolveEdges(data: DataFrame): Array[Double] = customEdges match {
    case Some(edges) => edges.toArray.sorted
    case None =>
      val n = binCount.getOrElse(10)
      val filtered = where.map(w => data.filter(expr(w))).getOrElse(data)
      val row = filtered.agg(
        min(col(column)).cast(DoubleType), max(col(column)).cast(DoubleType)).collect().head
      if (row.isNullAt(0)) Array.empty
      else {
        val (lo, hi) = (row.getDouble(0), row.getDouble(1))
        val width = if (hi == lo) 1.0 else (hi - lo) / n
        (0 to n).map(i => lo + i * width).toArray
      }
  }

  override def computeStateFrom(data: DataFrame): Option[BinnedCountsState] = {
    // computed edges cost a min/max job, then one groupBy collects the
    // (at most nBins) bin counts
    val edges = resolveEdges(data)
    if (edges.isEmpty) return None
    val filtered = where.map(w => data.filter(expr(w))).getOrElse(data)
    val nBins = edges.length - 1
    val isUniform = {
      val w0 = (edges.last - edges.head) / nBins
      edges.sliding(2).forall { case Array(a, b) => math.abs((b - a) - w0) < 1e-9 * math.max(math.abs(w0), 1.0) }
    }
    val x = col(column).cast(DoubleType)
    val bucket =
      if (isUniform) {
        // width_bucket is 1-based and gives nBins+1 for the exact max —
        // clamp into the last bin
        least(width_bucket(x, lit(edges.head), lit(edges.last), lit(nBins)), lit(nBins.toLong))
      } else {
        // width_bucket assumes EQUAL widths; non-uniform custom edges need
        // an explicit bin index: 1 + number of interior edges <= x
        val interior = edges.slice(1, nBins) // edges 1..nBins-1
        least(interior.foldLeft(lit(1L)) { (acc, e) =>
          acc + when(x >= lit(e), lit(1L)).otherwise(lit(0L))
        }, lit(nBins.toLong))
      }
    val inRange = x >= lit(edges.head) && x <= lit(edges.last)
    val counts = filtered
      .filter(col(column).isNotNull && inRange)
      .groupBy(bucket.as(Histogram.BIN_COL))
      .agg(count(lit(1)))
      .collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1))
      .toMap
    Some(BinnedCountsState(counts, edges.toSeq))
  }

  override def computeMetricFrom(state: Option[BinnedCountsState]): HistogramMetric =
    state match {
      case Some(BinnedCountsState(counts, edges)) =>
        // the in-range row count is the bin counts' sum
        val denom = math.max(counts.values.sum, 1L)
        val nBins = edges.length - 1
        val values = (1 to nBins).map { b =>
          val c = counts.getOrElse(b, 0L)
          val label = s"[${edges(b - 1)}, ${edges(b)}${if (b == nBins) "]" else ")"}"
          label -> DistributionValue(c, c.toDouble / denom)
        }.toMap
        HistogramMetric(column, Success(Distribution(values, nBins.toLong)))
      case None =>
        HistogramMetric(column,
          Failure(new EmptyStateException(s"Empty state for HistogramBinned $column")))
    }

  override def toFailureMetric(failure: Throwable): HistogramMetric =
    HistogramMetric(column, Failure(MetricCalculationException.wrap(failure)))
}
