package graft.operators

import scala.util.{Failure, Success}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.core.Preconditions._

/** Shared frequency table: one `groupBy(columns).count()` serves every
  * grouping analyzer over the same (columns, where)
  * (reference capability: analyzers/GroupingAnalyzers.scala:55-109).
  *
  * The state merge of two frequency tables is a null-safe full outer join
  * summing counts (reference: analyzers/GroupingAnalyzers.scala:163-192) —
  * at scale this is a shuffle on the grouping key, which Catalyst plans as
  * a sort-merge or hash join; partial aggregation has already collapsed
  * each side to distinct keys.
  */
case class FrequenciesAndNumRows(frequencies: DataFrame, numRows: Long)
    extends State[FrequenciesAndNumRows] {

  override def merge(other: FrequenciesAndNumRows): FrequenciesAndNumRows =
    FrequenciesAndNumRows(
      FrequenciesAndNumRows.sumCounts(frequencies, other.frequencies),
      numRows + other.numRows)
}

object FrequenciesAndNumRows {
  val COUNT_COL = "graft_count"

  /** Null-safe full outer join of two frequency tables on their grouping
    * columns, summing the counts.
    */
  private[graft] def sumCounts(left: DataFrame, right: DataFrame): DataFrame = {
    val groupCols = left.columns.filterNot(_ == COUNT_COL).toSeq
    def l(c: String) = col(s"graft_l.$c")
    def r(c: String) = col(s"graft_r.$c")
    val joinCond = groupCols.map(c => l(c) <=> r(c)).reduce(_ && _)
    left.alias("graft_l").join(right.alias("graft_r"), joinCond, "outer")
      .select(
        groupCols.map(c => coalesce(l(c), r(c)).as(c)) :+
          (coalesce(l(COUNT_COL), lit(0L)) + coalesce(r(COUNT_COL), lit(0L)))
            .as(COUNT_COL): _*)
  }

  /** SELECT cols, count(*) FROM data WHERE (any col IS NOT NULL) [AND where]
    * GROUP BY cols — reference: analyzers/GroupingAnalyzers.scala:55-109.
    */
  def compute(data: DataFrame, groupingColumns: Seq[String],
      where: Option[String]): FrequenciesAndNumRows =
    withNumRows(computeFrequenciesOnly(data, groupingColumns, where))

  /** numRows applies the SAME filters as the frequency table (any grouping
    * key non-null + where) — reference GroupingAnalyzers numRows semantics;
    * sum of frequencies equals that count without a second scan.
    */
  private def withNumRows(frequencies: DataFrame): FrequenciesAndNumRows = {
    val numRows = frequencies
      .agg(coalesce(sum(col(COUNT_COL)), lit(0L))).collect().head.getLong(0)
    FrequenciesAndNumRows(frequencies, numRows)
  }

  def computeFrequenciesOnly(data: DataFrame, groupingColumns: Seq[String],
      where: Option[String]): DataFrame = {
    // empty column list means "all columns" (DuplicateRowCount's default;
    // reference: analyzers/GroupingAnalyzers.scala:70-77)
    val cols = if (groupingColumns.isEmpty) data.columns.toSeq else groupingColumns
    val atLeastOneNotNull = cols.map(col(_).isNotNull).reduce(_ || _)
    data
      .filter(atLeastOneNotNull)
      .filter(where.map(expr).getOrElse(lit(true)))
      .groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as(COUNT_COL))
  }
}

/** Analyzer consuming a shared frequency table. Its aggregations run over
  * the (already small) frequency DataFrame and are fused with all other
  * grouping analyzers on the same column set by the runner.
  */
trait GroupingAnalyzer[M <: Metric[_]] extends Analyzer[FrequenciesAndNumRows, M] {

  def groupingColumns: Seq[String]
  def where: Option[String]

  /** Key used by the runner to share one frequency table. */
  final def groupingKey: (Seq[String], Option[String]) = (groupingColumns.sorted, where)

  override def preconditions: Seq[StructType => Unit] =
    atLeastOne(groupingColumns) +:
      groupingColumns.flatMap(c => Seq(hasColumn(c), isNotNested(c)))

  override def computeStateFrom(data: DataFrame): Option[FrequenciesAndNumRows] =
    Some(FrequenciesAndNumRows.compute(data, groupingColumns, where))
}

/** Grouping analyzer whose metric is a fused aggregation over the
  * frequency table (everything except Histogram / MutualInformation).
  */
abstract class FrequencyBasedAnalyzer(
    val name: String,
    val groupingColumns: Seq[String],
    val where: Option[String]
) extends GroupingAnalyzer[DoubleMetric] {

  val entity: Entity = if (groupingColumns.size == 1) Entity.Column else Entity.Multicolumn
  val instance: String = groupingColumns.mkString(",")

  /** Aggregations over the frequency table; numRows available for ratios. */
  def aggregationFunctionsOverFrequencies(numRows: Long): Seq[Column]

  def fromFrequencyAggregate(result: Row, offset: Int, numRows: Long): Option[Double]

  override def computeMetricFrom(state: Option[FrequenciesAndNumRows]): DoubleMetric =
    state match {
      case Some(s) =>
        val aggs = aggregationFunctionsOverFrequencies(s.numRows)
        val row = s.frequencies.agg(aggs.head, aggs.tail: _*).collect().head
        metricFromRow(row, 0, s.numRows)
      case None =>
        DoubleMetric(entity, name, instance,
          Failure(new EmptyStateException(s"Empty state for $name $instance")))
    }

  private[graft] def metricFromRow(result: Row, offset: Int, numRows: Long): DoubleMetric =
    fromFrequencyAggregate(result, offset, numRows) match {
      case Some(v) => DoubleMetric(entity, name, instance, Success(v))
      case None => DoubleMetric(entity, name, instance,
        Failure(new EmptyStateException(s"Empty state for $name $instance")))
    }

  override def toFailureMetric(failure: Throwable): DoubleMetric =
    Metric.failed(entity, name, instance, failure)

  /** Per-row outcome against the ORIGINAL data (not the frequency table):
    * a window count over the grouping columns, evaluated lazily when
    * row-level results are requested
    * (reference capability: analyzers/GroupingAnalyzers.scala:100-106).
    */
  def rowLevelColumn: Option[Column] = None

  protected def cnt: Column = col(FrequenciesAndNumRows.COUNT_COL)
}

/** Fraction of groups occurring exactly once, relative to total rows
  * (reference capability: analyzers/Uniqueness.scala:35).
  */
case class Uniqueness(override val groupingColumns: Seq[String],
    override val where: Option[String] = None)
    extends FrequencyBasedAnalyzer("Uniqueness", groupingColumns, where) {

  override def aggregationFunctionsOverFrequencies(numRows: Long): Seq[Column] =
    coalesce(sum((cnt === lit(1L)).cast(DoubleType)), lit(0.0)) :: Nil

  override def rowLevelColumn: Option[Column] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupingColumns.map(col): _*)
    where match {
      // WHERE-filtered rows evaluate null (pass) and are excluded from the
      // per-group count, matching the metric's filtered semantics
      case Some(f) =>
        Some(when(expr(f), count(when(expr(f), lit(1))).over(w) === lit(1L)))
      case None =>
        Some(count(lit(1)).over(w) === lit(1L))
    }
  }

  override def fromFrequencyAggregate(result: Row, offset: Int, numRows: Long): Option[Double] =
    if (numRows == 0L) None else Some(result.getDouble(offset) / numRows)
}

object Uniqueness {
  def apply(column: String): Uniqueness = Uniqueness(Seq(column))
}

/** #unique groups / #distinct groups
  * (reference capability: analyzers/UniqueValueRatio.scala:29).
  */
case class UniqueValueRatio(override val groupingColumns: Seq[String],
    override val where: Option[String] = None)
    extends FrequencyBasedAnalyzer("UniqueValueRatio", groupingColumns, where) {

  override def aggregationFunctionsOverFrequencies(numRows: Long): Seq[Column] = Seq(
    coalesce(sum((cnt === lit(1L)).cast(DoubleType)), lit(0.0)), count(lit(1)))

  override def fromFrequencyAggregate(result: Row, offset: Int, numRows: Long): Option[Double] = {
    val distinct = result.getLong(offset + 1)
    if (distinct == 0L) None else Some(result.getDouble(offset) / distinct)
  }
}

object UniqueValueRatio {
  def apply(column: String): UniqueValueRatio = UniqueValueRatio(Seq(column))
}

/** #distinct groups / numRows (reference capability: analyzers/Distinctness.scala:31). */
case class Distinctness(override val groupingColumns: Seq[String],
    override val where: Option[String] = None)
    extends FrequencyBasedAnalyzer("Distinctness", groupingColumns, where) {

  override def aggregationFunctionsOverFrequencies(numRows: Long): Seq[Column] =
    coalesce(sum((cnt >= lit(1L)).cast(DoubleType)), lit(0.0)) :: Nil

  override def fromFrequencyAggregate(result: Row, offset: Int, numRows: Long): Option[Double] =
    if (numRows == 0L) None else Some(result.getDouble(offset) / numRows)
}

object Distinctness {
  def apply(column: String): Distinctness = Distinctness(Seq(column))
}

/** Number of distinct groups (reference capability: analyzers/CountDistinct.scala:25). */
case class CountDistinct(override val groupingColumns: Seq[String])
    extends FrequencyBasedAnalyzer("CountDistinct", groupingColumns, None) {

  override def aggregationFunctionsOverFrequencies(numRows: Long): Seq[Column] =
    count(lit(1)).cast(DoubleType) :: Nil

  override def fromFrequencyAggregate(result: Row, offset: Int, numRows: Long): Option[Double] =
    Some(result.getDouble(offset))
}

object CountDistinct {
  def apply(column: String): CountDistinct = CountDistinct(Seq(column))
}

/** Shannon entropy in nats, pure column expressions — no UDF
  * (reference capability: analyzers/Entropy.scala:30, minus its UDF).
  */
case class Entropy(column: String, override val where: Option[String] = None)
    extends FrequencyBasedAnalyzer("Entropy", Seq(column), where) {

  // numRows-independent aggregation so it can fuse with the sum(count)
  // that DERIVES numRows: entropy = ln N - (SUM c*ln c) / N  with N = SUM c
  override def aggregationFunctionsOverFrequencies(numRows: Long): Seq[Column] =
    coalesce(sum(when(cnt <= lit(0L), lit(0.0))
      .otherwise(cnt.cast(DoubleType) * log(cnt.cast(DoubleType)))), lit(0.0)) :: Nil

  override def fromFrequencyAggregate(result: Row, offset: Int, numRows: Long): Option[Double] =
    if (numRows == 0L) None
    else Some(math.log(numRows.toDouble) - result.getDouble(offset) / numRows.toDouble)
}

/** Sum of counts of groups occurring more than once; empty columns means
  * "all columns" (reference capability: analyzers/DuplicateRowCount.scala:36).
  */
case class DuplicateRowCount(columns: Seq[String] = Seq.empty,
    override val where: Option[String] = None)
    extends FrequencyBasedAnalyzer("DuplicateRowCount",
      if (columns.isEmpty) Seq.empty else columns, where) {

  override val entity: Entity =
    if (columns.isEmpty) Entity.Dataset
    else if (columns.size == 1) Entity.Column
    else Entity.Multicolumn
  override val instance: String = if (columns.isEmpty) "*" else columns.mkString(",")

  override def preconditions: Seq[StructType => Unit] =
    columns.flatMap(c => Seq(hasColumn(c), isNotNested(c)))

  override def computeStateFrom(data: DataFrame): Option[FrequenciesAndNumRows] = {
    val cols = if (columns.isEmpty) data.columns.toSeq else columns
    Some(FrequenciesAndNumRows.compute(data, cols, where))
  }

  override def aggregationFunctionsOverFrequencies(numRows: Long): Seq[Column] =
    coalesce(sum(when(cnt > lit(1L), cnt).otherwise(lit(0L))), lit(0L)).cast(DoubleType) :: Nil

  override def fromFrequencyAggregate(result: Row, offset: Int, numRows: Long): Option[Double] =
    Some(result.getDouble(offset))
}

/** Mutual information of two columns: marginals from the joint frequency
  * table via two aggregations + joins; summand as pure expressions
  * (reference capability: analyzers/MutualInformation.scala:37, minus its UDF).
  *
  * Scale note: the joint frequency table is already aggregated (distinct
  * pairs only); the marginal joins broadcast when small and otherwise
  * shuffle on the single marginal key.
  */
case class MutualInformation(columns: Seq[String], override val where: Option[String] = None)
    extends GroupingAnalyzer[DoubleMetric] {

  require(columns.size == 2, "MutualInformation requires exactly 2 columns")

  val name = "MutualInformation"
  val entity: Entity = Entity.Multicolumn
  val instance: String = columns.mkString(",")
  override def groupingColumns: Seq[String] = columns

  override def preconditions: Seq[StructType => Unit] =
    exactlyNColumns(columns, 2) +: super.preconditions

  override def computeMetricFrom(state: Option[FrequenciesAndNumRows]): DoubleMetric =
    state match {
      case Some(FrequenciesAndNumRows(freq, numRows)) if numRows > 0 =>
        import FrequenciesAndNumRows.COUNT_COL
        val Seq(c1, c2) = columns
        val n = lit(numRows.toDouble)
        // null-safe joins: frequency rows may carry a null in ONE of the two
        // columns (they pass the any-key-non-null filter); a plain equi-join
        // would drop them from the joint sum while the marginals and n still
        // count them, denormalizing the distribution
        val m1 = freq.groupBy(c1).agg(sum(COUNT_COL).as("graft_c1"))
          .withColumnRenamed(c1, "graft_k1")
        val m2 = freq.groupBy(c2).agg(sum(COUNT_COL).as("graft_c2"))
          .withColumnRenamed(c2, "graft_k2")
        val joint = freq
          .join(m1, col(c1) <=> col("graft_k1"))
          .join(m2, col(c2) <=> col("graft_k2"))
        val pxy = col(COUNT_COL).cast(DoubleType) / n
        val px = col("graft_c1").cast(DoubleType) / n
        val py = col("graft_c2").cast(DoubleType) / n
        val value = joint
          .agg(coalesce(sum(pxy * log(pxy / (px * py))), lit(0.0)))
          .collect().head.getDouble(0)
        DoubleMetric(entity, name, instance, Success(value))
      case _ =>
        DoubleMetric(entity, name, instance,
          Failure(new EmptyStateException(s"Empty state for $name $instance")))
    }

  override def toFailureMetric(failure: Throwable): DoubleMetric =
    Metric.failed(entity, name, instance, failure)
}
