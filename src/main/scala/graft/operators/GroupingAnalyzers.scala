package graft.operators

import scala.util.{Failure, Success}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.core.Preconditions._

/** A frequency table: one `groupBy(columns).count()` serves every
  * grouping analyzer over the same (columns, where)
  * (reference capability: analyzers/GroupingAnalyzers.scala:55-109).
  *
  * `frequencies` is the whole table, one row per distinct key. A stored
  * state keeps it as key-sorted parquet `runs` (see
  * [[graft.core.HdfsStateProvider]]); `frequencies` is then their union
  * summed by key, and `fresh` is the part no run holds yet (the day just
  * appended). Without runs, the whole table is unstored. `sums` holds, per frequency-based analyzer, its slot
  * values of the family's fused aggregation over the whole table — what
  * lets the runner append a day from the day's keys alone
  * (see [[FrequencyBasedAnalyzer]]).
  *
  * Merging two states sums their tables by key: a union plus a
  * null-safe `groupBy` (reference: the null-safe full outer join of
  * analyzers/GroupingAnalyzers.scala:163-192). Sums over keys do not add
  * across tables that share keys, so a merged state carries none.
  */
case class FrequenciesAndNumRows(
    frequencies: DataFrame,
    numRows: Long,
    runs: Seq[FrequencyRun] = Nil,
    fresh: Option[DataFrame] = None,
    sums: Map[AnyAnalyzer, Seq[Any]] = Map.empty)
    extends State[FrequenciesAndNumRows] {

  /** The part of the table that no run holds: all of it without runs. */
  def unstored: Option[DataFrame] = if (runs.isEmpty) Some(frequencies) else fresh

  override def merge(other: FrequenciesAndNumRows): FrequenciesAndNumRows = {
    import FrequenciesAndNumRows.summed
    val parts = unstored.toSeq ++ other.unstored
    FrequenciesAndNumRows(
      summed(Seq(frequencies, other.frequencies)),
      numRows + other.numRows,
      runs ++ other.runs,
      if (parts.isEmpty) None else Some(summed(parts)))
  }
}

object FrequenciesAndNumRows {
  val COUNT_COL = "graft_count"

  /** Key columns of a frequency table. */
  private[graft] def keyColumns(table: DataFrame): Seq[String] =
    table.columns.filterNot(_ == COUNT_COL).toSeq

  /** Tables over the same key columns as one table: their union with the
    * counts summed per key (`groupBy` groups null keys together, so the
    * sum is null-safe). One table is returned as it is.
    */
  private[graft] def summed(tables: Seq[DataFrame]): DataFrame =
    if (tables.size == 1) tables.head else sumByKey(tables.reduce(_ unionByName _))

  /** Rows of frequency tables, a key possibly in several, as one table. */
  private[graft] def sumByKey(rows: DataFrame): DataFrame =
    rows.groupBy(keyColumns(rows).map(col): _*).agg(sum(col(COUNT_COL)).as(COUNT_COL))

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

/** One stored part of a frequency table: a parquet directory holding
  * distinct keys with their counts, sorted by key within each file.
  * `rows` is its number of keys; `range` bounds them when the table has
  * one orderable key column.
  */
case class FrequencyRun(path: String, rows: Long, range: Option[KeyRange])

/** Bounds of the keys of a frequency table with one orderable key column.
  * `min` and `max` are ordinals: a `Long` for integral keys, days for
  * dates and microseconds for timestamps, the string itself for
  * (binary-collated) strings, which compare as UTF-8 bytes as Spark
  * orders them. Both are null when no key is non-null.
  */
case class KeyRange(min: Any, max: Any, hasNull: Boolean) {

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case _ => throw new IllegalArgumentException(s"incomparable key bounds $a and $b")
  }

  /** Whether a key of `other` may also be a key of this range. */
  def overlaps(other: KeyRange): Boolean =
    (hasNull && other.hasNull) ||
      (min != null && other.min != null &&
        cmp(min, other.max) <= 0 && cmp(other.min, max) <= 0)
}

object KeyRange {

  /** The ordinal of the key of `schema`'s frequency table, when it has
    * exactly one key column of an orderable type.
    */
  private def ordinal(schema: StructType): Option[(String, Column)] =
    schema.fields.filterNot(_.name == FrequenciesAndNumRows.COUNT_COL) match {
      case Array(key) =>
        val c = col(key.name)
        (key.dataType match {
          case ByteType | ShortType | IntegerType | LongType => Some(c.cast(LongType))
          case DateType => Some(unix_date(c).cast(LongType))
          case TimestampType => Some(unix_micros(c))
          case StringType => Some(c)
          case _ => None
        }).map(key.name -> _)
      case _ => None
    }

  /** min, max and has-null aggregations over a table whose key has an
    * ordinal; [[fromRow]] decodes them.
    */
  def aggregates(schema: StructType): Option[Seq[Column]] =
    ordinal(schema).map { case (key, o) =>
      Seq(min(o), max(o), coalesce(max(col(key).isNull), lit(false)))
    }

  def fromRow(row: Row, offset: Int): KeyRange =
    KeyRange(row.get(offset), row.get(offset + 1), row.getBoolean(offset + 2))
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
  *
  * Sums-over-keys contract: every column of
  * [[aggregationFunctionsOverFrequencies]] is a sum or a count over the
  * table's rows of a function of the row's count, built the same for any
  * `numRows` (the runner builds them with 0), and [[fromFrequencyAggregate]]
  * reads only those slot values and `numRows`. The slot values of a table
  * then change on an append by F(new counts of the touched keys) −
  * F(old counts of the touched keys), F being the aggregation over just
  * those keys' rows — so the runner appends a day from the day's keys
  * alone and keeps the slot values in the state's `sums`. Uniqueness,
  * Distinctness, UniqueValueRatio, CountDistinct, Entropy (Σ c·ln c) and
  * DuplicateRowCount all keep it; an analyzer that does not (a max over
  * counts, say) must not extend this class.
  */
abstract class FrequencyBasedAnalyzer(
    val name: String,
    val groupingColumns: Seq[String],
    val where: Option[String]
) extends GroupingAnalyzer[DoubleMetric] {

  val entity: Entity = if (groupingColumns.size == 1) Entity.Column else Entity.Multicolumn
  val instance: String = groupingColumns.mkString(",")

  /** Aggregations over the frequency table (see the class contract). */
  def aggregationFunctionsOverFrequencies(numRows: Long): Seq[Column]

  def fromFrequencyAggregate(result: Row, offset: Int, numRows: Long): Option[Double]

  /** From the state's stored slot values when it has them, else one
    * aggregation over its table.
    */
  override def computeMetricFrom(state: Option[FrequenciesAndNumRows]): DoubleMetric =
    state match {
      case Some(s) =>
        val row = s.sums.get(this).map(Row.fromSeq).getOrElse {
          val aggs = aggregationFunctionsOverFrequencies(s.numRows)
          s.frequencies.agg(aggs.head, aggs.tail: _*).collect().head
        }
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
      case Some(s) if s.numRows > 0 =>
        import FrequenciesAndNumRows.COUNT_COL
        val freq = s.frequencies
        val Seq(c1, c2) = columns
        val n = lit(s.numRows.toDouble)
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
