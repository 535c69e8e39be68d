package graft.sketch

import scala.util.{Failure, Success}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructType}

import graft.core._
import graft.core.Preconditions._

case class KLLParameters(
    sketchSize: Int = KLLSketch.DefaultSketchSize,
    shrinkingFactor: Double = KLLSketch.DefaultShrinkingFactor,
    numberOfBuckets: Int = 10)

/** Mergeable KLL state. */
case class KLLState(sketch: KLLSketch) extends State[KLLState] {
  override def merge(other: KLLState): KLLState = KLLState(sketch.merge(other.sketch))
}

case class KLLMetric(column: String, value: scala.util.Try[BucketDistribution])
    extends Metric[BucketDistribution] {
  val entity: Entity = Entity.Column
  val name: String = "KLL"
  val instance: String = column
}

/** KLL sketch over a numeric column. Physical path: per-partition sketches
  * merged with `treeReduce` — one pass, no shuffle, log-depth driver merge;
  * the same plan the reference uses for scale (reference capability:
  * analyzers/KLLSketch.scala:90, runners/KLLRunner.scala:89-177).
  */
case class KLLSketchAnalyzer(
    column: String,
    parameters: KLLParameters = KLLParameters(),
    where: Option[String] = None)
    extends Analyzer[KLLState, KLLMetric] {

  val name = "KLL"
  val entity: Entity = Entity.Column
  val instance: String = column

  override def preconditions: Seq[StructType => Unit] =
    hasColumn(column) :: isNumeric(column) :: Nil

  override def computeStateFrom(data: DataFrame): Option[KLLState] =
    KLLSketchAnalyzer.computeSketches(data, Seq(this)).head

  override def computeMetricFrom(state: Option[KLLState]): KLLMetric = state match {
    case Some(KLLState(sketch)) =>
      KLLMetric(column, Success(BucketDistribution(
        sketch.buckets(parameters.numberOfBuckets),
        Seq(parameters.shrinkingFactor, parameters.sketchSize.toDouble),
        sketch)))
    case None =>
      KLLMetric(column, Failure(new EmptyStateException(s"Empty state for KLL $column")))
  }

  override def toFailureMetric(failure: Throwable): KLLMetric =
    KLLMetric(column, Failure(MetricCalculationException.wrap(failure)))
}

object KLLSketchAnalyzer {

  /** ONE RDD pass computing every requested sketch: per-partition, one
    * updater per column, merged with treeReduce — N KLL analyzers cost one
    * scan, not N (reference capability: runners/KLLRunner.scala:89-177,
    * which batches per-column updaters the same way). All analyzers must
    * share the same WHERE (the runner groups by it).
    */
  private[graft] def computeSketches(
      data: DataFrame,
      group: Seq[KLLSketchAnalyzer]): Seq[Option[KLLState]] = {
    require(group.nonEmpty)
    val filtered = group.head.where
      .map(w => data.filter(org.apache.spark.sql.functions.expr(w)))
      .getOrElse(data)
    val n = group.length
    val params = group.map(_.parameters)
    // sketch updates are per-row CPU; a degenerate scan layout (single
    // row group) gets one narrow shuffle of the projected doubles so the
    // pass uses every core — no-op on healthy multi-row-group inputs
    val projected = graft.runners.AnalysisRunner.ensureParallelism(
      filtered.select(group.map(a => col(a.column).cast(DoubleType)): _*))
    val sketches = projected.rdd
      .mapPartitions { iter =>
        // partition-derived seeds: deterministic for a fixed partitioning,
        // independent across the per-partition sketches (KLL's error bound
        // assumes uncorrelated compaction coin flips)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val ss = Array.tabulate(n)(i =>
          new KLLSketch(params(i).sketchSize, params(i).shrinkingFactor,
            seed = (pid.toLong << 20) + i))
        iter.foreach { row =>
          var i = 0
          while (i < n) {
            if (!row.isNullAt(i)) ss(i).update(row.getDouble(i))
            i += 1
          }
        }
        Iterator.single(ss)
      }
      .treeReduce((a, b) => Array.tabulate(n)(i => a(i).merge(b(i))), depth = 2)
    sketches.toSeq.map(s => if (s.count == 0L) None else Some(KLLState(s)))
  }
}

/** Distribution distance measures — driver-side over sketches/histograms
  * (reference capability: analyzers/Distance.scala:56,96-251,329).
  */
object Distance {

  /** Two-sample Kolmogorov-Smirnov statistic from two KLL sketches:
    * max |cdf1 - cdf2| over the union of sketch quantile grids.
    */
  def numericalDistance(s1: KLLSketch, s2: KLLSketch, gridSize: Int = 200): Double = {
    if (s1.count == 0 || s2.count == 0) return 0.0
    val points = (s1.quantiles(gridSize) ++ s2.quantiles(gridSize)).distinct.sorted
    points.map { p =>
      val c1 = s1.rank(p).toDouble / s1.count
      val c2 = s2.rank(p).toDouble / s2.count
      math.abs(c1 - c2)
    }.max
  }

  /** EXACT two-sample Kolmogorov-Smirnov statistic over a numeric column,
    * computed distributed and partition-safe (the sketch-free audit-grade
    * counterpart of [[numericalDistance]]). `sideA`/`sideB` are boolean
    * membership predicates over `data`'s rows (e.g. a status column match);
    * rows in neither side are ignored, null values are ignored.
    *
    * The naive formulation — a running-CDF window `ORDER BY value` with no
    * partition — moves EVERY distinct value through one task: the classic
    * single-point scale-killer. This takes the same two-stage route as
    * [[graft.operators.DistributedExactQuantile]]:
    *
    *   1. `groupBy(value)` → per-side counts (map-side partial agg: the
    *      shuffle carries one row per DISTINCT value), then
    *      `repartitionByRange(value)` + `sortWithinPartitions` for
    *      globally-ordered, size-balanced partitions.
    *   2. One pass collecting K per-partition (sumA, sumB) pairs → prefix
    *      offsets on the driver (K = shuffle partitions, not data-sized).
    *   3. One pass re-reading the frequency table's range-shuffle output
    *      (nothing is cached; see [[graft.pipeline.Ranking.prefixScan]]):
    *      each partition seeds its running sums from the broadcast offsets
    *      and emits its local max |cdfA - cdfB| — K doubles reduced on the
    *      driver.
    *
    * No task ever holds more than one range partition; a multi-billion-
    * distinct-value column at 100 TB holds where the window form dies.
    */
  def exactNumericalDistance(
      data: org.apache.spark.sql.DataFrame,
      column: String,
      sideA: org.apache.spark.sql.Column,
      sideB: org.apache.spark.sql.Column): Double = {
    import org.apache.spark.sql.functions.{sum, when}
    val freq = data
      .filter(sideA || sideB)
      .select(col(column).cast(DoubleType).as("graft_v"),
        when(sideA, 1L).otherwise(0L).as("graft_a"),
        when(sideB, 1L).otherwise(0L).as("graft_b"))
      .where(col("graft_v").isNotNull)
      .groupBy("graft_v")
      .agg(sum(col("graft_a")).as("graft_ca"), sum(col("graft_b")).as("graft_cb"))
    // pass 1: K per-partition (sumA, sumB) pairs → side totals and offsets
    val ((na, nb, _, _), localMax) =
      graft.pipeline.Ranking.prefixScan(freq, Seq(col("graft_v")))(
        it => it.foldLeft((0L, 0L)) { case ((a, b), r) => (a + r.getLong(1), b + r.getLong(2)) })(
        partTotals => {
          val (as, bs) = partTotals.unzip
          (as.sum.toDouble, bs.sum.toDouble, as.scanLeft(0L)(_ + _), bs.scanLeft(0L)(_ + _))
        }) { case (i, (na, nb, offA, offB), it) =>
        var ca = offA(i)
        var cb = offB(i)
        var m = 0.0
        it.foreach { r =>
          ca += r.getLong(1); cb += r.getLong(2)
          val d = math.abs(ca / na - cb / nb)
          if (d > m) m = d
        }
        Iterator(m)
      }
    if (na == 0.0 || nb == 0.0) 0.0 // degenerate, as numericalDistance
    else localMax.collect().foldLeft(0.0)(math.max)
  }

  /** L-infinity distance between two categorical distributions. */
  def categoricalDistance(d1: Distribution, d2: Distribution): Double = {
    val keys = d1.values.keySet ++ d2.values.keySet
    if (keys.isEmpty) return 0.0
    keys.map { k =>
      val r1 = d1.values.get(k).map(_.ratio).getOrElse(0.0)
      val r2 = d2.values.get(k).map(_.ratio).getOrElse(0.0)
      math.abs(r1 - r2)
    }.max
  }

  /** Chi-square statistic of observed (d1) vs expected (d2) counts, with
    * Yates continuity correction for 2-category tables.
    */
  def chiSquare(d1: Distribution, d2: Distribution): Double = {
    val keys = (d1.values.keySet ++ d2.values.keySet).toSeq
    val n1 = d1.values.values.map(_.absolute).sum.toDouble
    val n2 = d2.values.values.map(_.absolute).sum.toDouble
    if (n1 == 0 || n2 == 0) return 0.0
    val yates = keys.size == 2
    keys.map { k =>
      val obs = d1.values.get(k).map(_.absolute.toDouble).getOrElse(0.0)
      val expRatio = d2.values.get(k).map(_.ratio).getOrElse(0.0)
      val expected = expRatio * n1
      if (expected == 0.0 && obs == 0.0) 0.0
      else {
        // a category observed but absent from the expected distribution is
        // maximal divergence, not zero: floor the expected count at 0.5
        // (continuity value) so the statistic reflects the shift instead
        // of silently skipping the strongest evidence
        val exp = math.max(expected, 0.5)
        val diff = math.abs(obs - exp) - (if (yates) 0.5 else 0.0)
        diff * diff / exp
      }
    }.sum
  }

  /** Population stability index between two categorical distributions. */
  def populationStabilityIndex(d1: Distribution, d2: Distribution,
      epsilon: Double = 1e-4): Double = {
    val keys = d1.values.keySet ++ d2.values.keySet
    keys.map { k =>
      val a = math.max(d1.values.get(k).map(_.ratio).getOrElse(0.0), epsilon)
      val b = math.max(d2.values.get(k).map(_.ratio).getOrElse(0.0), epsilon)
      (a - b) * math.log(a / b)
    }.sum
  }
}
