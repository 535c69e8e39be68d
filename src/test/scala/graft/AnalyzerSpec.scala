package graft

import scala.util.Success

import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.core._
import graft.operators._
import graft.runners.AnalysisRunner

class AnalyzerSpec extends AnyWordSpec with Matchers with SparkSpec {

  private lazy val df = {
    val s = spark
    import s.implicits._
    Seq(
      ("a", Some(1.0), "x", 1),
      ("b", Some(2.0), "x", 2),
      ("c", None, "y", 3),
      ("d", Some(4.0), "y", 4),
      ("d", Some(5.0), null, 5),
      ("f", Some(6.0), "x", 6)
    ).toDF("name", "value", "group", "id")
  }

  private def metricValue(m: Metric[_]): Double =
    m.asInstanceOf[DoubleMetric].value.get

  "scan-shareable analyzers" should {

    "compute size" in {
      Size().calculate(df).value shouldBe Success(6.0)
      Size(Some("id <= 3")).calculate(df).value shouldBe Success(3.0)
    }

    "compute completeness" in {
      Completeness("value").calculate(df).value shouldBe Success(5.0 / 6.0)
      Completeness("group").calculate(df).value shouldBe Success(5.0 / 6.0)
      Completeness("name").calculate(df).value shouldBe Success(1.0)
      Completeness("value", Some("id <= 3")).calculate(df).value shouldBe Success(2.0 / 3.0)
    }

    "compute compliance" in {
      Compliance("positive", "value > 3").calculate(df).value shouldBe Success(3.0 / 6.0)
    }

    "compute min/max/mean/sum/range" in {
      Minimum("value").calculate(df).value shouldBe Success(1.0)
      Maximum("value").calculate(df).value shouldBe Success(6.0)
      Mean("value").calculate(df).value shouldBe Success(18.0 / 5.0)
      Sum("value").calculate(df).value shouldBe Success(18.0)
      ValueRange("value").calculate(df).value shouldBe Success(5.0)
    }

    "compute moments" in {
      val values = Seq(1.0, 2.0, 4.0, 5.0, 6.0)
      val mean = values.sum / values.size
      val m2 = values.map(v => math.pow(v - mean, 2)).sum
      val m3 = values.map(v => math.pow(v - mean, 3)).sum
      val m4 = values.map(v => math.pow(v - mean, 4)).sum
      val n = values.size.toDouble

      StandardDeviation("value").calculate(df).value.get shouldBe
        math.sqrt(m2 / n) +- 1e-9
      Variance("value").calculate(df).value.get shouldBe (m2 / n) +- 1e-9
      Skewness("value").calculate(df).value.get shouldBe
        (math.sqrt(n) * m3 / math.pow(m2, 1.5)) +- 1e-9
      Kurtosis("value").calculate(df).value.get shouldBe
        (n * m4 / (m2 * m2) - 3.0) +- 1e-9
    }

    "compute correlation" in {
      Correlation("id", "id").calculate(df).value.get shouldBe 1.0 +- 1e-9
    }

    "compute quantiles" in {
      ExactQuantile("id", 0.5).calculate(df).value.get shouldBe 3.5 +- 1e-9
      InterquartileRange("id").calculate(df).value.get shouldBe 2.5 +- 1e-9
      ApproxQuantile("id", 0.5).calculate(df).value.get should be >= 3.0
    }

    "compute approx count distinct" in {
      ApproxCountDistinct("name").calculate(df).value.get shouldBe 5.0 +- 0.5
    }

    "compute zeros count and lengths" in {
      ZerosCount("id").calculate(df).value shouldBe Success(0.0)
      MinLength("group").calculate(df).value shouldBe Success(1.0)
      MaxLength("name").calculate(df).value shouldBe Success(1.0)
    }

    "compute pattern match" in {
      PatternMatch("name", "^[a-c]$").calculate(df).value shouldBe Success(3.0 / 6.0)
    }

    "infer data types" in {
      val s = spark
      import s.implicits._
      val typed = Seq("1", "2.5", "true", "hello", "42").toDF("c")
      val metric = DataTypeAnalyzer("c").calculate(typed)
      val dist = metric.value.get
      dist("Integral").absolute shouldBe 2
      dist("Fractional").absolute shouldBe 1
      dist("Boolean").absolute shouldBe 1
      dist("String").absolute shouldBe 1
    }

    "fail preconditions on missing column" in {
      val metric = Completeness("nope").calculate(df)
      metric.value.isFailure shouldBe true
    }
  }

  "grouping analyzers" should {

    "compute uniqueness" in {
      Uniqueness(Seq("name")).calculate(df).value shouldBe Success(4.0 / 6.0)
      Uniqueness(Seq("id")).calculate(df).value shouldBe Success(1.0)
    }

    "compute distinctness and UVR and count distinct" in {
      Distinctness(Seq("name")).calculate(df).value shouldBe Success(5.0 / 6.0)
      UniqueValueRatio(Seq("name")).calculate(df).value shouldBe Success(4.0 / 5.0)
      CountDistinct(Seq("name")).calculate(df).value shouldBe Success(5.0)
    }

    "compute entropy" in {
      // group: x=3, y=2; the null row is excluded from BOTH the frequencies
      // and numRows (reference GroupingAnalyzers numRows semantics), so the
      // distribution normalizes: N=5
      val expected = -(3.0 / 5 * math.log(3.0 / 5) + 2.0 / 5 * math.log(2.0 / 5))
      Entropy("group").calculate(df).value.get shouldBe expected +- 1e-9
    }

    "compute duplicate row count" in {
      DuplicateRowCount(Seq("name")).calculate(df).value shouldBe Success(2.0)
    }

    "compute mutual information" in {
      val mi = MutualInformation(Seq("name", "name")).calculate(df)
      // MI(X, X) == H(X); here computed over non-null pairs with numRows=6
      mi.value.isSuccess shouldBe true
    }

    "merge frequency states via null-safe outer join" in {
      val s1 = FrequenciesAndNumRows.compute(df.filter("id <= 3"), Seq("group"), None)
      val s2 = FrequenciesAndNumRows.compute(df.filter("id > 3"), Seq("group"), None)
      val full = FrequenciesAndNumRows.compute(df, Seq("group"), None)
      val merged = s1.merge(s2)
      merged.numRows shouldBe full.numRows
      val m = merged.frequencies.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      val f = full.frequencies.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      m shouldBe f
    }
  }

  "histograms" should {
    "compute top-k histogram" in {
      val metric = Histogram("group").calculate(df)
      val dist = metric.value.get
      dist("x").absolute shouldBe 3
      dist("y").absolute shouldBe 2
      dist(Histogram.NullFieldReplacement).absolute shouldBe 1
    }

    "compute binned histogram" in {
      val metric = HistogramBinned("id", binCount = Some(3)).calculate(df)
      val dist = metric.value.get
      dist.values.values.map(_.absolute).sum shouldBe 6
    }
  }

  "the analysis runner" should {
    "fuse scan-shareable analyzers into one job and share frequency tables" in {
      val analyzers: Seq[AnyAnalyzer] = Seq(
        Size(), Completeness("value"), Minimum("value"), Maximum("value"),
        Mean("value"), Sum("value"), StandardDeviation("value"),
        Uniqueness(Seq("name")), Distinctness(Seq("name")), Entropy("group"))

      val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val ctx = AnalysisRunner.run(df, analyzers)
      analyzers.foreach { a =>
        withClue(s"analyzer $a: ") {
          ctx.metric(a).get.value.isSuccess shouldBe true
        }
      }
      metricValue(ctx.metric(Size()).get) shouldBe 6.0
      metricValue(ctx.metric(Uniqueness(Seq("name"))).get) shouldBe 4.0 / 6.0
    }

    "route exact percentiles through the distributed selection when over budget" in {
      val prev = ExactQuantileGuard.maxBufferedValues
      try {
        ExactQuantileGuard.maxBufferedValues = 3L  // "id" has 6 distinct values
        // fused-runner path: the guarded analyzer still produces the EXACT
        // value (via DistributedExactQuantile), everything else unaffected
        val ctx = graft.runners.AnalysisRunner.run(df,
          Seq[AnyAnalyzer](Size(), ExactQuantile("id", 0.5),
            InterquartileRange("id"), Mean("id")))
        metricValue(ctx.metric(Size()).get) shouldBe 6.0
        metricValue(ctx.metric(Mean("id")).get) shouldBe 3.5
        metricValue(ctx.metric(ExactQuantile("id", 0.5)).get) shouldBe 3.5 +- 1e-9
        // IQR of 1..6: p25 = 2.25, p75 = 4.75 (continuous interpolation)
        metricValue(ctx.metric(InterquartileRange("id")).get) shouldBe 2.5 +- 1e-9
        // standalone path routes identically
        ExactQuantile("id", 0.5).calculate(df).value.get shouldBe 3.5 +- 1e-9
        InterquartileRange("id").calculate(df).value.get shouldBe 2.5 +- 1e-9
        // a where-clause keeping cardinality under budget is NOT rerouted
        ExactQuantile("id", 0.5, where = Some("id <= 2"))
          .calculate(df).value.get shouldBe 1.5 +- 1e-9
        // and a where-clause OVER budget computes through the filter too
        ExactQuantile("id", 0.5, where = Some("id <= 5"))
          .calculate(df).value.get shouldBe 3.0 +- 1e-9
        // disabled guard (0) lets the full column through the fused buffer
        ExactQuantileGuard.maxBufferedValues = 0L
        ExactQuantile("id", 0.5).calculate(df).value.get shouldBe 3.5 +- 1e-9
      } finally {
        ExactQuantileGuard.maxBufferedValues = prev
      }
    }

    "match the built-in percentile exactly via the distributed selection" in {
      val rnd = new scala.util.Random(42)
      val spark = df.sparkSession
      import spark.implicits._
      // duplicates, negatives, skew; multiple input partitions
      val values = Seq.fill(5000)(math.floor(rnd.nextGaussian() * 1000) / 4.0) ++
        Seq.fill(200)(7.25) ++ Seq(-1e9, 1e9)
      val data = spark.createDataset(values).toDF("v").repartition(7)
      val qs = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 0.999, 1.0)
      import org.apache.spark.sql.functions._
      val expected = data
        .agg(percentile(col("v"), array(qs.map(lit): _*))).collect().head
        .getSeq[Double](0)
      val got = DistributedExactQuantile.percentiles(data, "v", None, qs).get
      qs.zip(expected).foreach { case (q, e) =>
        withClue(s"q=$q: ") { got(q) shouldBe e +- math.max(1e-9, math.abs(e) * 1e-12) }
      }
      // where-clause and empty-result behavior
      DistributedExactQuantile.percentiles(data, "v", Some("v > 1e10"), Seq(0.5)) shouldBe None
      val gotW = DistributedExactQuantile.percentiles(data, "v", Some("v >= 0"), Seq(0.5)).get
      val expW = data.agg(percentile(when(col("v") >= 0, col("v")), lit(0.5)))
        .collect().head.getDouble(0)
      gotW(0.5) shouldBe expW +- 1e-9
    }

    "route boundary ranks past empty range partitions" in {
      // Crafted prefix sums with zero-width (empty) partitions around an
      // exact boundary: binarySearch on the duplicate value may land on
      // any of the repeated indices, including an empty partition that
      // would never emit the rank in the walk.
      val offsets = Array(0L, 2L, 2L, 2L, 5L, 5L, 9L)
      DistributedExactQuantile.ownerOf(offsets, 0L) shouldBe 0
      DistributedExactQuantile.ownerOf(offsets, 1L) shouldBe 0
      DistributedExactQuantile.ownerOf(offsets, 2L) shouldBe 3 // NOT 1 or 2 (empty)
      DistributedExactQuantile.ownerOf(offsets, 4L) shouldBe 3
      DistributedExactQuantile.ownerOf(offsets, 5L) shouldBe 5 // NOT 4 (empty)
      DistributedExactQuantile.ownerOf(offsets, 8L) shouldBe 5
      // leading empty partitions: rank 0 must skip to the first non-empty
      val leading = Array(0L, 0L, 0L, 3L)
      DistributedExactQuantile.ownerOf(leading, 0L) shouldBe 2
      DistributedExactQuantile.ownerOf(leading, 2L) shouldBe 2

      // end-to-end: cardinality far below the 32 shuffle partitions, with
      // duplicate counts, so most range partitions are empty and every
      // floor(p)==ceil(p) rank sits on a partition boundary
      val spark = df.sparkSession
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val tiny = spark.createDataset(
        Seq.tabulate(600)(i => (i % 6 + 1).toDouble)).toDF("v").repartition(13)
      val qs = Seq(0.0, 0.2, 0.25, 0.5, 0.75, 1.0)
      val exp = tiny.agg(percentile(col("v"), array(qs.map(lit): _*)))
        .collect().head.getSeq[Double](0)
      val got = DistributedExactQuantile.percentiles(tiny, "v", None, qs).get
      qs.zip(exp).foreach { case (q, e) =>
        withClue(s"q=$q: ") { got(q) shouldBe e +- 1e-9 }
      }

      // infinities: a rank landing ON an infinite value must return that
      // value, not the NaN the interpolation arithmetic would produce
      // (Inf - Inf); matches the built-in percentile
      val withInf = spark.createDataset(
        Seq.fill(8)(Double.NegativeInfinity) ++ (1 to 4).map(_.toDouble) ++
          Seq.fill(8)(Double.PositiveInfinity)).toDF("v").repartition(5)
      // 0.4 and 0.6 STRADDLE an infinity (fractional rank between an
      // infinite and a finite neighbor) — the one-sided interpolation
      // algebra would produce NaN where the builtin propagates the infinity
      val qsInf = Seq(0.0, 0.1, 0.4, 0.5, 0.6, 0.9, 1.0)
      val expInf = withInf.agg(percentile(col("v"), array(qsInf.map(lit): _*)))
        .collect().head.getSeq[Double](0)
      val gotInf = DistributedExactQuantile.percentiles(withInf, "v", None, qsInf).get
      qsInf.zip(expInf).foreach { case (q, e) =>
        withClue(s"inf q=$q: ") {
          if (e.isInfinite || e.isNaN) gotInf(q) shouldBe e
          else gotInf(q) shouldBe e +- 1e-9
        }
      }
    }

    "poison MinLength under NullBehavior.Fail and accept zero-width regex matches" in {
      val s = spark
      import s.implicits._
      val withNull = Seq(Option("abc"), Option.empty[String]).toDF("t")
      // Spark's min DISCARDS NaN (sorts greatest): without the explicit
      // null check, Fail silently behaved like Ignore and returned 3.0
      val failMin = MinLength("t", nullBehavior = NullBehavior.Fail)
        .calculate(withNull).value.get
      failMin.isNaN shouldBe true
      MinLength("t", nullBehavior = NullBehavior.Ignore)
        .calculate(withNull).value.get shouldBe 3.0
      // a legitimate zero-width match ("" matches ^[a-z]*$) must COUNT
      val texts = Seq("", "abc", "ABC").toDF("t")
      PatternMatch("t", "^[a-z]*$").calculate(texts).value.get shouldBe (2.0 / 3.0)
    }

    "isolate runtime grouping failures to their analyzers on the stateful path" in {
      // the where-clause references a missing column: preconditions pass
      // (grouping column exists) but the shared groupBy fails at runtime —
      // that must become a failure metric for exactly this analyzer, while
      // every other analyzer (including other grouping keys) still succeeds
      val bad = Uniqueness(Seq("name"), Some("no_such_col > 0"))
      val ctx = graft.runners.AnalysisRunner.run(df,
        Seq[AnyAnalyzer](Size(), bad, Entropy("group")))
      metricValue(ctx.metric(Size()).get) shouldBe 6.0
      ctx.metric(bad).get.value.isFailure shouldBe true
      ctx.metric(Entropy("group")).get.value.isSuccess shouldBe true
    }

    "merge mergeable states correctly (partition + merge == full)" in {
      val left = df.filter("id <= 3")
      val right = df.filter("id > 3")

      def stateOf(d: org.apache.spark.sql.DataFrame): MomentsState =
        StandardDeviation("value").computeStateFrom(d).get

      val merged = stateOf(left).merge(stateOf(right))
      val full = stateOf(df)
      merged.n shouldBe full.n
      merged.mean shouldBe full.mean +- 1e-9
      merged.m2 shouldBe full.m2 +- 1e-9
    }
  }
}
