package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.core._
import graft.operators._
import graft.runners.AnalysisRunner

/** Property-based laws for the state algebra: computing per-partition
  * states and merging them must equal computing on the union — THE
  * correctness contract behind incremental / distributed aggregation
  * (SURVEY §1: State is a commutative semigroup). The reference only
  * spot-checks this; we generate.
  */
class StateMergeLawsSpec extends AnyWordSpec with Matchers with SparkSpec {

  /** Draws `n` deterministic samples per generator pair and runs the body
    * (scalatestplus-scalacheck bridge is not on the offline classpath).
    */
  private def forAll[A](ga: Gen[A], gb: Gen[A], n: Int = 10)(body: (A, A) => Unit): Unit = {
    var seed = Seed(42L)
    (0 until n).foreach { i =>
      val a = ga.pureApply(Gen.Parameters.default.withSize(20 + 8 * i), seed)
      seed = seed.next
      val b = gb.pureApply(Gen.Parameters.default.withSize(15 + 7 * i), seed)
      seed = seed.next
      body(a, b)
    }
  }

  private val doubles: Gen[List[Double]] =
    Gen.listOf(Gen.chooseNum(-1000.0, 1000.0).map(v => math.rint(v * 100) / 100))

  private def df(values: Seq[Double]) = {
    val s = spark
    import s.implicits._
    values.toDF("v")
  }

  private def mergedVsWhole[S <: State[S]](
      analyzer: Analyzer[S, _ <: Metric[_]],
      a: Seq[Double], b: Seq[Double]): (Option[Double], Option[Double]) = {
    val sa = analyzer.computeStateFrom(df(a))
    val sb = analyzer.computeStateFrom(df(b))
    val merged = (sa, sb) match {
      case (Some(x), Some(y)) => Some(x.merge(y))
      case (x, y) => x.orElse(y)
    }
    def value(state: Option[S]): Option[Double] =
      analyzer.computeMetricFrom(state) match {
        case DoubleMetric(_, _, _, v, _) => v.toOption
        case _ => None
      }
    (value(merged), value(analyzer.computeStateFrom(df(a ++ b))))
  }

  private def lawHolds(analyzer: Analyzer[_ <: State[_], _ <: Metric[_]],
      tolerance: Double): Unit = {
    forAll(doubles, doubles) { (a: List[Double], b: List[Double]) =>
      val (merged, whole) =
        mergedVsWhole(analyzer.asInstanceOf[Analyzer[NumMatches, Metric[_]]], a, b)
      (merged, whole) match {
        case (Some(m), Some(w)) =>
          if (w == 0.0) math.abs(m) should be <= tolerance
          else math.abs(m - w) / math.max(math.abs(w), 1.0) should be <= tolerance
        case (m, w) => m shouldBe w
      }
    }
  }

  "merge(compute(A), compute(B)) == compute(A ++ B)" should {
    "hold for Size" in lawHolds(Size(), 0.0)
    "hold for Completeness" in lawHolds(Completeness("v"), 0.0)
    "hold for Sum" in lawHolds(Sum("v"), 1e-9)
    "hold for Mean" in lawHolds(Mean("v"), 1e-9)
    "hold for Minimum" in lawHolds(Minimum("v"), 0.0)
    "hold for Maximum" in lawHolds(Maximum("v"), 0.0)
    "hold for ValueRange" in lawHolds(ValueRange("v"), 0.0)
    "hold for StandardDeviation" in lawHolds(StandardDeviation("v"), 1e-7)
    "hold for Variance" in lawHolds(Variance("v"), 1e-7)
    "hold for Skewness" in lawHolds(Skewness("v"), 1e-6)
    "hold for Kurtosis" in lawHolds(Kurtosis("v"), 1e-6)
    "hold for ZerosCount" in lawHolds(ZerosCount("v"), 0.0)
    "hold for ApproxCountDistinct (exactly mergeable sketch)" in
      lawHolds(ApproxCountDistinct("v"), 0.0)
  }

  "correlation co-moment merge" should {
    "match whole-data computation" in {
      val s = spark
      import s.implicits._
      val pairs: Gen[List[(Double, Double)]] = Gen.listOf(
        Gen.zip(Gen.chooseNum(-100.0, 100.0), Gen.chooseNum(-100.0, 100.0)))
      forAll(pairs, pairs) { (a, b) =>
        if ((a ++ b).map(_._1).distinct.size > 1 &&
            (a ++ b).map(_._2).distinct.size > 1) {
          val analyzer = Correlation("x", "y")
          def d(vs: Seq[(Double, Double)]) = vs.toDF("x", "y")
          val sa = analyzer.computeStateFrom(d(a))
          val sb = analyzer.computeStateFrom(d(b))
          val merged = (sa, sb) match {
            case (Some(x), Some(y)) => Some(x.merge(y))
            case (x, y) => x.orElse(y)
          }
          val mv = analyzer.computeMetricFrom(merged).value.toOption
          val wv = analyzer.computeMetricFrom(
            analyzer.computeStateFrom(d(a ++ b))).value.toOption
          (mv, wv) match {
            case (Some(m), Some(w)) => math.abs(m - w) should be <= 1e-7
            case (m, w) => m shouldBe w
          }
        }
      }
    }
  }

  "grouping-state outer-join merge" should {
    "make partitioned uniqueness equal whole-data uniqueness" in {
      val s = spark
      import s.implicits._
      val keys: Gen[List[Int]] = Gen.listOf(Gen.chooseNum(0, 20))
      forAll(keys, keys) { (a, b) =>
        if (a.nonEmpty || b.nonEmpty) {
          val analyzer = Uniqueness(Seq("k"))
          def d(vs: Seq[Int]) = vs.toDF("k")
          val sa = analyzer.computeStateFrom(d(a))
          val sb = analyzer.computeStateFrom(d(b))
          val merged = (sa, sb) match {
            case (Some(x), Some(y)) => Some(x.merge(y))
            case (x, y) => x.orElse(y)
          }
          val mv = analyzer.computeMetricFrom(merged).value.toOption
          val wv = analyzer.computeMetricFrom(
            analyzer.computeStateFrom(d(a ++ b))).value.toOption
          mv shouldBe wv
        }
      }
    }
  }

  "approx-quantile sketch merge" should {
    "keep the merged median within epsilon of the whole-data exact median" in {
      forAll(doubles, doubles, n = 6) { (a: List[Double], b: List[Double]) =>
        val all = a ++ b
        if (all.size >= 10) {
          val analyzer = ApproxQuantile("v", 0.5)
          val sa = analyzer.computeStateFrom(df(a))
          val sb = analyzer.computeStateFrom(df(b))
          val merged = (sa, sb) match {
            case (Some(x), Some(y)) => Some(x.merge(y))
            case (x, y) => x.orElse(y)
          }
          val m = analyzer.computeMetricFrom(merged).value.get
          // epsilon in RANK: the merged estimate must sit within 10% of the
          // true rank in the sorted union (KLL guarantees rank error, not
          // value error). Ties make a value's rank an interval
          // [count(<m), count(<=m)] — the interval must overlap [0.4, 0.6].
          val n = all.size.toDouble
          val lowRank = all.count(_ < m) / n
          val highRank = all.count(_ <= m) / n
          lowRank should be <= 0.60
          highRank should be >= 0.40
        }
      }
    }

    "merge keyed quantiles and agree with the single-pass metric" in {
      val a = (1 to 4000).map(_.toDouble)
      val b = (4001 to 10000).map(_.toDouble)
      val analyzer = ApproxQuantiles("v", Seq(0.25, 0.5, 0.75))
      val sa = analyzer.computeStateFrom(df(a)).get
      val sb = analyzer.computeStateFrom(df(b)).get
      val merged = analyzer.computeMetricFrom(Some(sa.merge(sb))).value.get
      merged.keySet shouldBe Set("0.25", "0.5", "0.75")
      merged("0.25") shouldBe 2500.0 +- 250.0
      merged("0.5") shouldBe 5000.0 +- 500.0
      merged("0.75") shouldBe 7500.0 +- 750.0
    }
  }

  "run with a provider" should {
    "equal a single run over the concatenation" in {
      val s = spark
      import s.implicits._
      val batch1 = (1 to 500).map(_.toDouble).toDF("v")
      val batch2 = (300 to 900).map(_.toDouble).toDF("v")
      val whole = ((1 to 500) ++ (300 to 900)).map(_.toDouble).toDF("v")

      // Entropy shares Uniqueness's frequency table; the two KLL sketches
      // share one pass and stay below their compaction threshold (exact)
      val analyzers = Seq[AnyAnalyzer](Size(), Mean("v"), StandardDeviation("v"),
        Minimum("v"), Uniqueness(Seq("v")), Entropy("v"),
        graft.sketch.KLLSketchAnalyzer("v"),
        graft.sketch.KLLSketchAnalyzer("v", graft.sketch.KLLParameters(numberOfBuckets = 4)))
      val provider = new InMemoryStateProvider
      AnalysisRunner.run(batch1, analyzers,
        aggregateWith = Some(provider), saveStatesWith = Some(provider))
      val incremental = AnalysisRunner.run(batch2, analyzers,
        aggregateWith = Some(provider), saveStatesWith = Some(provider))
      val full = AnalysisRunner.run(whole, analyzers)

      analyzers.foreach { a =>
        val inc = incremental.metric(a).get.value.get
        val ful = full.metric(a).get.value.get
        (inc, ful) match {
          case (i: Double, f: Double) => math.abs(i - f) should be <= 1e-9
          case (i: graft.sketch.BucketDistribution, f: graft.sketch.BucketDistribution) =>
            i.buckets shouldBe f.buckets
          case (i, f) => i shouldBe f
        }
      }
    }
  }

  "delta appends through HdfsStateProvider" should {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col

    def location(tmp: String, day: Int) = f"$tmp/day-$day%02d/state"

    /** 400 rows: `mono` is near-monotonic (each day's range overlaps only
      * the previous day's by 50 keys), `ov` overlaps every day, `nk` has
      * nulls and forms a two-column key with `a`, and `flag` feeds a
      * WHERE filter.
      */
    def day(d: Int): DataFrame = {
      val s = spark
      import s.implicits._
      val rnd = new scala.util.Random(d)
      (0 until 400).map { i =>
        (d * 350L + i + (if (rnd.nextInt(20) == 0) 1 else 0),
          if (rnd.nextInt(10) == 0) null else s"k${rnd.nextInt(60)}",
          rnd.nextInt(500), rnd.nextInt(7),
          if (rnd.nextInt(8) == 0) null else s"b${rnd.nextInt(5)}",
          rnd.nextInt(3))
      }.toDF("mono", "nk", "ov", "a", "b", "flag")
    }

    def value(m: Metric[_]): Any = m.value.get

    def closeTo(inc: Any, ful: Any): Boolean = (inc, ful) match {
      case (i: Double, f: Double) => i == f || math.abs(i - f) <= 1e-9 * math.abs(f)
      case (i, f) => i == f
    }

    "equal a single run over the concatenated days, with flat state bytes per append" in {
      val tmp = java.nio.file.Files.createTempDirectory("graft-delta-days").toString
      val inWhere = Some("flag = 1")
      val analyzers = Seq[AnyAnalyzer](
        Uniqueness(Seq("mono")), Distinctness(Seq("mono")), DuplicateRowCount(Seq("mono")),
        UniqueValueRatio(Seq("nk")), CountDistinct(Seq("nk")), Entropy("nk"),
        Uniqueness(Seq("ov"), inWhere), Distinctness(Seq("ov"), inWhere),
        Entropy("ov", inWhere),
        Uniqueness(Seq("nk", "a")), CountDistinct(Seq("nk", "a")),
        DuplicateRowCount(Seq("nk", "a")), UniqueValueRatio(Seq("a", "nk")),
        // MutualInformation's family takes the full path
        Uniqueness(Seq("a", "b")), MutualInformation(Seq("a", "b")),
        Histogram("nk"))
      var all: DataFrame = null
      // past the run limit, so that one append compacts
      val appends = (1 to FrequencyRuns.MaxInheritedRuns + 2).map { d =>
        val today = day(d)
        all = if (all == null) today else all.unionByName(today)
        val loader = if (d == 1) None else Some(new HdfsStateProvider(spark, location(tmp, d - 1)))
        val inc = AnalysisRunner.run(today, analyzers, aggregateWith = loader,
          saveStatesWith = Some(new HdfsStateProvider(spark, location(tmp, d))))
        val full = AnalysisRunner.run(all, analyzers)
        analyzers.foreach { a =>
          withClue(s"day $d, $a: ") {
            closeTo(value(inc.metric(a).get), value(full.metric(a).get)) shouldBe true
          }
        }
        val stored = new HdfsStateProvider(spark, location(tmp, d))
        // the delta path's precondition: every frequency-based member
        // stores its slot values
        analyzers.collect { case f: FrequencyBasedAnalyzer => f }
          .foreach(f => stored.load(f).get.sums.keySet shouldBe Set(f))
        val runs = stored.load(Uniqueness(Seq("mono"))).get.runs.size
        val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(
          new java.io.File(location(tmp, d)).getParentFile)
        (runs, bytes)
      }
      // one run more per append, or one compacted run
      val runCounts = appends.map(_._1)
      runCounts.head shouldBe 1
      runCounts.indices.tail.foreach { i =>
        Seq(runCounts(i - 1) + 1, 1) should contain(runCounts(i))
      }
      runCounts.max should be <= FrequencyRuns.MaxInheritedRuns
      val compactions = runCounts.indices.tail.filter(i => runCounts(i) <= runCounts(i - 1))
      compactions should not be empty
      appends.indices.filterNot(compactions.contains).foreach { i =>
        withClue(s"day ${i + 1} wrote ${appends(i)._2} bytes, day 1 ${appends.head._2}: ") {
          appends(i)._2 should be <= 2 * appends.head._2
        }
      }
    }

    "read no stored run for a day of keys outside every stored range" in {
      val tmp = java.nio.file.Files.createTempDirectory("graft-delta-prune").toString
      val analyzers = Seq[AnyAnalyzer](Uniqueness(Seq("mono")), Entropy("mono"),
        CountDistinct(Seq("mono")))
      AnalysisRunner.run(day(1), analyzers,
        saveStatesWith = Some(new HdfsStateProvider(spark, location(tmp, 1))))
      // make every stored run unreadable: a job that reads one fails
      val runs = new HdfsStateProvider(spark, location(tmp, 1)).load(Entropy("mono")).get.runs
      runs.foreach { r =>
        new java.io.File(r.path).listFiles
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.write(f.toPath, "not parquet".getBytes))
      }
      val later = day(3) // keys 1050..1450, outside day 1's 350..750
      val inc = AnalysisRunner.run(later, analyzers,
        aggregateWith = Some(new HdfsStateProvider(spark, location(tmp, 1))),
        saveStatesWith = Some(new HdfsStateProvider(spark, location(tmp, 2))))
      val full = AnalysisRunner.run(day(1).unionByName(later), analyzers)
      analyzers.foreach { a =>
        withClue(s"$a: ") {
          closeTo(value(inc.metric(a).get), value(full.metric(a).get)) shouldBe true
        }
      }
      // an overlapping day must read the run, so the corruption shows
      val overlapping = AnalysisRunner.run(day(2), analyzers,
        aggregateWith = Some(new HdfsStateProvider(spark, location(tmp, 1))))
      overlapping.metric(Entropy("mono")).get.value.isFailure shouldBe true
    }

    "fail loudly, naming the run, when an inherited run is deleted" in {
      val tmp = java.nio.file.Files.createTempDirectory("graft-delta-lost").toString
      val analyzers = Seq[AnyAnalyzer](Uniqueness(Seq("mono")))
      AnalysisRunner.run(day(1), analyzers,
        saveStatesWith = Some(new HdfsStateProvider(spark, location(tmp, 1))))
      // day 3's keys miss day 1's run: the append inherits it
      AnalysisRunner.run(day(3), analyzers,
        aggregateWith = Some(new HdfsStateProvider(spark, location(tmp, 1))),
        saveStatesWith = Some(new HdfsStateProvider(spark, location(tmp, 2))))
      val inherited = new HdfsStateProvider(spark, location(tmp, 2))
        .load(Uniqueness(Seq("mono"))).get.runs.head.path
      inherited should include("day-01")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(inherited))
      val e = the[IllegalStateException] thrownBy
        new HdfsStateProvider(spark, location(tmp, 2)).load(Uniqueness(Seq("mono")))
      e.getMessage should include(inherited)
    }
  }
}
