package graft

import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.anomaly._
import graft.checks._
import graft.core._
import graft.operators._
import graft.repository._
import graft.runners.{AnalysisRunner, AnalyzerContext}

class RepositoryAnomalySpec extends AnyWordSpec with Matchers with SparkSpec {

  private def ctxWith(value: Double): AnalyzerContext =
    AnalyzerContext(Map[AnyAnalyzer, Metric[_]](
      Size() -> DoubleMetric(Entity.Dataset, "Size", "*", scala.util.Success(value))))

  "InMemoryMetricsRepository" should {
    "save and load by key, filter by tags and time" in {
      val repo = new InMemoryMetricsRepository
      repo.save(ResultKey(1000, Map("env" -> "dev")), ctxWith(10))
      repo.save(ResultKey(2000, Map("env" -> "prod")), ctxWith(20))
      repo.save(ResultKey(3000, Map("env" -> "prod")), ctxWith(30))

      repo.loadByKey(ResultKey(1000, Map("env" -> "dev"))).isDefined shouldBe true
      repo.load().withTagValues(Map("env" -> "prod")).get() should have size 2
      repo.load().after(2000).get() should have size 2
      repo.load().before(1500).get() should have size 1

      val series = repo.load().forAnalyzers(Seq(Size())).timeSeriesOf(Size())
      series shouldBe Seq(1000L -> 10.0, 2000L -> 20.0, 3000L -> 30.0)
    }
  }

  "FileSystemMetricsRepository" should {
    "round-trip metrics as JSON" in {
      val tmp = java.nio.file.Files.createTempDirectory("graft-repo").toString
      val repo = new FileSystemMetricsRepository(spark, s"$tmp/metrics.json")
      val ctx = AnalysisRunner.run(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
        Seq(Size(), Completeness("l_orderkey"), Mean("l_quantity")))
      repo.save(ResultKey(1234, Map("run" -> "r1")), ctx)
      repo.save(ResultKey(5678, Map("run" -> "r2")), ctx)

      val loaded = repo.load().get()
      loaded should have size 2
      val reloaded = repo.loadByKey(ResultKey(1234, Map("run" -> "r1"))).get
      reloaded.metric(Size()).get.value.get shouldBe 6000.0
      reloaded.metric(Mean("l_quantity")).get.value.isSuccess shouldBe true
    }
  }

  "SparkTableMetricsRepository" should {
    "round-trip metrics through a catalog table with tag and time filters" in {
      val tableName = "graft_metrics_test"
      spark.sql(s"DROP TABLE IF EXISTS $tableName")
      try {
        val repo = new SparkTableMetricsRepository(spark, tableName)
        repo.save(ResultKey(1000, Map("env" -> "dev")), ctxWith(10))
        repo.save(ResultKey(2000, Map("env" -> "prod")), ctxWith(20))
        repo.save(ResultKey(3000, Map("env" -> "prod")), ctxWith(30))

        repo.loadByKey(ResultKey(1000, Map("env" -> "dev")))
          .get.metric(Size()).get.value.get shouldBe 10.0
        repo.load().withTagValues(Map("env" -> "prod")).get() should have size 2
        repo.load().after(2000).get() should have size 2
        repo.load().before(1500).get() should have size 1
        repo.load().timeSeriesOf(Size()) shouldBe
          Seq(1000L -> 10.0, 2000L -> 20.0, 3000L -> 30.0)

        // re-saving a key appends; the latest write wins on read
        repo.save(ResultKey(2000, Map("env" -> "prod")), ctxWith(25))
        repo.loadByKey(ResultKey(2000, Map("env" -> "prod")))
          .get.metric(Size()).get.value.get shouldBe 25.0
        repo.load().get() should have size 3
      } finally spark.sql(s"DROP TABLE IF EXISTS $tableName")
    }

    "push date bounds and tag equality into the scan plan" in {
      val tableName = "graft_metrics_prune_test"
      spark.sql(s"DROP TABLE IF EXISTS $tableName")
      try {
        val repo = new SparkTableMetricsRepository(spark, tableName)
        repo.save(ResultKey(1000, Map("env" -> "dev")), ctxWith(10))
        repo.save(ResultKey(2000, Map("env" -> "prod", "team" -> "a")), ctxWith(20))
        repo.save(ResultKey(3000, Map("env" -> "prod")), ctxWith(30))

        // the loader's filters are PLAN predicates, not driver-side sifting
        val plan = repo.scanPlan(Some(1500L), Some(2500L),
          Some(Map("env" -> "prod"))).queryExecution.optimizedPlan
        val rendered = plan.toString
        rendered should include("dataset_date")
        rendered should include("array_contains")
        // and they produce the right rows end to end
        val rows = repo.load().after(1500).before(2500)
          .withTagValues(Map("env" -> "prod")).get()
        rows should have size 1
        rows.head.resultKey.dataSetDate shouldBe 2000L
        // tag equality is exact per element: "env=prod" must not match a
        // row whose tag string merely CONTAINS the text (e.g. env=prod2)
        repo.save(ResultKey(4000, Map("env" -> "prod2")), ctxWith(40))
        repo.load().withTagValues(Map("env" -> "prod")).get()
          .map(_.resultKey.dataSetDate).sorted shouldBe Seq(2000L, 3000L)
      } finally spark.sql(s"DROP TABLE IF EXISTS $tableName")
    }

    "migrate a legacy 3-column table so new saves carry ordering" in {
      val tableName = "graft_metrics_legacy_test"
      spark.sql(s"DROP TABLE IF EXISTS $tableName")
      try {
        // legacy layout: no saved_at column
        val s = spark
        import s.implicits._
        val legacyRow = AnalysisResultSerde.serialize(
          Seq(AnalysisResult(ResultKey(1000, Map("env" -> "dev")),
            ctxWith(10))))
        Seq((1000L, "env=dev", legacyRow))
          .toDF("dataset_date", "tags", "serialized_result")
          .write.saveAsTable(tableName)

        val repo = new SparkTableMetricsRepository(spark, tableName)
        // new saves on the legacy table must keep last-write-wins working
        repo.save(ResultKey(1000, Map("env" -> "dev")), ctxWith(11))
        repo.save(ResultKey(1000, Map("env" -> "dev")), ctxWith(12))
        spark.table(tableName).columns should contain("saved_at")
        // legacy row (null saved_at) orders oldest; the newest save wins
        repo.loadByKey(ResultKey(1000, Map("env" -> "dev")))
          .get.metric(Size()).get.value.get shouldBe 12.0
      } finally spark.sql(s"DROP TABLE IF EXISTS $tableName")
    }
  }

  "AnalysisResultSerde" should {
    "round-trip histogram, keyed, attribute and KLL metrics" in {
      import graft.sketch._
      val hist = Histogram("col")
      val aq = ApproxQuantiles("q", Seq(0.25, 0.75))
      val kll = KLLSketchAnalyzer("k", KLLParameters(sketchSize = 256, numberOfBuckets = 4))
      val sketch = new KLLSketch(256)
      (1 to 100).foreach(i => sketch.update(i.toDouble))
      val ctx = AnalyzerContext(Map[AnyAnalyzer, Metric[_]](
        hist -> HistogramMetric("col", scala.util.Success(Distribution(
          Map("a" -> DistributionValue(3, 0.75), "b" -> DistributionValue(1, 0.25)), 2))),
        aq -> KeyedDoubleMetric(Entity.Column, "ApproxQuantiles", "q",
          scala.util.Success(Map("0.25" -> 12.0, "0.75" -> 37.0))),
        kll -> KLLMetric("k", scala.util.Success(
          BucketDistribution(sketch.buckets(4), Seq(0.64, 256.0), sketch)))))
      val back = AnalysisResultSerde.deserialize(
        AnalysisResultSerde.serialize(Seq(AnalysisResult(ResultKey(7, Map("t" -> "v")), ctx))))
      back should have size 1
      val c = back.head.analyzerContext
      c.metric(hist).get.value.get.asInstanceOf[Distribution]("a") shouldBe
        DistributionValue(3, 0.75)
      c.metric(aq).get.value.get shouldBe Map("0.25" -> 12.0, "0.75" -> 37.0)
      val dist = c.metric(kll).get.value.get.asInstanceOf[BucketDistribution]
      dist.buckets shouldBe sketch.buckets(4)
      dist.sketch.count shouldBe 100L
      dist.sketch.quantile(0.5) shouldBe sketch.quantile(0.5)
    }

    "fail loudly on unsupported metrics when asked" in {
      val opaque = graft.operators.CustomAggregator(
        df => graft.operators.AggregatedMetricState(Map("x" -> 1L), 1L), "Custom")
      val ctx = AnalyzerContext(Map[AnyAnalyzer, Metric[_]](
        opaque -> KeyedDoubleMetric(Entity.Dataset, "Custom", "*",
          scala.util.Success(Map("x" -> 1.0)))))
      // keyed metric serializes fine even under an opaque analyzer...
      noException should be thrownBy AnalysisResultSerde.serialize(
        Seq(AnalysisResult(ResultKey(1), ctx)), failOnUnsupported = true)
      // ...but a metric kind with no JSON form raises in strict mode
      val unsupported = AnalyzerContext(Map[AnyAnalyzer, Metric[_]](
        Size() -> new Metric[Unit] {
          val entity: Entity = Entity.Dataset
          val name = "Ghost"
          val instance = "*"
          val value: scala.util.Try[Unit] = scala.util.Success(())
        }))
      an[MetricCalculationException] should be thrownBy AnalysisResultSerde.serialize(
        Seq(AnalysisResult(ResultKey(2), unsupported)), failOnUnsupported = true)
    }
  }

  "anomaly strategies" should {
    "flag threshold violations" in {
      val anomalies = SimpleThresholdStrategy(lowerBound = 0, upperBound = 1.0)
        .detect(Vector(0.5, 0.9, 1.2, 0.3, -0.1))
      anomalies.map(_._1) shouldBe Seq(2, 4)
    }

    "flag absolute changes" in {
      val anomalies = AbsoluteChangeStrategy(Some(-2.0), Some(2.0))
        .detect(Vector(1.0, 2.0, 3.0, 10.0, 11.0))
      anomalies.map(_._1) shouldBe Seq(3)
    }

    "flag relative changes" in {
      val anomalies = RelativeRateOfChangeStrategy(Some(0.5), Some(2.0))
        .detect(Vector(100.0, 110.0, 120.0, 400.0, 420.0))
      anomalies.map(_._1) shouldBe Seq(3)
    }

    "flag online-normal deviations" in {
      val base = Vector.tabulate(30)(i => 10.0 + (i % 3) * 0.1)
      val anomalies = OnlineNormalStrategy(Some(3.0), Some(3.0))
        .detect(base :+ 50.0)
      anomalies.map(_._1) should contain(30)
    }

    "flag batch-normal deviations within the search interval" in {
      val base = Vector.tabulate(30)(i => 10.0 + (i % 3) * 0.1)
      val anomalies = BatchNormalStrategy(Some(3.0), Some(3.0))
        .detect(base :+ 99.0, (30, 31))
      anomalies.map(_._1) shouldBe Seq(30)
    }

    "detect seasonal breaks with HoltWinters" in {
      // two clean weekly seasons then a corrupted point
      val season = Vector(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0)
      val series = season ++ season ++ Vector(1.0, 2.0, 30.0)
      val anomalies = HoltWinters(HoltWinters.SeriesSeasonality.Daily)
        .detect(series, (14, 17))
      anomalies.map(_._1) should contain(16)
    }

    "judge the search interval out-of-sample so level shifts stay visible" in {
      // two clean seasons, then an entire season shifted by +20: training
      // in-sample would absorb the shift into the level state and inflate
      // the residual SD; the out-of-sample split must flag every point
      val season = Vector(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0)
      val series = season ++ season ++ season.map(_ + 20.0)
      val anomalies = HoltWinters(HoltWinters.SeriesSeasonality.Daily)
        .detect(series, (14, 21))
      anomalies.map(_._1) shouldBe (14 until 21)
    }
  }

  "anomaly verification" should {
    "pass a normal value and fail an anomalous one" in {
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val repo = new InMemoryMetricsRepository
      // seed history: sizes around 6000
      Seq(1L, 2L, 3L, 4L).foreach { t =>
        repo.save(ResultKey(t), ctxWith(6000.0 + t))
      }
      val ok = VerificationSuite().onData(df)
        .useRepository(repo)
        .addAnomalyCheck(
          RelativeRateOfChangeStrategy(Some(0.5), Some(2.0)), Size(), "size anomaly")
        .run()
      ok.status shouldBe CheckStatus.Success

      val repo2 = new InMemoryMetricsRepository
      Seq(1L, 2L, 3L, 4L).foreach { t => repo2.save(ResultKey(t), ctxWith(100.0)) }
      val bad = VerificationSuite().onData(df)
        .useRepository(repo2)
        .addAnomalyCheck(
          RelativeRateOfChangeStrategy(Some(0.5), Some(2.0)), Size(), "size anomaly")
        .run()
      bad.status shouldBe CheckStatus.Warning
    }

    "compose the Check-level isNewestPointNonAnomalous inside a check chain" in {
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val repo = new InMemoryMetricsRepository
      Seq(1L, 2L, 3L, 4L).foreach { t =>
        repo.save(ResultKey(t), ctxWith(6000.0 + t))
      }
      // the sugar composes beside ordinary constraints in ONE check
      val check = Check(CheckLevel.Error, "size history")
        .hasSize(_ > 0)
        .isNewestPointNonAnomalous(repo,
          RelativeRateOfChangeStrategy(Some(0.5), Some(2.0)), Size())
      val ok = VerificationSuite().onData(df).addCheck(check).run()
      ok.status shouldBe CheckStatus.Success

      val repo2 = new InMemoryMetricsRepository
      Seq(1L, 2L, 3L, 4L).foreach { t => repo2.save(ResultKey(t), ctxWith(100.0)) }
      val bad = VerificationSuite().onData(df)
        .addCheck(Check(CheckLevel.Error, "size history")
          .isNewestPointNonAnomalous(repo2,
            RelativeRateOfChangeStrategy(Some(0.5), Some(2.0)), Size()))
        .run()
      bad.status shouldBe CheckStatus.Error
    }
  }

  "state providers" should {
    "persist and merge states incrementally" in {
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val left = df.filter("l_quantity <= 25")
      val right = df.filter("l_quantity > 25")
      val analyzers: Seq[AnyAnalyzer] = Seq(
        Size(), Mean("l_quantity"), StandardDeviation("l_quantity"),
        ApproxCountDistinct("l_partkey"), Uniqueness(Seq("l_orderkey", "l_linenumber")))

      val p1 = new InMemoryStateProvider
      val p2 = new InMemoryStateProvider
      AnalysisRunner.run(left, analyzers, saveStatesWith = Some(p1))
      AnalysisRunner.run(right, analyzers, saveStatesWith = Some(p2))

      val merged = AnalysisRunner.runOnAggregatedStates(analyzers, Seq(p1, p2))
      val full = AnalysisRunner.run(df, analyzers)

      analyzers.foreach { a =>
        withClue(s"analyzer $a: ") {
          val m = merged.metric(a).get.value.get.asInstanceOf[Double]
          val f = full.metric(a).get.value.get.asInstanceOf[Double]
          m shouldBe f +- math.max(1e-9, math.abs(f) * 1e-9)
        }
      }
    }

    "persist states to the filesystem and reload them" in {
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val tmp = java.nio.file.Files.createTempDirectory("graft-states").toString
      val provider = new HdfsStateProvider(spark, s"$tmp/state")
      val analyzers: Seq[AnyAnalyzer] = Seq(
        Size(), Mean("l_quantity"), ApproxCountDistinct("l_partkey"),
        Uniqueness(Seq("l_orderkey")), ApproxQuantile("l_extendedprice", 0.5))

      AnalysisRunner.run(df, analyzers, saveStatesWith = Some(provider))
      val restored = AnalysisRunner.runOnAggregatedStates(analyzers, Seq(provider))
      val direct = AnalysisRunner.run(df, analyzers)

      analyzers.foreach { a =>
        withClue(s"analyzer $a: ") {
          restored.metric(a).get.value.get shouldBe direct.metric(a).get.value.get
        }
      }
    }

    "round-trip dataset-level analyzer states (persist AND load)" in {
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      df.createOrReplaceTempView("graft_prov_v")
      val tmp = java.nio.file.Files.createTempDirectory("graft-states2").toString
      val provider = new HdfsStateProvider(spark, s"$tmp/state")
      // these persisted fine (state-type match) but silently failed to
      // LOAD before the analyzer-side cases were added
      val analyzers: Seq[AnyAnalyzer] = Seq(
        ColumnCount(), ColumnExists("l_quantity"),
        CustomSql("SELECT sum(l_quantity) FROM graft_prov_v"))
      AnalysisRunner.run(df, analyzers, saveStatesWith = Some(provider))
      val restored = AnalysisRunner.runOnAggregatedStates(analyzers,
        Seq(new HdfsStateProvider(spark, s"$tmp/state")))
      val direct = AnalysisRunner.run(df, analyzers)
      analyzers.foreach { a =>
        withClue(s"analyzer $a: ") {
          restored.metric(a).get.value.get shouldBe direct.metric(a).get.value.get
        }
      }
    }

    "reject persisting analyzers whose identity contains a lambda" in {
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val tmp = java.nio.file.Files.createTempDirectory("graft-states3").toString
      val provider = new HdfsStateProvider(spark, s"$tmp/state")
      val h = Histogram("l_returnflag",
        binningFunc = Some(c => org.apache.spark.sql.functions.upper(c)))
      val state = h.computeStateFrom(df).get
      // the state key would be unloadable by any later JVM — fail loudly
      an[IllegalArgumentException] should be thrownBy provider.persist(h, state)
      // but the guard is persist-side ONLY: load() answers None (nothing
      // was ever persisted under that key) so an aggregateWith run still
      // computes fresh instead of surfacing a failure metric
      provider.load(h) shouldBe None
      val ctx = AnalysisRunner.run(df, Seq(h),
        aggregateWith = Some(provider))
      ctx.metric(h).get.value.isSuccess shouldBe true
    }

    "fail loudly for HistogramBinned in cumulative stateful runs" in {
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val hb = HistogramBinned("l_quantity", binCount = Some(3))
      // plain stateful run (no cross-run state): per-batch metric is fine
      val plain = AnalysisRunner.run(df, Seq(hb))
      plain.metric(hb).get.value.isSuccess shouldBe true
      // cumulative run: a current-batch-only number silently mixed into
      // cumulative metrics is corruption — must surface as a failure
      val agg = AnalysisRunner.run(df, Seq(hb),
        aggregateWith = Some(new InMemoryStateProvider))
      agg.metric(hb).get.value.isFailure shouldBe true
      val save = AnalysisRunner.run(df, Seq(hb),
        saveStatesWith = Some(new InMemoryStateProvider))
      save.metric(hb).get.value.isFailure shouldBe true
    }

    "survive one corrupted metric entry when deserializing a snapshot" in {
      val ctx = AnalyzerContext(Map[AnyAnalyzer, Metric[_]](
        Size() -> DoubleMetric(Entity.Dataset, "Size", "*", scala.util.Success(42.0)),
        Mean("x") -> DoubleMetric(Entity.Column, "Mean", "x", scala.util.Success(7.0))))
      val json = AnalysisResultSerde.serialize(
        Seq(AnalysisResult(ResultKey(1L), ctx)))
      // corrupt ONE metric's analyzer type: the other must survive
      val corrupted = json.replaceFirst("\"Mean\"", "\"NoSuchAnalyzerType\"")
      val restored = AnalysisResultSerde.deserialize(corrupted)
      restored.length shouldBe 1
      restored.head.analyzerContext.metric(Size())
        .map(_.value.get) shouldBe Some(42.0)
    }

    "honor disabled (None) deviation factors and zero baselines" in {
      // upper side disabled + constant prefix (stdDev 0): previously the
      // MaxValue*0 bound collapsed to the mean and flagged the spike
      OnlineNormalStrategy(lowerDeviationFactor = Some(3.0),
        upperDeviationFactor = None, ignoreAnomalies = false)
        .detect(Vector(1, 1, 1, 1, 10)) shouldBe empty
      BatchNormalStrategy(Some(3.0), None)
        .detect(Vector(1, 1, 1, 1, 7), (4, 5)) shouldBe empty
      // zero baseline keeps the DIRECTION of the move: a crash downward
      // must not be reported on the increase side
      RelativeRateOfChangeStrategy(maxRateIncrease = Some(2.0))
        .detect(Vector(0.0, -8.0)) shouldBe empty
      RelativeRateOfChangeStrategy(maxRateDecrease = Some(0.5))
        .detect(Vector(0.0, -8.0)).map(_._1) shouldBe Seq(1)
      // a decrease-only strategy must not flag a jump off a zero baseline
      RelativeRateOfChangeStrategy(maxRateDecrease = Some(0.5))
        .detect(Vector(0.0, 5.0)) shouldBe empty
      // 0 -> 0 is "no change" (ratio 1), not an infinite move
      RelativeRateOfChangeStrategy(Some(0.5), Some(2.0))
        .detect(Vector(0.0, 0.0)) shouldBe empty
      // empty series: no crash, no anomalies
      AbsoluteChangeStrategy(maxRateIncrease = Some(1.0))
        .detect(Vector.empty) shouldBe empty
      // non-positive seasonality fails fast, not deep in the optimizer
      an[IllegalArgumentException] should be thrownBy
        HoltWinters(HoltWinters.SeriesSeasonality.Custom(0))
    }

    "fail strict metric reuse when the stored result is only partial" in {
      val s = spark
      import s.implicits._
      val df = Seq((1, 2.0), (2, 3.0)).toDF("id", "v")
      val repo = new InMemoryMetricsRepository
      val key = ResultKey(9L)
      repo.save(key, AnalyzerContext(Map[AnyAnalyzer, Metric[_]](
        Size() -> DoubleMetric(Entity.Dataset, "Size", "*",
          scala.util.Success(2.0)))))
      // the check also needs Completeness, which the stored result lacks —
      // strict reuse must fail loudly instead of silently recomputing
      an[IllegalStateException] should be thrownBy {
        VerificationSuite().onData(df)
          .useRepository(repo)
          .reuseExistingResultsForKey(key, failIfResultsMissing = true)
          .addCheck(Check(CheckLevel.Error, "strict")
            .hasSize(_ == 2).isComplete("v"))
          .run()
      }
      // a FULLY covered request still reuses fine
      val ok = VerificationSuite().onData(df)
        .useRepository(repo)
        .reuseExistingResultsForKey(key, failIfResultsMissing = true)
        .addCheck(Check(CheckLevel.Error, "covered").hasSize(_ == 2))
        .run()
      ok.status shouldBe CheckStatus.Success
    }

    "fail strict analysis reuse when the stored result is only partial" in {
      val s = spark
      import s.implicits._
      val df = Seq((1, 2.0), (2, 3.0)).toDF("id", "v")
      val repo = new InMemoryMetricsRepository
      val key = ResultKey(10L)
      repo.save(key, AnalyzerContext(Map[AnyAnalyzer, Metric[_]](
        Size() -> DoubleMetric(Entity.Dataset, "Size", "*",
          scala.util.Success(2.0)))))
      an[IllegalStateException] should be thrownBy {
        AnalysisRunner.onData(df)
          .useRepository(repo)
          .reuseExistingResultsForKey(key, failIfResultsMissing = true)
          .addAnalyzers(Seq(Size(), Completeness("v")))
          .run()
      }
      // a FULLY covered request reuses the stored metric
      AnalysisRunner.onData(df)
        .useRepository(repo)
        .reuseExistingResultsForKey(key, failIfResultsMissing = true)
        .addAnalyzer(Size())
        .run().metric(Size()).get.value.get shouldBe 2.0
    }

    "flatten keyed and histogram metrics into success-metric rows" in {
      val repo = new InMemoryMetricsRepository
      repo.save(ResultKey(5L, Map("env" -> "prod", "ENV" -> "dev")),
        AnalyzerContext(Map[AnyAnalyzer, Metric[_]](
          ApproxQuantiles("x", Seq(0.5)) -> KeyedDoubleMetric(
            Entity.Column, "ApproxQuantiles", "x",
            scala.util.Success(Map("0.5" -> 10.0))),
          Histogram("c") -> HistogramMetric("c", scala.util.Success(
            Distribution(Map("a" -> DistributionValue(3, 0.75),
              "b" -> DistributionValue(1, 0.25)), 2))))))
      val df = repo.load().getSuccessMetricsAsDataFrame(spark)
      val names = df.collect().map(_.getAs[String]("name")).toSet
      names should contain allOf (
        "ApproxQuantiles.0.5", "Histogram.abs.a", "Histogram.ratio.b")
      // colliding sanitized tag keys are disambiguated, not dropped
      df.columns.count(_.startsWith("env")) shouldBe 2
    }
  }
}
