package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.core._
import graft.operators._
import graft.runners.AnalysisRunner

/** Asserts the runner's fusion behavior as Spark JOB COUNTS, like the
  * reference does (reference test:
  * analyzers/runners/AnalysisRunnerTests.scala — "number of jobs saved").
  * At 100 TB each avoided job is an avoided full scan.
  */
class FusionJobCountSpec extends AnyWordSpec with Matchers with SparkSpec {

  private def data = {
    val s = spark
    import s.implicits._
    (1 to 1000).map(i => (i.toLong, i % 7, s"v${i % 13}", i.toDouble / 3))
      .toDF("id", "grp", "cat", "value")
  }

  /** Runs `f` with AQE off (AQE materializes every shuffle stage as its
    * own job, which would obscure the scan/agg count being asserted) and
    * returns how many Spark jobs it triggered.
    */
  private def countJobs(f: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      // listener events are async; actions above are blocking, so a short
      // quiesce is enough for the job-start events to drain
      Thread.sleep(1000)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    counter.get()
  }

  "the fused runner" should {
    "run N scan-shareable analyzers as exactly ONE job" in {
      val df = data
      df.count() // materialize file index outside the measurement
      val jobs = countJobs {
        AnalysisRunner.run(df, Seq[AnyAnalyzer](
          Size(), Completeness("id"), Mean("value"), Minimum("value"),
          Maximum("value"), Sum("value"), StandardDeviation("value"),
          ZerosCount("value"), Compliance("v>0", "value > 0"),
          PatternMatch("cat", "^v[0-9]+$")))
      }
      jobs shouldBe 1
    }

    "share one groupBy job across grouping analyzers on the same columns" in {
      val df = data
      df.count()
      val jobs = countJobs {
        AnalysisRunner.run(df, Seq[AnyAnalyzer](
          Uniqueness(Seq("grp")), Distinctness(Seq("grp")),
          UniqueValueRatio(Seq("grp")), CountDistinct(Seq("grp"))))
      }
      // one job for the fused frequency aggregation (+1 for the injected
      // Size sharing the scan family)
      jobs should be <= 2
    }

    "compute N KLL sketches in the same number of jobs as one" in {
      val df = data
      df.count()
      import graft.sketch.KLLSketchAnalyzer
      val one = countJobs {
        AnalysisRunner.run(df, Seq[AnyAnalyzer](KLLSketchAnalyzer("value")))
      }
      val three = countJobs {
        AnalysisRunner.run(df, Seq[AnyAnalyzer](
          KLLSketchAnalyzer("value"), KLLSketchAnalyzer("id"),
          KLLSketchAnalyzer("grp")))
      }
      three shouldBe one
    }

    "add at most ONE job (the guard estimate) for exact-percentile families" in {
      val df = data
      df.count()
      val base = countJobs {
        AnalysisRunner.run(df, Seq[AnyAnalyzer](Size(), Mean("value")))
      }
      val withQuantiles = countJobs {
        AnalysisRunner.run(df, Seq[AnyAnalyzer](
          Size(), Mean("value"), ExactQuantile("value", 0.5),
          InterquartileRange("value")))
      }
      // the ExactQuantileGuard HLL estimate is ONE extra job for the whole
      // family, regardless of how many percentile analyzers are present;
      // the parallelize repartition must not add an action of its own
      withQuantiles should be <= (base + 1)
    }

    "share one cached groupBy across same-key grouping analyzers on the stateful path" in {
      val df = data
      df.count()
      val one = countJobs {
        AnalysisRunner.run(df, Seq[AnyAnalyzer](Uniqueness(Seq("grp"))))
      }
      val three = countJobs {
        AnalysisRunner.run(df, Seq[AnyAnalyzer](
          Uniqueness(Seq("grp")), Entropy("grp"), Distinctness(Seq("grp"))))
      }
      // the frequency groupBy runs ONCE; the extra analyzers fuse into the
      // same aggregation over the table
      three should be <= (one + 2)
    }

    "read the input once per family in an incremental run with a filesystem provider" in {
      import org.apache.spark.sql.functions.{col, concat, lit, udf}
      // every row the plan reads passes this counter once per pass
      val reads = spark.sparkContext.longAccumulator("graft_input_reads")
      val tick = udf { (x: Long) => reads.add(1); x }.asNondeterministic()
      def day(from: Long) = spark.range(from, from + 1000).select(tick(col("id")).as("t"))
        .select(col("t").as("id"), (col("t") % 7).as("grp"),
          concat(lit("v"), (col("t") % 13).cast("string")).as("cat"),
          (col("t") / 3.0).as("value"))
      // the incremental suite's mix: a scan family, a KLL sketch and two
      // single-analyzer grouping keys
      val analyzers = Seq[AnyAnalyzer](Size(), Completeness("value"),
        Compliance("v>=0", "value >= 0"), Sum("value"), Mean("value"),
        Minimum("value"), Maximum("value"), StandardDeviation("value"),
        ApproxCountDistinct("grp"), graft.sketch.KLLSketchAnalyzer("value"),
        Uniqueness(Seq("id")), CountDistinct(Seq("cat")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-fusion-states").toString
      def provider(d: Int) = new HdfsStateProvider(spark, s"$tmp/day$d/state")
      AnalysisRunner.run(day(0), analyzers, saveStatesWith = Some(provider(1)))

      reads.reset()
      var ctx: graft.runners.AnalyzerContext = null
      val jobs = countJobs {
        ctx = AnalysisRunner.run(day(1000), analyzers,
          aggregateWith = Some(provider(1)), saveStatesWith = Some(provider(2)))
      }
      ctx.metric(Size()).get.value.get shouldBe 2000.0
      ctx.metric(Uniqueness(Seq("id"))).get.value.get shouldBe 1.0
      ctx.metric(CountDistinct(Seq("cat"))).get.value.get shouldBe 13.0
      // scan family + KLL + one pass per grouping key — not three groupBys
      // per key (row count, persist and metric each re-running it)
      reads.value shouldBe 4 * 1000L
      // the fused scan and the KLL pass; per key, the fused aggregation
      // over the day's table (with its key range) and one write of it as
      // a new run, plus for `cat` alone, whose keys every stored run can
      // hold, one lookup of the day's keys. Loading a state starts no job
      jobs should be <= 2 + 2 * 2 + 1
    }

    "write a family's table once per append, as one run" in {
      val tmp = java.nio.file.Files.createTempDirectory("graft-fusion-runs").toString
      def provider(d: Int) = new HdfsStateProvider(spark, s"$tmp/day$d/state")
      // parquet tables written under a day's location
      def tables(d: Int): Int = {
        import scala.jdk.CollectionConverters._
        org.apache.commons.io.FileUtils.listFiles(new java.io.File(s"$tmp/day$d"), null, true)
          .asScala.count(_.getName == "_SUCCESS")
      }
      val family = Seq[AnyAnalyzer](
        Uniqueness(Seq("grp")), Distinctness(Seq("grp")), Entropy("grp"))
      AnalysisRunner.run(data, family, saveStatesWith = Some(provider(1)))
      tables(1) shouldBe 1
      val ctx = AnalysisRunner.run(data, family,
        aggregateWith = Some(provider(1)), saveStatesWith = Some(provider(2)))
      tables(2) shouldBe 1
      ctx.metric(Distinctness(Seq("grp"))).get.value.get shouldBe 7.0 / 2000
    }

    "skip the scan entirely when all metrics are cached in a repository" in {
      import graft.checks._
      import graft.repository.{InMemoryMetricsRepository, ResultKey}
      val df = data
      df.count()
      val repo = new InMemoryMetricsRepository
      val key = ResultKey(1L)
      val check = Check(CheckLevel.Error, "cached")
        .hasSize(_ == 1000).hasMean("value", _ > 0)

      VerificationSuite().onData(df).addCheck(check)
        .useRepository(repo).saveOrAppendResult(key).run()
        .status shouldBe CheckStatus.Success

      val jobs = countJobs {
        val rerun = VerificationSuite().onData(df).addCheck(check)
          .useRepository(repo).reuseExistingResultsForKey(key).run()
        rerun.status shouldBe CheckStatus.Success
      }
      jobs shouldBe 0
    }

    "not rescan for size when scan analyzers are present" in {
      val df = data
      df.count()
      val jobsCombined = countJobs {
        AnalysisRunner.run(df, Seq[AnyAnalyzer](
          Size(), Mean("value"), Uniqueness(Seq("grp"))))
      }
      // 1 fused scan (size+mean) + 1 grouping job
      jobsCombined shouldBe 2
    }
  }
}
