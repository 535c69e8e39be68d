package graft.tools

import org.apache.spark.sql.SparkSession

/** Smoke driver: runs the flagship SparkEntry.entry end-to-end and prints
  * the check-results DataFrame. Usage: sbt "runMain graft.tools.Demo".
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val results = graft.SparkEntry.entry(spark)
    results.show(100, truncate = false)
    println(s"rows=${results.count()}")

    // incremental + repository + anomaly-detection flow
    import graft.anomaly.RelativeRateOfChangeStrategy
    import graft.checks.VerificationSuite
    import graft.core.{AnyAnalyzer, InMemoryStateProvider}
    import graft.operators.{Mean, Size, Uniqueness}
    import graft.repository.{FileSystemMetricsRepository, ResultKey}
    import graft.runners.AnalysisRunner

    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val repoPath = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val repo = new FileSystemMetricsRepository(spark, s"$repoPath/metrics.json")
    (1 to 3).foreach { day =>
      VerificationSuite().onData(df)
        .useRepository(repo)
        .saveOrAppendResult(ResultKey(day.toLong))
        .addRequiredAnalyzer(Size())
        .run()
    }
    val anomalyRun = VerificationSuite().onData(df)
      .useRepository(repo)
      .addAnomalyCheck(RelativeRateOfChangeStrategy(Some(0.5), Some(2.0)), Size())
      .run()
    println(s"anomalyCheckStatus=${anomalyRun.status}")

    // split-compute-merge == full compute
    val analyzers: Seq[AnyAnalyzer] =
      Seq(Size(), Mean("l_quantity"), Uniqueness(Seq("l_orderkey")))
    val pLeft = new InMemoryStateProvider
    val pRight = new InMemoryStateProvider
    AnalysisRunner.run(df.filter("l_quantity <= 25"), analyzers,
      saveStatesWith = Some(pLeft))
    AnalysisRunner.run(df.filter("l_quantity > 25"), analyzers,
      saveStatesWith = Some(pRight))
    val mergedCtx = AnalysisRunner.runOnAggregatedStates(analyzers, Seq(pLeft, pRight))
    val fullCtx = AnalysisRunner.run(df, analyzers)
    analyzers.foreach { a =>
      println(s"incremental ${a.name}: merged=${mergedCtx.metric(a).get.value.get} " +
        s"full=${fullCtx.metric(a).get.value.get}")
    }
    // profiling + suggestion + KLL flow
    import graft.checks.{Check, CheckLevel}
    import graft.suggestions.ConstraintSuggestionRunner
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val suggested = ConstraintSuggestionRunner.run(orders)
    println(s"profiledColumns=${suggested.columnProfiles.profiles.size}")
    suggested.suggestions.toSeq.sortBy(_._1).foreach { case (c, ss) =>
      ss.foreach(sg => println(s"suggestion $c: ${sg.codeForConstraint}"))
    }
    val kllResult = VerificationSuite().onData(df)
      .addCheck(Check(CheckLevel.Error, "kll check")
        .kllSketchSatisfies("l_extendedprice", d => d.sketch.quantile(0.5) > 0))
      .run()
    println(s"kllCheckStatus=${kllResult.status}")

    // row-level results
    val rowCheck = Check(CheckLevel.Error, "row_ok")
      .isNonNegative("l_quantity").satisfies("l_discount <= 0.1", "disc", _ >= 0.9)
    val rowResult = VerificationSuite().onData(df).addCheck(rowCheck).run()
    val rowDf = graft.checks.VerificationResult.rowLevelResultsAsDataFrame(spark, rowResult, df)
    println(s"rowLevelTrue=${rowDf.filter(org.apache.spark.sql.functions.col("row_ok")).count()} of ${rowDf.count()}")

    spark.stop()
  }
}
