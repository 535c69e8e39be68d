package graft.checks

import scala.util.{Failure, Success}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core._
import graft.runners.{AnalysisRunner, AnalyzerContext, RunResults}

/** Outcome of a verification run
  * (reference capability: VerificationResult.scala / VerificationSuite.scala:107-144).
  */
case class VerificationResult(
    status: CheckStatus,
    checkResultPairs: Seq[(Check, CheckResult)],
    metrics: Map[AnyAnalyzer, Metric[_]]) {

  def hasPassed: Boolean = status == CheckStatus.Success

  /** Map view of the results. Two checks that are EQUAL case-class values
    * collapse to one entry here — iterate [[checkResultPairs]] when a suite
    * may contain duplicate checks.
    */
  def checkResults: Map[Check, CheckResult] = checkResultPairs.toMap
}

object VerificationResult {

  /** One row per constraint, as a DataFrame
    * (reference capability: VerificationResult.scala:55-124).
    */
  def checkResultsAsDataFrame(spark: SparkSession, result: VerificationResult): DataFrame = {
    val rows = result.checkResultPairs.flatMap { case (check, checkResult) =>
      checkResult.constraintResults.map { cr =>
        Row(
          check.description,
          check.level.toString,
          checkResult.status.toString,
          cr.constraint.toString,
          cr.status.toString,
          cr.message.getOrElse(""))
      }
    }
    val schema = StructType(Seq(
      StructField("check", StringType, nullable = false),
      StructField("check_level", StringType, nullable = false),
      StructField("check_status", StringType, nullable = false),
      StructField("constraint", StringType, nullable = false),
      StructField("constraint_status", StringType, nullable = false),
      StructField("constraint_message", StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Original rows plus one boolean outcome column per check: the AND of
    * every row-level-capable constraint's per-row outcome. Rows filtered
    * out by a constraint's WHERE evaluate to null and count as pass
    * (reference capability: VerificationResult.scala:94-162).
    */
  def rowLevelResultsAsDataFrame(
      spark: SparkSession,
      result: VerificationResult,
      data: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit, col}
    import graft.operators.FrequencyBasedAnalyzer

    val raw = result.checkResultPairs.flatMap { case (check, _) =>
      val perConstraint = check.constraints.flatMap { c =>
        c.analyzer match {
          case a: DoubleResultScanAnalyzer[_] => a.fullColumn
          case g: FrequencyBasedAnalyzer => g.rowLevelColumn
          case _ => None
        }
      }
      if (perConstraint.isEmpty) None
      else Some(check.description -> perConstraint
        .map(c => coalesce(c.cast("boolean"), lit(true)))
        .reduce(_ && _))
    }
    // checks sharing a description get ordinal-suffixed outcome columns
    // instead of colliding into duplicate/ambiguous names
    val dupes = raw.groupBy(_._1).collect { case (d, vs) if vs.size > 1 => d }.toSet
    var seen = Map.empty[String, Int]
    val outcomeColumns = raw.map { case (desc, c) =>
      val n = seen.getOrElse(desc, 0) + 1
      seen += desc -> n
      c.as(if (dupes(desc)) s"${desc}_$n" else desc)
    }
    data.select(col("*") +: outcomeColumns: _*)
  }

  /** One row per successfully computed metric. */
  def successMetricsAsDataFrame(spark: SparkSession, result: VerificationResult): DataFrame = {
    val rows = result.metrics.toSeq.collect {
      case (_, DoubleMetric(entity, name, instance, Success(value), _)) =>
        Row(entity.repr, instance, name, value)
    }
    val schema = StructType(Seq(
      StructField("entity", StringType, nullable = false),
      StructField("instance", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** JSON report of every constraint result
    * (reference capability: VerificationResult.checkResultsAsJson).
    */
  def checkResultsAsJson(result: VerificationResult): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val entries = result.checkResultPairs.flatMap { case (check, checkResult) =>
      checkResult.constraintResults.map { cr =>
        ("check" -> check.description) ~
          ("check_level" -> check.level.toString) ~
          ("check_status" -> checkResult.status.toString) ~
          ("constraint" -> cr.constraint.toString) ~
          ("constraint_status" -> cr.status.toString) ~
          ("constraint_message" -> cr.message.getOrElse(""))
      }
    }
    JsonMethods.compact(JsonMethods.render(entries))
  }

  /** JSON report of every successful metric
    * (reference capability: VerificationResult.successMetricsAsJson).
    */
  def successMetricsAsJson(result: VerificationResult): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val entries = result.metrics.toSeq.collect {
      case (_, DoubleMetric(entity, name, instance, Success(value), _)) =>
        ("entity" -> entity.repr) ~ ("instance" -> instance) ~
          ("name" -> name) ~ ("value" -> value)
    }
    JsonMethods.compact(JsonMethods.render(entries))
  }

  /** Writes a JSON report through the Hadoop filesystem of the session —
    * works for local paths, HDFS, or any object store the cluster mounts
    * (reference capability: VerificationSuite.scala:146-172, io/DfsUtils.scala).
    */
  def saveJsonToPath(spark: SparkSession, path: String, json: String): Unit = {
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(fsPath, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }
}

/** Entry point: checks in, verified result out
  * (reference capability: VerificationSuite.scala:107-144).
  */
class VerificationSuite {

  def onData(data: DataFrame): VerificationRunBuilder = new VerificationRunBuilder(data)

  def doVerificationRun(
      data: DataFrame,
      checks: Seq[Check],
      requiredAnalyzers: Seq[AnyAnalyzer] = Seq.empty)
    : VerificationResult =
    onData(data).addChecks(checks).addRequiredAnalyzers(requiredAnalyzers).run()
}

object VerificationSuite {
  def apply(): VerificationSuite = new VerificationSuite()

  /** Evaluates every check over `context` and folds the check statuses
    * into one result. Internal `probes` feed constraint evaluation but are
    * not part of the user's requested metric surface.
    */
  private[graft] def evaluate(
      checks: Seq[Check],
      context: AnalyzerContext,
      probes: Seq[AnyAnalyzer] = Seq.empty): VerificationResult = {
    val checkResults = checks.map(c => c -> c.evaluate(context))
    val status = checkResults
      .map(_._2.status)
      .foldLeft(CheckStatus.Success: CheckStatus)(CheckStatus.max)
    VerificationResult(status, checkResults, context.metricMap -- probes)
  }
}

class VerificationRunBuilder(data: DataFrame) {
  import graft.anomaly.AnomalyDetectionStrategy
  import graft.repository.{MetricsRepository, ResultKey}

  private var checks: Seq[Check] = Seq.empty
  private var requiredAnalyzers: Seq[AnyAnalyzer] = Seq.empty
  private var repository: Option[MetricsRepository] = None
  private var saveKey: Option[ResultKey] = None
  private var reuseKey: Option[ResultKey] = None
  private var failIfResultsMissing: Boolean = false
  private var stateLoader: Option[graft.core.StateLoader] = None
  private var statePersister: Option[graft.core.StatePersister] = None
  private var outputSession: Option[org.apache.spark.sql.SparkSession] = None
  private var overwriteFiles: Boolean = false
  private var checkResultsPath: Option[String] = None
  private var successMetricsPath: Option[String] = None

  def addCheck(check: Check): VerificationRunBuilder = {
    checks = checks :+ check
    this
  }

  def addChecks(more: Seq[Check]): VerificationRunBuilder = {
    checks = checks ++ more
    this
  }

  def addRequiredAnalyzer(analyzer: AnyAnalyzer): VerificationRunBuilder = {
    requiredAnalyzers = requiredAnalyzers :+ analyzer
    this
  }

  def addRequiredAnalyzers(more: Seq[AnyAnalyzer]): VerificationRunBuilder = {
    requiredAnalyzers = requiredAnalyzers ++ more
    this
  }

  /** File outputs go through this session's Hadoop filesystem (reference
    * capability: VerificationRunBuilderWithSparkSession).
    */
  def useSparkSession(session: org.apache.spark.sql.SparkSession): VerificationRunBuilder = {
    outputSession = Some(session)
    this
  }

  def overwritePreviousFiles(overwrite: Boolean): VerificationRunBuilder = {
    overwriteFiles = overwrite
    this
  }

  def saveCheckResultsJsonToPath(path: String): VerificationRunBuilder = {
    checkResultsPath = Some(path)
    this
  }

  def saveSuccessMetricsJsonToPath(path: String): VerificationRunBuilder = {
    successMetricsPath = Some(path)
    this
  }

  def useRepository(repo: MetricsRepository): VerificationRunBuilder = {
    repository = Some(repo)
    this
  }

  def saveOrAppendResult(key: ResultKey): VerificationRunBuilder = {
    saveKey = Some(key)
    this
  }

  /** Metrics already stored under `key` are reused instead of recomputed —
    * analyzers with a cached metric never touch the data (reference
    * capability: runners/AnalysisRunner.scala:122-141).
    */
  def reuseExistingResultsForKey(key: ResultKey,
      failIfResultsMissing: Boolean = false): VerificationRunBuilder = {
    reuseKey = Some(key)
    this.failIfResultsMissing = failIfResultsMissing
    this
  }

  /** Merge freshly computed states with states loaded from this provider
    * (incremental verification over growing data).
    */
  def aggregateWith(loader: graft.core.StateLoader): VerificationRunBuilder = {
    stateLoader = Some(loader)
    this
  }

  /** Persist the (merged) states for future incremental runs. */
  def saveStatesWith(persister: graft.core.StatePersister): VerificationRunBuilder = {
    statePersister = Some(persister)
    this
  }

  /** Verifies that the analyzer's newest metric value is not anomalous
    * given its history in the repository
    * (reference capability: VerificationRunBuilder.scala:226-241,
    * checks/Check.scala:1511-1569 isNewestPointNonAnomalous).
    */
  def addAnomalyCheck(
      strategy: AnomalyDetectionStrategy,
      analyzer: AnyAnalyzer,
      description: String = "Anomaly check",
      withTagValues: Map[String, String] = Map.empty,
      afterDate: Option[Long] = None,
      beforeDate: Option[Long] = None): VerificationRunBuilder = {
    val repo = repository.getOrElse(
      throw new IllegalStateException("useRepository() must be called before addAnomalyCheck"))
    checks = checks :+ Check(CheckLevel.Warning, description)
      .isNewestPointNonAnomalous(repo, strategy, analyzer, withTagValues,
        afterDate, beforeDate)
    this
  }

  def run(): VerificationResult = {
    val allAnalyzers =
      (requiredAnalyzers ++ checks.flatMap(_.requiredAnalyzers())).distinct
    val strictReuse = failIfResultsMissing && reuseKey.isDefined
    val cached = RunResults.reused(repository, reuseKey, failIfResultsMissing, allAnalyzers)

    // Size(where) probes (same fused scan) let where-filtered constraints
    // distinguish trivial passes from all-NULL failures; skipped in strict
    // reuse mode, where no computation may run at all
    val probes =
      if (strictReuse) Seq.empty[AnyAnalyzer]
      else Constraint.whereSizeProbes(allAnalyzers).filterNot(allAnalyzers.contains)

    val computed = AnalysisRunner.run(data, (allAnalyzers ++ probes).filterNot(cached.contains),
      aggregateWith = stateLoader, saveStatesWith = statePersister)
    val result = VerificationSuite.evaluate(
      checks, AnalyzerContext(cached ++ computed.metricMap), probes)

    RunResults.saveOrAppend(repository, saveKey, result.metrics)
    val spark = outputSession.getOrElse(data.sparkSession)
    checkResultsPath.foreach(p => RunResults.writeJson(
      spark, p, overwriteFiles, VerificationResult.checkResultsAsJson(result)))
    successMetricsPath.foreach(p => RunResults.writeJson(
      spark, p, overwriteFiles, VerificationResult.successMetricsAsJson(result)))
    result
  }
}
