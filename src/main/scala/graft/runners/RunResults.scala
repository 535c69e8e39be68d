package graft.runners

import org.apache.spark.sql.SparkSession

import graft.core.{AnyAnalyzer, Metric}
import graft.repository.{MetricsRepository, ResultKey}

/** Repository reuse, save-or-append and JSON file output shared by
  * [[AnalysisRunBuilder]] and `VerificationRunBuilder` (reference capability:
  * runners/AnalysisRunner.scala:122-141, VerificationSuite.scala:146-172).
  */
private[graft] object RunResults {

  /** Metrics stored under `reuseKey` for the `requested` analyzers, which
    * then never touch the data. With `failIfResultsMissing` the stored
    * result must cover EVERY requested analyzer: a partial hit would
    * silently recompute over possibly different data than the stored
    * metrics describe, which is exactly what the caller asked to be told
    * about.
    */
  def reused(
      repository: Option[MetricsRepository],
      reuseKey: Option[ResultKey],
      failIfResultsMissing: Boolean,
      requested: Seq[AnyAnalyzer]): Map[AnyAnalyzer, Metric[_]] = reuseKey match {
    case None => Map.empty
    case Some(key) =>
      val repo = repository.getOrElse(throw new IllegalStateException(
        "useRepository() must be called before reuseExistingResultsForKey"))
      val stored = repo.loadByKey(key).map(_.metricMap).getOrElse {
        if (failIfResultsMissing) throw new IllegalStateException(s"No stored results for $key")
        Map.empty[AnyAnalyzer, Metric[_]]
      }
      val hits = stored.filter { case (a, _) => requested.contains(a) }
      val missing = requested.filterNot(hits.contains)
      if (failIfResultsMissing && missing.nonEmpty) {
        throw new IllegalStateException(
          s"Stored results for $key lack metrics for: " + missing.mkString(", "))
      }
      hits
  }

  /** Merges `metrics` into anything already stored under `saveKey`; new
    * metrics win on conflict.
    */
  def saveOrAppend(
      repository: Option[MetricsRepository],
      saveKey: Option[ResultKey],
      metrics: Map[AnyAnalyzer, Metric[_]]): Unit =
    for (repo <- repository; key <- saveKey) {
      val existing = repo.loadByKey(key).map(_.metricMap).getOrElse(Map.empty)
      repo.save(key, AnalyzerContext(existing ++ metrics))
    }

  /** Writes `json` to `path` through the session's Hadoop filesystem,
    * keeping an existing file unless `overwrite` is set.
    */
  def writeJson(spark: SparkSession, path: String, overwrite: Boolean, json: => String): Unit = {
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (overwrite || !fs.exists(fsPath)) {
      graft.checks.VerificationResult.saveJsonToPath(spark, path, json)
    }
  }
}
