package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.anomaly.AbsoluteChangeStrategy
import graft.checks.VerificationSuite
import graft.core.{AnyAnalyzer, AnyScanAnalyzer, HdfsStateProvider}
import graft.operators.{Completeness, GroupingAnalyzer, Size}
import graft.pipeline.{Classify, Curation, Domains, Mixing, TextAnalysis}
import graft.repository.{AnalysisResult, AnalysisResultSerde, FileSystemMetricsRepository, ResultKey}
import graft.runners.{AnalysisRunner, AnalyzerContext}

/** One closed-loop operation sequence. `op` is the call the benchmark
  * times; `extras` (traced runs only) times single layers on the same
  * input after the op.
  */
trait Workload {
  /** Ops in one round; a run attempts whole rounds only. */
  def roundLength: Int
  def warmupOps: Int
  /** Runs op `seq` (0-based within its phase); returns (input rows, output). */
  def op(seq: Int, warm: Boolean): (Long, Json)
  def extras(seq: Int): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, data: File, work: File, out: File,
      suites: org.json4s.JValue, tr: Tracer): Workload = name match {
    case "batch-verify" => new BatchVerify(spark, data, suites \ "batch", tr)
    case "incremental-append" => new IncrementalAppend(spark, data, work, suites \ "incremental", tr)
    case "curation" => new CurationWorkload(spark, data, new File(out, "survivors").getPath, tr)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Materializes every column of `df` without collecting it. */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.exists) f.length else 0L

  /** Times the checks and runner layers alone on `table`, after an op:
    * `Check.evaluate` over the op's metrics, then `AnalysisRunner.run`
    * over each analyzer family of the checks.
    */
  def timeCheckLayers(tr: Tracer, checks: Seq[graft.checks.Check],
      metrics: Map[AnyAnalyzer, graft.core.Metric[_]], table: DataFrame): Unit = {
    val ctx = AnalyzerContext(metrics)
    tr.span("checks.evaluate_s")(checks.foreach(_.evaluate(ctx)))
    val analyzers = checks.flatMap(_.requiredAnalyzers()).distinct
    val grouping = analyzers.filter(_.isInstanceOf[GroupingAnalyzer[_]])
    val kll = analyzers.filter(_.isInstanceOf[graft.sketch.KLLSketchAnalyzer])
    val scan = analyzers.filter(a => a.isInstanceOf[AnyScanAnalyzer] && !grouping.contains(a))
    tr.span("runners.scan_family_s")(AnalysisRunner.run(table, scan))
    tr.span("runners.grouping_family_s")(AnalysisRunner.run(table, grouping))
    tr.span("sketch.kll_s")(AnalysisRunner.run(table, kll))
  }
}

/** A ~30-constraint suite covering every analyzer family over one wide
  * table: the fusion runner, operators and sketches do the work.
  */
final class BatchVerify(spark: SparkSession, data: File, suite: org.json4s.JValue, tr: Tracer)
    extends Workload {
  private val specs = Suites.checks(suite)
  private val checks = specs.map(_.build)
  private val table = spark.read.parquet(new File(data, "wide").getPath)
  private val rows = table.count()

  val roundLength = 1
  val warmupOps = 3

  def op(seq: Int, warm: Boolean): (Long, Json) = {
    val result = tr.span("checks.verify_s") {
      VerificationSuite().onData(table).addChecks(checks).run()
    }
    lastMetrics = result.metrics
    (rows, Suites.report(result, specs))
  }

  private var lastMetrics: Map[AnyAnalyzer, graft.core.Metric[_]] = Map.empty

  override def extras(seq: Int): Unit = Workload.timeCheckLayers(tr, checks, lastMetrics, table)
}

/** Appends one day per op: merge with yesterday's persisted states,
  * persist today's, append the result to a JSON-file repository and judge
  * the newest point against the stored history. A round is one history
  * from an empty store through every generated day.
  */
final class IncrementalAppend(spark: SparkSession, data: File, work: File,
    suite: org.json4s.JValue, tr: Tracer) extends Workload {
  private val specs = Suites.checks(suite)
  private val checks = specs.map(_.build)
  private val anomalies = Suites.anomalies(suite)
  private val days = Option(new File(data, "days").listFiles).map(_.toSeq).getOrElse(Nil)
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  require(days.nonEmpty, s"no day files under $data/days")
  private val dayRows = days.map(d => spark.read.parquet(d.getPath).count())
  private val nominalDayRows = dayRows.sorted.apply(days.length / 2).toDouble
  private val DayMs = 86400000L

  val roundLength: Int = days.length
  val warmupOps = 2

  def op(seq: Int, warm: Boolean): (Long, Json) = {
    val day = seq % days.length + 1
    val history = new File(work, if (warm) "warm" else s"round-${seq / days.length}")
    val stateDir = (d: Int) => new File(history, f"states/day-$d%02d").getPath + "/state"
    val repoFile = new File(history, "metrics.json")
    val input = spark.read.parquet(days(day - 1).getPath)
    val yesterday = new HdfsStateProvider(spark, stateDir(day - 1))
    val today = new HdfsStateProvider(spark, stateDir(day))
    val repo = new FileSystemMetricsRepository(spark, repoFile.getPath)
    val key = ResultKey(day * DayMs, Map("workload" -> "incremental-append"))
    var b = VerificationSuite().onData(input).addChecks(checks)
      .aggregateWith(if (tr.enabled) new TimedLoader(yesterday, tr) else yesterday)
      .saveStatesWith(if (tr.enabled) new TimedPersister(today, tr) else today)
      .useRepository(if (tr.enabled) new TimedRepository(repo, tr) else repo)
      .saveOrAppendResult(key)
    anomalies.foreach { a =>
      val strategy = AbsoluteChangeStrategy(
        maxRateDecrease = a.maxDecrease,
        maxRateIncrease = a.maxIncreaseDayRows.map(_ * nominalDayRows))
      val analyzer: AnyAnalyzer = a.metric match {
        case "size" => Size()
        case "amount_complete" => Completeness("amount")
        case other => throw new IllegalArgumentException(s"unknown anomaly metric $other")
      }
      b = b.addAnomalyCheck(if (tr.enabled) new TimedStrategy(strategy, tr) else strategy,
        analyzer, a.id)
    }
    val result = tr.span("checks.verify_s")(b.run())
    lastMetrics = result.metrics
    lastInput = input
    if (tr.enabled) {
      tr.gauge("core.state_mb", Workload.dirBytes(new File(stateDir(day)).getParentFile) / 1048576.0)
      val ok = AnalyzerContext(result.metrics.filter(_._2.value.isSuccess))
      val own = AnalysisResultSerde.serialize(Seq(AnalysisResult(key, ok))).getBytes("UTF-8").length
      tr.gauge("repository.write_amp", repoFile.length.toDouble / math.max(1, own))
    }
    (dayRows(day - 1), Json.obj("day" -> Json.num(day), "report" -> Suites.report(result, specs)))
  }

  private var lastMetrics: Map[AnyAnalyzer, graft.core.Metric[_]] = Map.empty
  private var lastInput: DataFrame = _

  /** The checks and runner layers alone on the day just appended. */
  override def extras(seq: Int): Unit =
    Workload.timeCheckLayers(tr, checks, lastMetrics, lastInput)
}

/** q136's stage list on the public Curation.pipeline builder, consumed
  * through Mixing.shardStats and released, over a generated corpus.
  */
final class CurationWorkload(spark: SparkSession, data: File, survivorsPath: String, tr: Tracer)
    extends Workload {
  private val corpusPath = new File(data, "corpus/documents.parquet").getPath
  private val docCount = spark.read.parquet(corpusPath).count()

  val roundLength = 1
  val warmupOps = 3

  private def isKeep: Column = pmod(col("doc_id"), lit(2)) === 0

  private def withFooter(): DataFrame = {
    val docs = spark.read.parquet(corpusPath).where(col("doc_id").isNotNull)
    docs.select(col("doc_id"), col("source"),
      when(pmod(col("doc_id"), lit(3)) =!= 2,
        concat(col("text"), lit("\nFOOTER "), col("source"),
          lit(" all rights reserved"))).otherwise(col("text")).as("text"))
  }

  private def marker: Column = when(isKeep,
    lit("qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb"))
    .otherwise(lit("qtossa qtossb qtossa qtossb qtossa qtossb"))

  private def url: Column = {
    val g = floor(col("doc_id") / 5).cast(LongType)
    val host = concat(lit("s"), pmod(g, lit(20)).cast(StringType), lit(".example.com"))
    val path = concat(lit("/p/"), g.cast(StringType))
    val m5 = pmod(col("doc_id"), lit(5))
    val idS = col("doc_id").cast(StringType)
    when(pmod(col("doc_id"), lit(97)) === 0, lit("page moved"))
      .when(m5 === 0, concat(lit("https://www."), host, path))
      .when(m5 === 1, concat(lit("HTTPS://"), host, lit(":443"), path, lit("/")))
      .when(m5 === 2, concat(lit("https://user:pw@"), host, path,
        lit("?utm_source=x&fbclid="), idS))
      .when(m5 === 3, concat(lit("https://"), host, path, lit("?b=2&a=1#frag")))
      .otherwise(concat(lit("https://"), host, path, lit("?a=1&utm_medium=y&b=2")))
  }

  private def stages: Seq[Curation.Stage] = Seq(
    Curation.RemoveBoilerplate("source", maxDocFrac = 0.4, minDocs = 5),
    Curation.MapText("mark", concat_ws(" ", col("text"), marker)),
    Curation.QualityClassifier(
      labelExpr = when(isKeep, lit("keep")).otherwise(lit("toss")),
      seedPredicate = pmod(col("doc_id"), lit(10)) < 2),
    Curation.PerplexityKeep("source", nBuckets = 3, keepMaxBucket = 2),
    Curation.UrlDedup(url))

  private var survivorsWritten = false

  def op(seq: Int, warm: Boolean): (Long, Json) = {
    val r = tr.span("pipeline.build_s") {
      Curation.pipeline(withFooter(), "doc_id", "text", stages, persistInput = false)
    }
    // the first op of a run (a warm-up one outside smoke runs) also keeps
    // its survivor ids for the run-level subset check
    if (!survivorsWritten) {
      r.docs.select(col("doc_id")).write.mode("overwrite").parquet(survivorsPath)
      survivorsWritten = true
    }
    val agg = tr.span("pipeline.consume_s") {
      Mixing.shardStats(r.docs, "doc_id", "text", 8)
        .agg(count(lit(1)),
          coalesce(sum(col("n_docs")), lit(0L)),
          coalesce(sum(col("n_tokens")), lit(0L)),
          coalesce(sum(col("id_sum")), lit(0L)),
          coalesce(max(col("n_docs")), lit(0L)),
          coalesce(min(col("n_docs")), lit(0L)))
        .collect().head
    }
    val c = r.censuses
    tr.span("pipeline.release_s")(r.release())
    val cm = c.toMap
    val row = Seq(
      "n_input" -> cm("input_docs"),
      "boiler_removed" -> cm("boiler_removed_lines"),
      "nb_kept" -> cm("quality_kept"),
      "perp_kept" -> cm("perplexity_kept"),
      "final_docs" -> agg.getLong(1).toDouble,
      "final_tokens" -> agg.getLong(2).toDouble,
      "final_id_sum" -> agg.getLong(3).toDouble,
      "shards_nonempty" -> agg.getLong(0).toDouble,
      "max_shard_docs" -> agg.getLong(4).toDouble,
      "min_shard_docs" -> agg.getLong(5).toDouble)
    (docCount, Json.obj(
      "row" -> Json.obj(row.map { case (k, v) => k -> Json.num(v) }: _*),
      "censuses" -> Json.arr(c.map { case (k, v) => Json.arr(Seq(Json.str(k), Json.num(v))) })))
  }

  override def extras(seq: Int): Unit = {
    val base = withFooter()
    val marked = base.select(col("doc_id"), col("source"),
      concat_ws(" ", col("text"), marker).as("text"))
    tr.span("pipeline.boilerplate_s") {
      Workload.consume(TextAnalysis.removeBoilerplateLines(base, "doc_id", "text", "source",
        maxDocFrac = 0.4, minDocs = 5))
    }
    val labeled = marked.where(pmod(col("doc_id"), lit(10)) < 2)
      .withColumn("label", when(isKeep, lit("keep")).otherwise(lit("toss")))
    val model = tr.span("pipeline.nb_train_s") {
      Classify.trainNaiveBayes(labeled, "doc_id", "text", "label")
    }
    try tr.span("pipeline.nb_score_s") {
      Workload.consume(Classify.scoreNaiveBayes(marked, "doc_id", "text", model))
    } finally model.release()
    tr.span("pipeline.perplexity_s") {
      Workload.consume(TextAnalysis.perplexityBuckets(marked, "doc_id", "text", "source", 3))
    }
    tr.span("pipeline.url_dedup_s") {
      Workload.consume(Domains.dedupByCanonicalUrl(marked.withColumn("url", url), "url", "doc_id"))
    }
  }
}
