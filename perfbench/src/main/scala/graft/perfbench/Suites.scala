package graft.perfbench

import scala.util.Success

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.checks.{Check, CheckLevel, VerificationResult}
import graft.core.{DoubleMetric, HistogramMetric}
import graft.sketch.KLLMetric

/** One constraint of `suites.json`. The same file drives the DuckDB
  * oracle, so the benchmark's suite and its independent check cannot
  * drift apart. The assertion is always `lo <= value <= hi` (either side
  * optional).
  */
final case class ConstraintSpec(
    id: String, kind: String, cols: Seq[String],
    lo: Option[Double], hi: Option[Double],
    values: Seq[String], range: Seq[Double],
    pattern: String, q: Double, value: String) {

  def holds(v: Double): Boolean = lo.forall(v >= _) && hi.forall(v <= _)

  def addTo(check: Check): Check = {
    val a: Double => Boolean = holds
    val al: Long => Boolean = n => holds(n.toDouble)
    def c = cols.head
    kind match {
      case "size" => check.hasSize(al)
      case "completeness" => check.hasCompleteness(c, a)
      case "uniqueness" => check.hasUniqueness(cols, a)
      case "duplicate_rows" => check.hasDuplicateRowCount(al, cols)
      case "non_negative" => check.isNonNegative(c, a)
      case "contained_in" => check.isContainedIn(c, values.toArray, a)
      case "in_range" => check.isContainedIn(c, range(0), range(1))
      case "leq" => check.isLessThanOrEqualTo(cols(0), cols(1), a)
      case "count_distinct" => check.hasNumberOfDistinctValues(c, al)
      case "min" => check.hasMin(c, a)
      case "max" => check.hasMax(c, a)
      case "mean" => check.hasMean(c, a)
      case "sum" => check.hasSum(c, a)
      case "stddev" => check.hasStandardDeviation(c, a)
      case "correlation" => check.hasCorrelation(cols(0), cols(1), a)
      case "entropy" => check.hasEntropy(c, a)
      case "mutual_information" => check.hasMutualInformation(cols(0), cols(1), a)
      case "unique_value_ratio" => check.hasUniqueValueRatio(cols, a)
      case "histogram" => check.hasHistogramValues(c, d => d.values.get(value).exists(x => a(x.ratio)))
      case "exact_quantile" => check.hasExactQuantile(c, q, a)
      case "approx_quantile" => check.hasApproxQuantile(c, q, a)
      case "min_length" => check.hasMinLength(c, a)
      case "max_length" => check.hasMaxLength(c, a)
      case "pattern" => check.hasPattern(c, pattern, a)
      case "email" => check.containsEmail(c, a)
      case "approx_count_distinct" => check.hasApproxCountDistinct(c, a)
      case "kll" => check.kllSketchSatisfies(c, bd => {
        val counts = bd.buckets.map(_.count)
        counts.nonEmpty && a(counts.max.toDouble / math.max(1L, counts.sum))
      })
      case other => throw new IllegalArgumentException(s"unknown constraint kind $other")
    }
  }
}

final case class CheckSpec(name: String, level: String, constraints: Seq[ConstraintSpec]) {
  def build: Check = constraints.foldLeft(Check(
    if (level == "Error") CheckLevel.Error else CheckLevel.Warning, name))((ch, c) => c.addTo(ch))
}

final case class AnomalySpec(id: String, metric: String,
    maxIncreaseDayRows: Option[Double], maxDecrease: Option[Double])

object Suites {
  private implicit val formats: Formats = DefaultFormats

  def parse(path: String): JValue = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try JsonMethods.parse(src.mkString) finally src.close()
  }

  private def constraint(j: JValue): ConstraintSpec = ConstraintSpec(
    (j \ "id").extract[String], (j \ "kind").extract[String],
    (j \ "cols").extractOpt[Seq[String]].getOrElse(Nil),
    (j \ "lo").extractOpt[Double], (j \ "hi").extractOpt[Double],
    (j \ "values").extractOpt[Seq[String]].getOrElse(Nil),
    (j \ "range").extractOpt[Seq[Double]].getOrElse(Nil),
    (j \ "pattern").extractOpt[String].orNull,
    (j \ "q").extractOpt[Double].getOrElse(0.5),
    (j \ "value").extractOpt[String].orNull)

  def checks(suite: JValue): Seq[CheckSpec] =
    (suite \ "checks").children.map(c => CheckSpec(
      (c \ "name").extract[String], (c \ "level").extract[String],
      (c \ "constraints").children.map(constraint)))

  def anomalies(suite: JValue): Seq[AnomalySpec] =
    (suite \ "anomaly").children.map(a => AnomalySpec(
      (a \ "id").extract[String], (a \ "metric").extract[String],
      (a \ "max_increase_day_rows").extractOpt[Double],
      (a \ "max_decrease").extractOpt[Double]))

  /** Per check: its status and, per constraint (in suite order), the
    * constraint status and the metric value the engine computed.
    */
  def report(result: VerificationResult, specs: Seq[CheckSpec]): Json = {
    Json.obj(
      "status" -> Json.str(result.status.toString),
      "checks" -> Json.arr(result.checkResultPairs.map { case (ch, r) =>
        val spec = specs.find(_.name == ch.description)
        Json.obj(
          "name" -> Json.str(ch.description),
          "status" -> Json.str(r.status.toString),
          "constraints" -> Json.arr(r.constraintResults.zipWithIndex.map { case (cr, i) =>
            val cs = spec.flatMap(_.constraints.lift(i))
            Json.obj(
              "id" -> Json.str(cs.map(_.id).getOrElse(cr.constraint.name)),
              "status" -> Json.str(cr.status.toString),
              "value" -> cr.metric.map(metricJson(_, cs)).getOrElse(Json.Null))
          }))
      }))
  }

  private def metricJson(m: graft.core.Metric[_], spec: Option[ConstraintSpec]): Json = m match {
    case DoubleMetric(_, _, _, Success(v), _) => Json.num(v)
    case KLLMetric(_, Success(bd)) => Json.obj("buckets" -> Json.arr(bd.buckets.map(b =>
      Json.arr(Seq(Json.num(b.lowValue), Json.num(b.highValue), Json.num(b.count.toDouble))))))
    case HistogramMetric(_, Success(d)) =>
      val key = spec.map(_.value).orNull
      d.values.get(key).map(v => Json.obj("absolute" -> Json.num(v.absolute.toDouble),
        "ratio" -> Json.num(v.ratio))).getOrElse(Json.Null)
    case _ => Json.Null
  }
}

/** Minimal JSON writer for the benchmark's own records. */
sealed trait Json { def render: String }

object Json {
  private final case class Raw(render: String) extends Json
  val Null: Json = Raw("null")
  def num(d: Double): Json =
    Raw(if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d))
  def bool(b: Boolean): Json = Raw(b.toString)
  def str(s: String): Json = Raw(s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\""))
  def arr(xs: Seq[Json]): Json = Raw(xs.map(_.render).mkString("[", ",", "]"))
  def obj(kv: (String, Json)*): Json =
    Raw(kv.map { case (k, v) => str(k).render + ":" + v.render }.mkString("{", ",", "}"))
}
