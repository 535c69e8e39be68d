package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Domain/URL-level curation — the per-source triage step of C4 /
  * RefinedWeb-style pipelines: aggregate corpus health per registrable
  * host (volume, duplication, quality), derive a blocklist from policy
  * thresholds, and filter the corpus by it. Operates on whatever domain
  * column the caller supplies; [[urlHost]] extracts one from raw URLs.
  *
  * Scale shape: [[domainStats]] is ONE groupBy over a slim projection
  * (domain, 128-bit text hash, token count, quality score) — every
  * aggregate is map-side combinable (count, sum, count-distinct over the
  * hash); domains number in the millions at worst, so the result is a
  * catalog-sized frame. [[filterBlockedDomains]] is a broadcast LEFT ANTI
  * join on the domain key: the corpus never shuffles, the blocklist rides
  * the task closure.
  *
  * reference capability: none (deequ has no corpus curation); part of the
  * beyond-reference LLM-pipeline family (SURVEY §2 pipeline block).
  */
object Domains {

  /** Lowercased host of a URL column: the authority between `scheme://`
    * (userinfo stripped) and the first `/`, `:`, `?` or `#`; a bracketed
    * IPv6 literal (`https://[2001:db8::1]:8080/`) is returned WITH its
    * brackets (ports contain no `]`, so the literal never truncates at
    * the colon). Null for unparseable values — callers decide whether
    * hostless rows are kept or quarantined. Pure codegen regexp, no UDF.
    */
  def urlHost(url: Column): Column = {
    val h = regexp_extract(url,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?(\\[[^\\]/?#]+\\]|[^/:?#]+)", 1)
    when(h === "", lit(null).cast(StringType)).otherwise(lower(h))
  }

  /** `df` plus `name`, the canonical form of `url` for URL-level dedup
    * (the CC-index / RefinedWeb convention: one page, one key — a
    * re-crawl of `HTTP://WWW.Example.com:80/a/?utm_source=x&b=2&a=1#frag`
    * and `http://example.com/a?a=1&b=2` must collide). An existing `name`
    * column is replaced in place (`url` may read it). Pure codegen
    * expressions, no UDF. Normalization, exactly:
    *
    *  - scheme and host lowercased; userinfo and fragment stripped;
    *  - a leading `www.` dropped from the host;
    *  - the default port for the scheme (`:80` http, `:443` https)
    *    dropped, other ports kept;
    *  - trailing slashes stripped from the path; an empty path becomes
    *    `/` (path case is PRESERVED — most servers are case-sensitive);
    *  - query parameters split on `&`, tracking parameters dropped
    *    (default set: `utm_*`, `gclid`, `fbclid`, `msclkid`, `dclid`,
    *    `igshid`, `mc_cid`, `mc_eid`, `ref_src`, `_ga`), the rest SORTED
    *    and rejoined; an emptied query disappears entirely.
    *
    * The tracking set is a caller-supplied anchored regex
    * (`trackingParamPattern`) because "never page content" is a property
    * of the crawl, not of the URL grammar — bare `ref` in particular is
    * deliberately NOT in the default (on code hosts `?ref=<branch>`
    * selects the page; referral slugs often do too), so callers whose
    * corpus uses `ref` purely for attribution opt in with
    * [[TrackingParamPatternWithRef]].
    *
    * Null for unparseable values (no scheme/host) — callers decide
    * whether keyless rows are kept or quarantined, as with [[urlHost]].
    *
    * Scale shape: four stacked projections, no shuffle — `url` is bound
    * once; scheme, host:port, path and query are cut from it by one
    * `regexp_extract` each; host, port, trimmed path and the filtered,
    * sorted query from those; then the canonical string. Each part is a
    * named column because `CollapseProject` keeps a non-cheap expression
    * that is referenced more than once in its own Project instead of
    * inlining it, so every regex runs once per row (6 `regexp_extract`s
    * in the plan). Written as one nested Column, `url` is copied into
    * every part and `hostport` into each of its own: the URL stage of
    * q136's chain (perfbench `curation`, 1,000 docs, 4-vCPU VM) then
    * carried 100 `regexp_extract`s, an 84 KB physical-plan description
    * and 0.195 s of task CPU per op; bound, 6, 8.1 KB and 0.037 s
    * (`plans/r21/`).
    */
  def withCanonicalUrl(
      df: DataFrame,
      url: Column,
      name: String = "canonical_url",
      trackingParamPattern: String = TrackingParamPattern): DataFrame = {
    def part(p: String): String = "graft_cu_" + p
    def c(p: String): Column = col(part(p))
    val bound = df.select(col("*"), url.as(part("url")))
      .select(col("*"),
        lower(regexp_extract(c("url"), "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
          .as(part("scheme")),
        regexp_extract(c("url"),
          "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/?#]+)", 1)
          .as(part("hostport")),
        regexp_extract(c("url"),
          "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1).as(part("raw_path")),
        regexp_extract(c("url"), "^[^#?]*\\?([^#]*)", 1).as(part("query")))
      .select(col("*"),
        regexp_replace(
          lower(regexp_extract(c("hostport"), "^(\\[[^\\]]+\\]|[^:]+)", 1)),
          "^www\\.", "").as(part("host")),
        regexp_extract(c("hostport"), "^(?:\\[[^\\]]+\\]|[^:]+):([0-9]+)$", 1)
          .as(part("port")),
        regexp_replace(c("raw_path"), "/+$", "").as(part("trimmed_path")),
        array_join(array_sort(filter(split(c("query"), "&"), p =>
          p =!= "" && !p.rlike(trackingParamPattern))), "&").as(part("qstr")))
    val scheme = c("scheme")
    val port = c("port")
    val defaultPort = (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443")
    val portPart = when(port === "" || defaultPort, lit(""))
      .otherwise(concat(lit(":"), port))
    val path = when(c("trimmed_path") === "", lit("/"))
      .otherwise(c("trimmed_path"))
    val queryPart = when(c("qstr") === "", lit(""))
      .otherwise(concat(lit("?"), c("qstr")))
    bound.withColumn(name,
        when(scheme === "" || c("host") === "", lit(null).cast(StringType))
          .otherwise(concat(scheme, lit("://"), c("host"), portPart, path,
            queryPart)))
      .drop(Seq("url", "scheme", "hostport", "raw_path", "query", "host",
        "port", "trimmed_path", "qstr").map(part): _*)
  }

  /** Anchored match for one `key=value` query parameter that is pure
    * click/campaign tracking — never page content in ANY corpus. Shared
    * with the q85 oracle replay. Bare `ref` is deliberately absent (see
    * [[withCanonicalUrl]]); `ref_src` stays (Twitter attribution only). */
  val TrackingParamPattern: String =
    "^(?:utm_[^=&]*|gclid|fbclid|msclkid|dclid|igshid|mc_cid|mc_eid|ref_src|_ga)(?:=.*)?$"

  /** The default set plus bare `ref` — opt-in for corpora where `ref` is
    * known to be pure referral attribution (it selects content on code
    * hosts and many storefronts, so it is not in the default). */
  val TrackingParamPatternWithRef: String =
    "^(?:utm_[^=&]*|gclid|fbclid|msclkid|dclid|igshid|mc_cid|mc_eid|ref|ref_src|_ga)(?:=.*)?$"

  /** URL-level exact dedup: one survivor (min `tieBreakCol`, the
    * [[Dedup.exact]] election) per [[withCanonicalUrl]] key of `urlCol`.
    * Rows whose URL does not canonicalize (null key) are ALL KEPT — an
    * unparseable URL identifies nothing, so it can't collide. The
    * returned frame carries `df`'s columns plus `canonical_url`.
    *
    * Scale shape: ONE map-side-combinable groupBy (the [[Dedup.exact]]
    * min_by plan — partial aggregates collapse hot keys per map
    * partition, so a URL crawled a million times never forms a hot
    * reduce group) on (`canonical_url`, a discriminator that is null for
    * keyed rows and a per-row id for null-key rows). Null-key rows thus
    * ride the same aggregation as singleton groups, so the input is
    * evaluated once: a separate null-key branch would evaluate its whole
    * lineage, joins and broadcasts included, a second time.
    */
  def dedupByCanonicalUrl(
      df: DataFrame,
      urlCol: String,
      tieBreakCol: String): DataFrame = {
    val keyed = withCanonicalUrl(df, col(urlCol))
      .withColumn("graft_cu_null_id",
        when(col("canonical_url").isNull, monotonically_increasing_id()))
    Dedup.exact(keyed, Seq("canonical_url", "graft_cu_null_id"), tieBreakCol)
      .drop("graft_cu_null_id")
  }

  /** Per-domain curation stats: one row per non-null domain with
    *  - `n_docs` (rows), `n_text_docs` (non-null text),
    *  - `n_tokens` (whitespace total),
    *  - `n_distinct_texts` (exact, over 128-bit text hashes) and
    *    `dup_rate` = 1 − distinct/text-docs (0 when the domain has no
    *    text),
    *  - `low_quality_docs` ([[TextAnalysis.qualityScore]] <
    *    `lowQualityBelow`) and `mean_quality` (null-quality rows
    *    excluded).
    */
  def domainStats(
      df: DataFrame,
      domainCol: String,
      textCol: String,
      lowQualityBelow: Double = 0.5): DataFrame = {
    val q = TextAnalysis.qualityScore(col(textCol))
    df.where(col(domainCol).isNotNull)
      .select(
        col(domainCol).as("domain"),
        col(textCol).isNotNull.cast(LongType).as("graft_ht"),
        Mixing.tokenCountExpr(col(textCol)).as("graft_t"),
        md5(col(textCol).cast(BinaryType)).as("graft_kh"),
        q.as("graft_q"))
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("graft_ht")).as("n_text_docs"),
        sum(col("graft_t")).as("n_tokens"),
        countDistinct(col("graft_kh")).as("n_distinct_texts"),
        coalesce(sum((col("graft_q") < lowQualityBelow).cast(LongType)),
          lit(0L)).as("low_quality_docs"),
        avg(col("graft_q")).as("mean_quality"))
      .withColumn("dup_rate",
        when(col("n_text_docs") > 0,
          lit(1.0) - col("n_distinct_texts").cast(DoubleType) /
            col("n_text_docs").cast(DoubleType))
          .otherwise(lit(0.0)))
  }

  /** Domains a [[domainStats]] frame flags for blocking: duplication
    * above `maxDupRate` OR mean quality below `minMeanQuality` (domains
    * with no scored text never trigger the quality leg). Returns a
    * one-column `domain` frame, composable with an explicit blocklist via
    * union.
    */
  def blockedByPolicy(
      stats: DataFrame,
      maxDupRate: Double,
      minMeanQuality: Double): DataFrame =
    stats.where(col("dup_rate") > maxDupRate ||
        (col("mean_quality").isNotNull && col("mean_quality") < minMeanQuality))
      .select(col("domain"))

  /** Rows of `df` whose `domainCol` is NOT in `blocked` (a one-column
    * domain frame). Null domains are KEPT — blocklists name domains, and
    * hostless rows are a separate quarantine decision — so the join uses
    * plain equality (a null-safe `<=>` would let a stray null blocklist
    * row silently delete every hostless document) and null blocklist
    * entries are dropped. Broadcast LEFT ANTI: the corpus side never
    * shuffles.
    */
  def filterBlockedDomains(
      df: DataFrame,
      domainCol: String,
      blocked: DataFrame): DataFrame = {
    val b = blocked.select(col(blocked.columns.head).as("graft_bd"))
      .where(col("graft_bd").isNotNull).distinct()
    df.join(broadcast(b), df(domainCol) === col("graft_bd"), "left_anti")
  }

  /** Convenience overload for a literal blocklist. */
  def filterBlockedDomains(
      df: DataFrame,
      domainCol: String,
      blocked: Seq[String]): DataFrame = {
    import df.sparkSession.implicits._
    filterBlockedDomains(df, domainCol, blocked.toDF("domain"))
  }
}
