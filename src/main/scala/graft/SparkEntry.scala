package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{abs, aggregate, array, array_join, avg, broadcast, coalesce, col, concat, count, countDistinct, element_at, explode, expr, floor, greatest, lower, map_values, pmod, length, lit, max, md5, min, regexp_replace, round, split, struct, sum, sum_distinct, transform, typedLit, unix_micros, when, zip_with}
import org.apache.spark.sql.types.{BinaryType, DecimalType, DoubleType, LongType, StringType, StructField, StructType}

import graft.checks._
import graft.comparison._
import graft.core._
import graft.operators._
import graft.pipeline.{Clustering, Dedup, Similarity, TextAnalysis}
import graft.runners.AnalysisRunner

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` exercises engine operators (analyzers through
  * AnalysisRunner, comparison ops, pipeline ops) and returns a DataFrame
  * whose values are designed to be EXACTLY reproducible by the DuckDB
  * oracle in `oracleSql`:
  *   - counts and ratios of counts: exact integers / identical double division
  *   - float aggregates (moments, entropy, quantile interpolation): rounded
  *     to 6 decimals on both sides, far above cross-engine float noise
  *   - hash/sketch-valued ops (HLL, MinHash, SimHash, LSH, IVF): the exact
  *     ground truth (distinct counts, all-pairs Jaccard/cosine on a bounded
  *     id-subset, brute-force rankings) is emitted as DuckDB-reproducible
  *     columns, and the sketch outputs are asserted against it via 0/1
  *     tolerance/recall flags that the oracle expects to be 1.0 — so a
  *     sketch regression flips a value the hash compare catches.
  */
object SparkEntry {

  // -------------------------------------------------------------------------
  // helpers
  // -------------------------------------------------------------------------

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Paragraph-break injection rewrite shared by q54 and the scale probe:
    * a break after every 4th word turns the single-line corpus into a
    * multi-line one deterministically. The non-space class is spelled out
    * instead of `\S` because Java and RE2 disagree on vertical tab (Java
    * `\s` includes \x0B, RE2's does not), and the DuckDB oracle replays
    * this pattern under RE2 — `oracleSql("q54_paragraph_dedup")` carries
    * the SQL-escaped mirror and must track any change here. */
  val ParaInjectPattern = "((?:[^ \\t\\n\\x0B\\f\\r]+ ){3}[^ \\t\\n\\x0B\\f\\r]+) "
  val ParaInjectReplacement = "$1\n"

  /** q77's fixed BPE demo vocabulary — 12 merges chosen to exercise
    * multi-level merging over the corpus vocabulary (the+spark+line get
    * 2-3-level merges). The DuckDB oracle's replace chain is GENERATED
    * from this same list (see `bpeOracleSql`), so the two sides cannot
    * drift. Well-formed by construction: every non-char symbol (th, ar,
    * in) is created by an earlier merge.
    */
  val BpeDemoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "a" -> "r", "ar" -> "k", "e" -> "r",
    "o" -> "r", "a" -> "t", "s" -> "t", "i" -> "n", "in" -> "e",
    "o" -> "w", "u" -> "e")

  /** Demo BYTE-level merge list for q134/q135 (hex-spelled UTF-8 byte
    * symbols; see [[graft.pipeline.ByteBpe]]): multi-level merges up
    * through MULTI-BYTE code-point boundaries — c3 a9 (é) and c3 af (ï)
    * merge first, then café assembles across a 2-byte character. The
    * q134/q135 corpus injects "café résumé naïve the stark" into every
    * document so the multi-byte paths are exercised at every SF; the
    * DuckDB replace chain is GENERATED from this list. Well-formed by
    * construction (every compound symbol is an earlier merge's product).
    */
  val ByteBpeDemoMerges: Seq[(String, String)] = Seq(
    "c3" -> "a9", "c3" -> "af", "74" -> "68", "7468" -> "65",
    "63" -> "61", "6361" -> "66", "636166" -> "c3a9", "72" -> "c3a9",
    "73" -> "74", "6e" -> "61", "6e61" -> "c3af", "76" -> "65")

  /** The text column q134/q135 run over: every document's text with the
    * multi-byte demo tail appended (concat_ws skips a null text, so
    * null-text rows contribute exactly the tail on BOTH engines).
    */
  private val ByteBpeInjectTail = "café résumé naïve the stark"

  /** Demo WordPiece vocabulary for q111: the lowercase alphabet as both
    * word-initial and `##` continuation pieces (so pure-alpha words
    * always segment), plus multi-char pieces that exercise the greedy
    * longest-match choices ("the" beats "th" beats "t"; continuations
    * "##ing"/"##er"/"##he" beat their single-char tails). Digits and
    * punctuation are deliberately ABSENT: any word containing them is a
    * whole-word [UNK] — the census the oracle pins.
    */
  val WordPieceDemoVocab: Set[String] = {
    val alpha = ('a' to 'z').map(_.toString)
    (alpha ++ alpha.map("##" + _) ++ Seq(
      "th", "the", "an", "and", "in", "re", "or",
      "##he", "##er", "##ed", "##ing", "##nd", "##es", "##at", "##on",
      "##re", "##ti", "##st")).toSet
  }

  /** Demo unigram-tokenizer vocabulary for q94: every ASCII letter at
    * -4.0 plus multi-char pieces chosen to exercise real segmentation
    * choices on the corpus vocabulary — "join" (whole-word piece beats
    * jo+in), "customer" (cust+o+m+er), and EXACT score ties on "row"
    * (ro+w vs r+ow, both -6.0) and "part" (par+t vs p+art, both -6.5)
    * that pin the shortest-last-piece tie rule cross-engine. ALL
    * log-probs are multiples of 0.25, so every Viterbi sum is an exact
    * binary double: tie comparisons and the oracle replay are
    * float-noise-free by construction.
    */
  val UnigramDemoPieces: Seq[(String, Double)] =
    "abcdefghijklmnopqrstuvwxyz".map(c => c.toString -> -4.0) ++ Seq(
      "jo" -> -2.0, "in" -> -2.0, "join" -> -3.0,
      "ha" -> -2.5, "sh" -> -2.5,
      "sc" -> -2.0, "an" -> -2.0,
      "er" -> -1.75, "ust" -> -2.5, "cust" -> -3.0,
      "ro" -> -2.0, "ow" -> -2.0,
      "ta" -> -2.25, "ble" -> -2.25,
      "str" -> -2.25, "eam" -> -2.25,
      "wind" -> -3.5, "dow" -> -2.5,
      "que" -> -2.5, "ry" -> -2.25,
      "fast" -> -3.25, "low" -> -2.5,
      "all" -> -2.5, "gg" -> -2.5,
      "data" -> -3.5, "the" -> -3.0, "key" -> -3.0,
      "par" -> -2.5, "art" -> -2.5)
  val UnigramDemoUnk: Double = -10.0

  /** The events table's `ts` encoding has varied across test-data
    * generations: older files store parquet TIMESTAMP(NANOS) — which the
    * Spark reader rejects unless `nanosAsLong` maps it to a raw Long —
    * while newer files store timestamp[us], which Spark 4 reads natively
    * as TIMESTAMP_NTZ. Branch on the type the scan actually produced:
    *   - LongType        → legacy nanos: truncate to micros, exactly what
    *                       DuckDB's microsecond TIMESTAMP does on the
    *                       same file, so boundaries agree cross-engine.
    *   - TIMESTAMP_NTZ / TIMESTAMP → already microseconds: pass through
    *                       (session TZ is UTC, so NTZ event-time window
    *                       boundaries match the DuckDB oracle as-is).
    * NOTE: nanosAsLong is a session conf, not a per-read option, and the
    * scan consults it at execution time — it intentionally stays set for
    * the session (it only affects files with NANOS columns, which Spark
    * would otherwise refuse to read at all; it is a no-op for us/ms).
    */
  private[graft] def eventsTable(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.TimestampType =>
        raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected int64 nanos or timestamp")
    }
  }

  /** Recursive delete for per-query temp state dirs — a bench run repeats
   *  each query several times, so leaking the dir compounds per rep. */
  private def rmTree(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      // Files.walk holds open DirectoryStreams until closed — a leak
      // per bench rep if left to GC
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.toSeq.reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally st.close()
    }
  }

  /** Runs `body` over a fresh temp dir and removes the dir afterwards, on
    * the failure path too. `body` must not return a frame that still
    * reads from the dir. */
  private[graft] def withTempDir[T](prefix: String)(body: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(tmp) finally rmTree(tmp)
  }

  /** Stages `df` as `nFiles` parquet files under `$tmp/in` (one write
    * job), then ingests them through a real file stream, one file per
    * micro-batch, into `onBatch`; returns once every file is processed.
    * The streaming twins fold batch-agnostic monoids, so only the number
    * of micro-batches matters, not which rows each one holds. */
  private[graft] def streamStaged(s: SparkSession, df: DataFrame, nFiles: Int,
      tmp: String)(onBatch: (DataFrame, Long) => Unit): Unit = {
    df.repartition(nFiles).write.parquet(s"$tmp/in")
    val query = s.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      .writeStream.option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch(onBatch).start()
    try query.processAllAvailable() finally query.stop()
  }

  /** Collects `out` into a local frame over the same schema, running
    * `release` (the caches `out` was computed from) afterwards, also when
    * the collect throws. */
  private[graft] def collectReleasing(s: SparkSession, out: DataFrame)(
      release: => Unit): DataFrame = {
    val rows = try out.collect() finally release
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Single-row DataFrame of named double values. */
  private def metricRow(s: SparkSession, cols: Seq[(String, Double)]): DataFrame = {
    val schema = StructType(cols.map { case (n, _) => StructField(n, DoubleType, nullable = false) })
    s.createDataFrame(
      java.util.Arrays.asList(Row(cols.map(_._2.asInstanceOf[Any]): _*)),
      schema)
  }

  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Round to 3 decimals — for aggregates over large-magnitude values
    * (1e5-scale money columns) where different summation orders leave
    * ~1e-7 absolute noise: a 1e-3 grid still pins 8-9 significant digits
    * while making a cross-engine boundary flip essentially impossible.
    */
  private def r3(v: Double): Double =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def flag(b: Boolean): Double = if (b) 1.0 else 0.0

  /** One-job bag (multiset) difference counts:
    * `(a.exceptAll(b).count, b.exceptAll(a).count)` — the exact values
    * the parity pins compare — computed as a SINGLE signed-count
    * aggregate instead of two exceptAll plans. The two-exceptAll form
    * costs four computations of the inputs (each exceptAll evaluates
    * both sides) plus two shuffled aggregate jobs; this form evaluates
    * each input ONCE, shuffles once (map-side partial aggregation on
    * the slim key columns), and runs one job (guide §2.4 "remove
    * shuffles outright" / §1.2 "don't compute things twice").
    * Columns align by POSITION, exceptAll's own resolution rule; null
    * and NaN grouping semantics match exceptAll's null-safe equality.
    */
  private def bagDiffCounts(a: DataFrame, b: DataFrame): (Long, Long) = {
    val keyCols = a.columns.toSeq.map(col)
    val r = a.withColumn("graft_bag_w", lit(1L))
      .unionByName(b.toDF(a.columns: _*).withColumn("graft_bag_w", lit(-1L)))
      .groupBy(keyCols: _*)
      .agg(sum(col("graft_bag_w")).as("graft_bag_d"))
      .agg(
        coalesce(sum(greatest(col("graft_bag_d"), lit(0L))), lit(0L)),
        coalesce(sum(greatest(-col("graft_bag_d"), lit(0L))), lit(0L)))
      .collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** TRUE iff `a` and `b` are equal as bags — exactly
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty`, in one job.
    */
  private def bagEq(a: DataFrame, b: DataFrame): Boolean =
    bagDiffCounts(a, b) == ((0L, 0L))

  /** Post-process a top-k=5 ANN result (which includes the query row itself
    * at cosine 1.0) into the 4 nearest OTHER vectors, re-ranked 1..4.
    * Robust to identical-vector ties: whether or not the self row survived
    * the k=5 cut, dropping self rows and taking the first 4 by original
    * rank yields the same neighbor set DuckDB computes by excluding self.
    */
  private def annTop4(topk: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rank"))
    topk.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("graft_rnk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("graft_rnk") <= 4)
      .select(col("query_id"), col("neighbor_id"),
        col("graft_rnk").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Runs analyzers through the fused-scan runner and returns name->value. */
  private def runAnalyzers(df: DataFrame, analyzers: Seq[(String, AnyAnalyzer)])
    : Seq[(String, Double)] = {
    val ctx = AnalysisRunner.run(df, analyzers.map(_._2))
    analyzers.map { case (name, a) =>
      val v = ctx.metric(a).get match {
        case DoubleMetric(_, _, _, value, _) => value.get
        case other => other.value.get.asInstanceOf[Double]
      }
      name -> v
    }
  }

  // -------------------------------------------------------------------------
  // flagship
  // -------------------------------------------------------------------------

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full VerificationSuite pipeline (fused scan + grouping
    * fusion + constraint evaluation) and returns the check results.
    */
  def entry(spark: SparkSession): DataFrame = {
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val check = Check(CheckLevel.Error, "lineitem integrity")
      .hasSize(_ > 0)
      .isComplete("l_orderkey")
      .isComplete("l_quantity")
      .satisfies("l_quantity > 0 AND l_quantity <= 50", "qty range", _ >= 0.99)
      .isNonNegative("l_extendedprice")
      .hasUniqueness(Seq("l_orderkey", "l_linenumber"), _ >= 0.5)
      .hasMin("l_discount", _ >= 0.0)
      .hasMax("l_quantity", _ <= 50.0)
      .hasCompleteness("l_shipdate", _ == 1.0)
    val result = VerificationSuite().onData(lineitem).addCheck(check).run()
    VerificationResult.checkResultsAsDataFrame(spark, result)
  }

  // -------------------------------------------------------------------------
  // correctness queries (one per operator family) + DuckDB oracles
  // -------------------------------------------------------------------------

  /** Held-out (language, sentence) fixture for q97 — one sentence per
    * [[graft.pipeline.LangId.DefaultSeed]] language, none present in the
    * seed. Shared with the oracle SQL (interpolated below) so the two
    * sides cannot drift.
    */
  private val langIdFixture: Seq[(String, String)] = Seq(
    ("en", "yesterday evening we walked along the river and watched the boats come home before dinner"),
    ("de", "gestern abend gingen wir am fluss entlang und sahen den booten zu bevor wir zum essen gingen"),
    ("fr", "hier soir nous avons marché le long de la rivière et regardé les bateaux rentrer avant le dîner"),
    ("es", "ayer por la noche caminamos junto al río y vimos los barcos volver antes de la cena"),
    ("it", "ieri sera abbiamo camminato lungo il fiume e guardato le barche tornare prima di cena"),
    ("pt", "ontem à noite caminhámos ao longo do rio e vimos os barcos voltarem antes do jantar não são horas más"),
    ("ru", "вчера вечером мы гуляли вдоль реки и смотрели как лодки возвращаются домой к ужину"),
    ("ja", "昨日の夕方私たちは川沿いを歩いて夕食の前に船が帰ってくるのを眺めた"))

  /** Shared SQL fragments for the q97/q99 language-ID replays — generated
    * from the same constants the Spark side uses, so the engines cannot
    * drift.
    */
  private def langIdSeedValuesSql: String =
    graft.pipeline.LangId.DefaultSeed
      .map { case (l, t) => s"('$l', '${t.replace("'", "''")}')" }
      .mkString(",\n        |    ")

  private def langIdTextCaseSql: String =
    langIdFixture.zipWithIndex
      .map { case ((_, t), i) => s"WHEN ${i} THEN '${t.replace("'", "''")}'" }
      .mkString("\n        |      ")

  private def langIdLangCaseSql: String =
    langIdFixture.zipWithIndex
      .map { case ((l, _), i) => s"WHEN ${i} THEN '$l'" }
      .mkString(" ")

  /** The q97 fixture expressions (text + expected language selected by
    * `doc_id % 8`), shared by q97 and q99.
    */
  private def langIdFixtureCols: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val sel = pmod(col("doc_id"), lit(8))
    val textCase = langIdFixture.zipWithIndex.tail
      .foldLeft(when(sel === 0, lit(langIdFixture.head._2))) {
        case (acc, ((_, t), i)) => acc.when(sel === i, lit(t))
      }
    val langCase = langIdFixture.zipWithIndex.tail
      .foldLeft(when(sel === 0, lit(langIdFixture.head._1))) {
        case (acc, ((l, _), i)) => acc.when(sel === i, lit(l))
      }
    (textCase, langCase)
  }

  /** q85's messy URL per doc_id: five ids per page in five disguises
    * (www + uppercase scheme + default port + trailing slash + userinfo
    * + tracking params + fragment + unsorted content params); doc_id%97
    * rows are unparseable. The oracles of q85 and q96/q136 replay it. */
  private def disguisedUrl: Column = {
    val g = floor(col("doc_id") / 5).cast(LongType)
    val host = concat(lit("s"), pmod(g, lit(20)).cast(StringType),
      lit(".example.com"))
    val path = concat(lit("/p/"), g.cast(StringType))
    val m5 = pmod(col("doc_id"), lit(5))
    when(pmod(col("doc_id"), lit(97)) === 0, lit("page moved"))
      .when(m5 === 0, concat(lit("https://www."), host, path))
      .when(m5 === 1, concat(lit("HTTPS://"), host, lit(":443"), path, lit("/")))
      .when(m5 === 2, concat(lit("https://user:pw@"), host, path,
        lit("?utm_source=x&fbclid="), col("doc_id").cast(StringType)))
      .when(m5 === 3, concat(lit("https://"), host, path, lit("?b=2&a=1#frag")))
      .otherwise(concat(lit("https://"), host, path,
        lit("?a=1&utm_medium=y&b=2")))
  }

  /** End-to-end curation v2 (q96, and q136 under the builder's name): the
    * public Curation.pipeline builder over (1) per-source footer
    * boilerplate removal (q89 injection), (2) parity markers appended
    * AFTER cleaning, so the rule can't eat them, (3) an NB quality gate
    * trained on a 20% seed, (4) CCNet perplexity terciles per source,
    * keeping head+middle, (5) canonical-URL dedup over q85's disguises,
    * then (6) deterministic shard stats of the final kept set. Every pin
    * is an exact integer, replayed by ONE chained oracle. */
  private def curationV2(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.{Curation, Mixing}
    import org.apache.spark.sql.functions.concat_ws
    val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
    val withFooter = docs.select(col("doc_id"), col("source"),
      when(pmod(col("doc_id"), lit(3)) =!= 2,
        concat(col("text"), lit("\nFOOTER "), col("source"),
          lit(" all rights reserved"))).otherwise(col("text")).as("text"))
    val isKeep = pmod(col("doc_id"), lit(2)) === 0
    val marker = when(isKeep,
      lit("qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb"))
      .otherwise(lit("qtossa qtossb qtossa qtossb qtossa qtossb"))
    val r = Curation.pipeline(withFooter, "doc_id", "text", Seq(
      Curation.RemoveBoilerplate("source", maxDocFrac = 0.4, minDocs = 5),
      Curation.MapText("mark", concat_ws(" ", col("text"), marker)),
      Curation.QualityClassifier(
        labelExpr = when(isKeep, lit("keep")).otherwise(lit("toss")),
        seedPredicate = pmod(col("doc_id"), lit(10)) < 2),
      Curation.PerplexityKeep("source", nBuckets = 3, keepMaxBucket = 2),
      Curation.UrlDedup(disguisedUrl)),
      // the input is a cheap projection over the source scan
      persistInput = false)
    val shardAgg = Mixing.shardStats(r.docs, "doc_id", "text", 8)
      .agg(count(lit(1)),
        coalesce(sum(col("n_docs")), lit(0L)),
        coalesce(sum(col("n_tokens")), lit(0L)),
        coalesce(sum(col("id_sum")), lit(0L)),
        coalesce(max(col("n_docs")), lit(0L)),
        coalesce(min(col("n_docs")), lit(0L)))
      .collect().head
    val c = r.censuses.toMap
    r.release()
    metricRow(s, Seq(
      "n_input" -> c("input_docs"),
      "boiler_removed" -> c("boiler_removed_lines"),
      "nb_kept" -> c("quality_kept"),
      "perp_kept" -> c("perplexity_kept"),
      "final_docs" -> shardAgg.getLong(1).toDouble,
      "final_tokens" -> shardAgg.getLong(2).toDouble,
      "final_id_sum" -> shardAgg.getLong(3).toDouble,
      "shards_nonempty" -> shardAgg.getLong(0).toDouble,
      "max_shard_docs" -> shardAgg.getLong(4).toDouble,
      "min_shard_docs" -> shardAgg.getLong(5).toDouble))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q000: oracle-DIALECT canary — one row per exotic-construct the
    // suite's oracles have ever leaned on (zip-unnest pairing, struct
    // unnest, list_inner_product kernel precision, correlated
    // ORDER-BY-LIMIT scalar subqueries, window tie order, round-half
    // conventions, negative modulo, non-negative integer division, the
    // floor(x*1000+0.5) quantization rule, regex split), each pinned to
    // ONE integer. When a driver-environment DuckDB-version skew
    // appears, the red lands HERE and the differing row NAMES the
    // construct — instead of a blind hash red on a 60-line trajectory
    // oracle (the r13-r16 q102/q103 failure mode). The Spark side
    // computes each value with its own native expression (posexplode,
    // indexed transform, zip_with folds, max-struct, row_number) — both
    // engines derive, neither copies.
    "q000_dialect_canary" -> ((s, dir) => {
      import s.implicits._
      val one = s.range(1)
      def scalarLong(c: Column): Long =
        one.select(c.cast(LongType)).head.getLong(0)
      val xs = typedLit(Seq(3L, 1L, 4L, 1L, 5L))
      val zipPair = one.select(org.apache.spark.sql.functions.posexplode(xs))
        .agg(sum((col("pos") + 1L) * col("col"))).head.getLong(0)
      val structPair = scalarLong(aggregate(
        transform(xs, (x, i) => x * (i.cast(LongType) + 1L)),
        lit(0L), (acc, v) => acc + v))
      val dot = aggregate(
        zip_with(typedLit(Seq(0.1, 0.2, 0.3)), typedLit(Seq(0.4, 0.5, 0.6)),
          (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)
      val innerProd = scalarLong(floor(dot * 1073741824L + 0.5))
      val fix = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 5L, 300L))
        .toDF("id", "s", "v")
      val corrLimit = fix.agg(max(struct(col("s"), col("v"))).as("m"))
        .select(col("m.v")).head.getLong(0)
      val winTies = fix.selectExpr(
          "id", "row_number() over (order by s desc, id desc) as rn")
        .agg(sum(col("id") * col("rn"))).head.getLong(0)
      val rows = Seq(
        "zip_unnest_pair" -> zipPair,
        "struct_unnest_pair" -> structPair,
        "inner_product_2pow30" -> innerProd,
        "corr_limit_subquery" -> corrLimit,
        "win_rownum_ties" -> winTies,
        "round_half_pos" -> scalarLong(round(lit(2.5d)) + round(lit(3.5d))),
        "round_half_neg" -> scalarLong(round(lit(-2.5d))),
        "floor_quant_half" ->
          scalarLong(floor(lit(0.0625f).cast(DoubleType) * 1000L + 0.5)),
        "neg_mod" -> scalarLong(lit(-7L) % lit(3L)),
        "pmod_canon" -> scalarLong(pmod(lit(-7L), lit(3L))),
        "intdiv_nonneg" -> scalarLong(expr("(46L * 46L * 1000L) div 999L")),
        "sum_bigint" -> one.select(explode(typedLit(Seq(1L, 2L, 3L))).as("x"))
          .agg(sum(col("x"))).head.getLong(0),
        "split_regex_len" ->
          scalarLong(org.apache.spark.sql.functions.size(
            split(lit("a  b c"), "\\s+"))),
        // r17-vintage constructs now load-bearing in the oracles (q104's
        // paragraph split, the integer-grid floor-div family): pin each
        // before a driver-DuckDB skew can bite a trajectory oracle.
        // split of the EMPTY string yields one empty element (not zero)
        "split_regex_empty" ->
          scalarLong(org.apache.spark.sql.functions.size(
            split(lit(""), "\n+"))),
        // leading AND trailing delimiters both yield empty elements
        // (Spark's split defaults to limit -1 — trailing empties KEPT)
        "split_regex_edges" ->
          scalarLong(org.apache.spark.sql.functions.size(
            split(lit("\n\nx\ny\n"), "\n+"))),
        // negative floor-div via the pmod-canonical identity
        // (a - pmod(a, b)) / b — the only negative-operand division
        // idiom the oracles are allowed to use (DuckDB // truncates)
        "floordiv_neg_canon" ->
          scalarLong(((lit(-7L) - pmod(lit(-7L), lit(3L))) / lit(3L))
            .cast(LongType)),
        // the exact-integer-quotient-via-double envelope at its edge:
        // numerator (2^53-1) - pmod(...) is an exact multiple of 999
        // below 2^53, so the IEEE double quotient is the exact integer
        // (the decontaminateByEmbeddingGrid ranking-key construction)
        "intdiv_double_envelope" ->
          scalarLong(((lit(9007199254740991L) -
            pmod(lit(9007199254740991L), lit(999L))) / lit(999L))
            .cast(LongType)),
        // r18: the curriculum permutation's xorshift pre-mix
        // (x XOR (x >> 15)) — pins BOTH engines' xor and arithmetic
        // right-shift on non-negative BIGINTs (q169)
        "xorshift_mix" ->
          scalarLong(lit(1234567891L)
            .bitwiseXOR(org.apache.spark.sql.functions
              .shiftright(lit(1234567891L), 15))))
      rows.toDF("construct", "value").orderBy(col("construct"))
    }),

    "q01_size" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "size_all" -> Size(),
        "size_filtered" -> Size(Some("l_quantity > 25")))))
    }),

    "q02_completeness" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "completeness_orderkey" -> Completeness("l_orderkey"),
        "completeness_qty_filtered" -> Completeness("l_quantity", Some("l_quantity > 25")))))
    }),

    "q03_compliance" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "qty_in_range" -> Compliance("qty range", "l_quantity BETWEEN 1 AND 50"),
        "low_discount" -> Compliance("low discount", "l_discount <= 0.06"),
        "tax_lt_discount" -> Compliance("tax lt discount", "l_tax < l_discount"))))
    }),

    "q04_minmax" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "min_price" -> Minimum("l_extendedprice"),
        "max_price" -> Maximum("l_extendedprice"),
        "range_price" -> ValueRange("l_extendedprice"),
        "min_qty_filtered" -> Minimum("l_quantity", Some("l_discount > 0.05")))))
    }),

    "q05_sum_mean" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "sum_qty" -> Sum("l_quantity"),
        "mean_qty" -> Mean("l_quantity"),
        "ratio_qty_linenumber" -> RatioOfSums("l_quantity", "l_linenumber"))))
    }),

    "q06_moments" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "stddev_qty" -> StandardDeviation("l_quantity"),
        "var_qty" -> Variance("l_quantity"),
        "skew_qty" -> Skewness("l_quantity"),
        "kurt_qty" -> Kurtosis("l_quantity"))).map { case (n, v) => n -> r6(v) })
    }),

    "q07_corr" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "corr_qty_price" -> Correlation("l_quantity", "l_extendedprice")))
        .map { case (n, v) => n -> r6(v) })
    }),

    "q08_quantiles" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "median_qty" -> ExactQuantile("l_quantity", 0.5),
        "p90_price" -> ExactQuantile("l_extendedprice", 0.9),
        "iqr_qty" -> InterquartileRange("l_quantity")))
        .map { case (n, v) => n -> r6(v) })
    }),

    // approximate sketches, value-checked as tolerance FLAGS: the exact
    // values are DuckDB-reproducible; the 0/1 flags assert the sketch
    // estimates land within their published error bounds, so the oracle
    // catches a broken sketch without needing to reproduce its hashes.
    "q09_approx" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val m = runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "approx_distinct" -> ApproxCountDistinct("l_partkey"),
        "approx_median" -> ApproxQuantile("l_quantity", 0.5),
        "exact_distinct" -> CountDistinct(Seq("l_partkey")),
        "exact_median" -> ExactQuantile("l_quantity", 0.5))).toMap
      metricRow(s, Seq(
        "exact_distinct_partkey" -> m("exact_distinct"),
        "exact_median_qty" -> r6(m("exact_median")),
        "approx_distinct_ok" ->
          flag(math.abs(m("approx_distinct") - m("exact_distinct")) / m("exact_distinct") < 0.05),
        "approx_median_ok" ->
          flag(math.abs(m("approx_median") - m("exact_median")) <=
            math.max(1.0, 0.02 * math.abs(m("exact_median"))))))
    }),

    "q10_zeros_lengths" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val part = table(s, dir, "part")
      metricRow(s,
        runAnalyzers(li, Seq[(String, AnyAnalyzer)]("zeros_discount" -> ZerosCount("l_discount"))) ++
        runAnalyzers(part, Seq[(String, AnyAnalyzer)](
          "min_name_len" -> MinLength("p_name"),
          "max_name_len" -> MaxLength("p_name"))))
    }),

    "q11_pattern" -> ((s, dir) => {
      val cust = table(s, dir, "customer")
      val part = table(s, dir, "part")
      metricRow(s,
        runAnalyzers(cust, Seq[(String, AnyAnalyzer)](
          "customer_name_pattern" -> PatternMatch("c_name", "^Customer#[0-9]+$"))) ++
        runAnalyzers(part, Seq[(String, AnyAnalyzer)](
          "part_type_pattern" -> PatternMatch("p_type", "^(ECONOMY|SMALL)$"))))
    }),

    "q12_datatype" -> ((s, dir) => {
      val part = table(s, dir, "part")
      val ctxSize = DataTypeAnalyzer("p_size").calculate(part).value.get
      val ctxBrand = DataTypeAnalyzer("p_brand").calculate(part).value.get
      metricRow(s, Seq(
        "size_integral" -> ctxSize("Integral").absolute.toDouble,
        "size_string" -> ctxSize.values.get("String").map(_.absolute.toDouble).getOrElse(0.0),
        "brand_string" -> ctxBrand("String").absolute.toDouble,
        "brand_integral" -> ctxBrand.values.get("Integral").map(_.absolute.toDouble).getOrElse(0.0)))
    }),

    "q13_uniqueness" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "uniq_pair" -> Uniqueness(Seq("l_orderkey", "l_linenumber")),
        "distinctness_pair" -> Distinctness(Seq("l_orderkey", "l_linenumber")),
        "uvr_pair" -> UniqueValueRatio(Seq("l_orderkey", "l_linenumber")),
        "distinct_partkeys" -> CountDistinct(Seq("l_partkey")))))
    }),

    "q14_entropy_mi" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "entropy_returnflag" -> Entropy("l_returnflag"),
        "mi_flag_status" -> MutualInformation(Seq("l_returnflag", "l_linestatus"))))
        .map { case (n, v) => n -> r6(v) })
    }),

    "q15_duprows" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      metricRow(s, runAnalyzers(li, Seq[(String, AnyAnalyzer)](
        "dup_rows_pair" -> DuplicateRowCount(Seq("l_orderkey", "l_linenumber")))))
    }),

    "q16_histogram" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
      val dist = Histogram("o_orderpriority", maxDetailBins = 5)
        .calculate(orders).value.get
      val rows = dist.values.toSeq
        .sortBy { case (v, dv) => (-dv.absolute, v) }
        .map { case (v, dv) => Row(v, dv.absolute, dv.ratio) }
      val schema = StructType(Seq(
        StructField("value", StringType, nullable = false),
        StructField("absolute", LongType, nullable = false),
        StructField("ratio", DoubleType, nullable = false)))
      s.createDataFrame(new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    }),

    "q17_referential_integrity" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val part = table(s, dir, "part")
      val orders = table(s, dir, "orders")
      val cust = table(s, dir, "customer")
      metricRow(s, Seq(
        "parts_referenced" -> ReferentialIntegrity.subsetCheck(part, "p_partkey", li, "l_partkey"),
        "orders_have_customers" ->
          ReferentialIntegrity.subsetCheck(orders, "o_custkey", cust, "c_custkey")))
    }),

    "q18_rowcount_match" -> ((s, dir) => {
      metricRow(s, Seq(
        "orders_vs_lineitem" ->
          RowCountMatch.ratio(table(s, dir, "orders"), table(s, dir, "lineitem"))))
    }),

    "q19_dataset_match" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val bigOrders = table(s, dir, "orders").filter(col("o_totalprice") > 30000.0)
      metricRow(s, Seq(
        "lineitem_in_big_orders" ->
          DatasetMatch.matchRatio(li, bigOrders,
            Map("l_orderkey" -> "o_orderkey")).get))
    }),

    "q20_text_stats" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val t = col("text")
      val agg = docs.agg(
        org.apache.spark.sql.functions.sum(TextAnalysis.tokenCount(t)).cast(DoubleType),
        org.apache.spark.sql.functions.max(TextAnalysis.tokenCount(t)).cast(DoubleType),
        org.apache.spark.sql.functions.sum(TextAnalysis.charCount(t)).cast(DoubleType),
        org.apache.spark.sql.functions.sum(TextAnalysis.alphaRatio(t)),
        org.apache.spark.sql.functions.sum(TextAnalysis.whitespaceRatio(t)),
        org.apache.spark.sql.functions.sum(TextAnalysis.meanTokenLength(t))
      ).collect().head
      metricRow(s, Seq(
        "total_tokens" -> agg.getDouble(0),
        "max_tokens" -> agg.getDouble(1),
        "total_chars" -> agg.getDouble(2),
        "sum_alpha_ratio" -> r6(agg.getDouble(3)),
        "sum_ws_ratio" -> r6(agg.getDouble(4)),
        "sum_mean_token_len" -> r6(agg.getDouble(5))))
    }),

    "q21_dedup_exact" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val (kept, dropped) = Dedup.exactCounts(li, Seq("l_orderkey", "l_linenumber"))
      // also drive the materializing variant to count surviving rows
      val survivors = Dedup.exact(li, Seq("l_orderkey", "l_linenumber"), "l_partkey").count()
      metricRow(s, Seq(
        "rows_kept" -> kept.toDouble,
        "rows_dropped" -> dropped.toDouble,
        "survivors" -> survivors.toDouble))
    }),

    "q22_lang_id" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // tight per-partition marker counting (same semantics as the
      // languageIdFromTokens expression form, ~5x faster per byte)
      val counted = TextAnalysis.languageIdCounts(docs, "text")
        .collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      metricRow(s, Seq("de", "en", "es", "fr", "und", "zh").map(l =>
        s"pred_$l" -> counted.getOrElse(l, 0L).toDouble))
    }),

    "q23_fingerprint" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val distinctFp = docs
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(countDistinct(col("fp"))).collect().head.getLong(0)
      metricRow(s, Seq("fp_distinct" -> distinctFp.toDouble))
    }),

    // near-dup, value-checked: exact ground-truth pair count on a bounded
    // id-subset (= the WHOLE table at sf<=0.01, so the oracle is complete
    // there) + recall flags for the MinHash-LSH and SimHash candidate paths
    // measured against that ground truth. The engine passes still run on
    // the FULL table (the bench workload), only the audit is subset-scoped.
    "q24_near_dup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val subN = 500L
      val inSub = col("id_a") < subN && col("id_b") < subN

      // ONE tokenize+hash pass over the corpus feeds the MinHash pipeline,
      // the SimHash pipeline AND both ground-truth audits
      val sigs = Dedup.textSignatures(docs, "doc_id", "text").persist()
      val subSigs = sigs.filter(col("graft_id") < subN)

      val exact = Dedup.exactJaccardPairsFromSignatures(subSigs, threshold = 0.5)
        .select("id_a", "id_b").withColumn("graft_e", lit(1L))
      val mh = Dedup.nearDuplicatePairsFromSignatures(sigs,
        threshold = 0.5, numHashes = 64, bands = 16).filter(inSub)
        .select("id_a", "id_b").distinct().withColumn("graft_mh", lit(1L))
      // UNCAPPED — but on the AUDIT SUBSET only. The completeness flag
      // below asserts pigeonhole-exact recall, which only holds when no
      // bucket is capped; chunk-equality candidacy is pairwise, so running
      // the uncapped banding over subSigs yields the IDENTICAL in-subset
      // pair set at a cost bounded by the 500-doc subset instead of the
      // corpus (a hot bucket at 100x would otherwise turn this audit
      // quadratic — the engine path stays capped + observable).
      val sim = Dedup.simHashPairsFromSignatures(subSigs, maxHamming = 8,
          maxBucketSize = Int.MaxValue)
        .filter(inSub).select("id_a", "id_b").distinct().withColumn("graft_sh", lit(1L))
      val exactHam = subSigs
        .select(col("graft_id").as("id_a"), col("graft_sim").as("graft_sa"))
        .crossJoin(subSigs.select(col("graft_id").as("id_b"), col("graft_sim").as("graft_sb")))
        .filter(col("id_a") < col("id_b"))
        .filter(Dedup.hammingDistance(col("graft_sa"), col("graft_sb")) <= 8)
        .select("id_a", "id_b").withColumn("graft_h", lit(1L))

      // ALL four audit counts in ONE action: the ground-truth skeleton
      // (exact-Jaccard ∪ exact-Hamming pairs) left-joins the two candidate
      // sets, and one aggregation emits every count. Spark schedules the
      // MinHash pipeline, the SimHash pipeline and both exact audits as
      // concurrent stages of one job instead of four serial actions.
      val r = exact.join(exactHam, Seq("id_a", "id_b"), "full_outer")
        .join(mh, Seq("id_a", "id_b"), "left_outer")
        .join(sim, Seq("id_a", "id_b"), "left_outer")
        .agg(
          sum(col("graft_e")).as("n_exact"),
          sum(when(col("graft_e").isNotNull && col("graft_mh").isNotNull, 1L)
            .otherwise(0L)).as("mh_found"),
          sum(col("graft_h")).as("n_ham"),
          sum(when(col("graft_h").isNotNull && col("graft_sh").isNotNull, 1L)
            .otherwise(0L)).as("sim_found"))
        .collect().head
      def longAt(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
      val (nExact, mhFound, nHam, simFound) = (longAt(0), longAt(1), longAt(2), longAt(3))
      sigs.unpersist(blocking = false)
      metricRow(s, Seq(
        "exact_jaccard_pairs" -> nExact.toDouble,
        "minhash_recall_ok" -> flag(nExact == 0 || mhFound.toDouble / nExact >= 0.9),
        // chunked candidate generation is pigeonhole-COMPLETE, so SimHash
        // recall must be exactly 1 (modulo bucket capping, absent here)
        "simhash_recall_ok" -> flag(simFound == nHam)))
    }),

    "q26_dqdl" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
      // seed one historical run so the dynamic rules below have history
      val repo = new graft.repository.InMemoryMetricsRepository
      graft.dqdl.EvaluateDataQuality.process(orders,
        """Rules = [ RowCount > 0, Mean "o_totalprice" > 0 ]""",
        repository = Some(repo),
        saveResultsKey = Some(graft.repository.ResultKey(1L)))
      val outcome = graft.dqdl.EvaluateDataQuality.process(orders,
        """Rules = [
          |  RowCount > 100,
          |  IsComplete "o_orderkey",
          |  ColumnValues "o_orderstatus" in ["F", "O", "P"],
          |  ColumnValues "o_totalprice" between 0 and 1000000,
          |  Mean "o_totalprice" between 1000 and 500000,
          |  Uniqueness "o_orderkey" = 1.0,
          |  ZerosCount "o_totalprice" = 0,
          |  DistinctValuesCount "o_orderpriority" = 5,
          |  RowCount between min(last(1)) * 0.9 and max(last(1)) * 1.1,
          |  Mean "o_totalprice" <= avg(last(1)) * 1.5,
          |  ColumnNamesMatchPattern "o_",
          |  ColumnNamesMatchPattern "^nope$"
          |],
          |Analyzers = [ Mean "o_totalprice", Completeness "o_orderkey" ]""".stripMargin,
        repository = Some(repo))
      val flags = outcome.collect().map(r => if (r.getString(1) == "Passed") 1.0 else 0.0)
      metricRow(s, Seq("rowcount", "iscomplete", "in_set", "between", "mean",
        "uniqueness", "zeros", "distinct_count",
        "dynamic_rowcount", "dynamic_mean",
        "colnames_contains", "colnames_nomatch").zip(flags))
    }),

    // brute-force ANN: exact, fully value-checked — DuckDB reproduces the
    // same cosine ranking from the raw embeddings (rank gaps in the data
    // are >=0.007, far above cross-engine float noise)
    "q25_ann" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      annTop4(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5))
    }),

    "q28_histogram_binned" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val dist = HistogramBinned("l_quantity",
        customEdges = Some(Seq(0.0, 10.0, 20.0, 30.0, 40.0, 50.0)))
        .calculate(li).value.get
      // order bins by lower edge parsed from the label; emit ordinals
      val rows = dist.values.toSeq
        .sortBy { case (label, _) => label.drop(1).takeWhile(_ != ',').toDouble }
        .zipWithIndex
        .map { case ((_, dv), i) => Row((i + 1).toDouble, dv.absolute.toDouble, r6(dv.ratio)) }
      val schema = StructType(Seq(
        StructField("bin", DoubleType, nullable = false),
        StructField("absolute", DoubleType, nullable = false),
        StructField("ratio", DoubleType, nullable = false)))
      s.createDataFrame(new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    }),

    "q29_rowlevel" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val check = Check(CheckLevel.Error, "rowlevel")
        .satisfies("l_quantity <= 30", "qty le 30", _ >= 0.0)
        .isComplete("l_orderkey")
        .hasUniqueness(Seq("l_orderkey", "l_linenumber"), _ >= 0.0)
      val result = VerificationSuite().onData(li).addCheck(check).run()
      val rl = VerificationResult.rowLevelResultsAsDataFrame(s, result, li)
      val agg = rl.agg(
        org.apache.spark.sql.functions.sum(col("rowlevel").cast(LongType)).cast(DoubleType),
        org.apache.spark.sql.functions.count(lit(1)).cast(DoubleType)).collect().head
      metricRow(s, Seq(
        "rows_passing" -> agg.getDouble(0),
        "rows_total" -> agg.getDouble(1)))
    }),

    "q30_schema_validation" -> ((s, dir) => {
      import graft.schema._
      val docs = table(s, dir, "documents")
        .select(col("doc_id").cast(StringType).as("doc_id"),
          col("lang").cast(StringType).as("lang"),
          col("n_chars").cast(StringType).as("n_chars"))
      val schema = RowLevelSchema()
        .withIntColumn("doc_id", isNullable = false, minValue = Some(0))
        .withStringColumn("lang", isNullable = false, maxLength = Some(2))
        .withIntColumn("n_chars", isNullable = false, minValue = Some(1))
      val result = RowLevelSchemaValidator.validate(docs, schema)
      metricRow(s, Seq(
        "valid_rows" -> result.numValidRows.toDouble,
        "invalid_rows" -> result.numInvalidRows.toDouble))
    }),

    // exact n-gram Jaccard, value-checked: string 3-gram sets (not hashes)
    // so DuckDB can mirror the set algebra verbatim
    "q33_ngram_jaccard" -> ((s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          org.apache.spark.sql.functions.array_distinct(
            Dedup.shingles(col("text"), 3)).as("graft_sh"))
      val a = docs.select(col("doc_id").as("id_a"), col("graft_sh").as("sh_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("graft_sh").as("sh_b"))
      import org.apache.spark.sql.functions.{array_intersect, array_union, greatest, round, size => asize}
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"),
          round(asize(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
            greatest(asize(array_union(col("sh_a"), col("sh_b"))), lit(1)).cast(DoubleType), 6)
            .as("jaccard"))
        .orderBy(col("id_a"))
    }),

    "q31_quality_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val agg = docs.agg(
        org.apache.spark.sql.functions.sum(TextAnalysis.qualityScore(col("text"))),
        org.apache.spark.sql.functions.sum(
          (TextAnalysis.qualityScore(col("text")) >= 0.5).cast(DoubleType)))
        .collect().head
      metricRow(s, Seq(
        "sum_quality" -> r6(agg.getDouble(0)),
        "docs_above_half" -> agg.getDouble(1)))
    }),

    // embedding near-dup, value-checked: exact cosine-pair count on a
    // bounded id-subset (= the whole table at sf0.01) + a recall flag for the
    // multi-table LSH path. Threshold 0.42 sits inside the data's cosine
    // range (max pair ~0.51; nothing near 0.95, which made the old query
    // vacuous). planes/numTables are now DERIVED from the corpus count via
    // Similarity.lshParamsFor (capacity under the bucket cap + enough
    // OR-amplification tables for >= 0.98 candidate probability at the
    // threshold) — the r2 fixed planes=4 silently lost recall above ~16k
    // rows/table.
    "q32_embedding_neardup" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val subN = 500L
      val thr = 0.42
      // targetRecall 0.995, not 0.98: the audit bar is 0.9 REALIZED
      // recall, and at sf0.001 only ~27 true pairs exist — at 0.98 the
      // expected miss count is 0.5 but the DETERMINISTIC hash-derived
      // plane family happened to miss 3 (realized 0.889, flag red; the
      // driver's sf0.01 gate masked it since r11). At 0.995 the expected
      // miss is 0.14 and the realized recall clears the bar at all three
      // SFs (measured) — parameters are the caller's recall lever, the
      // same per-corpus sizing convention q82 documents for IVF-PQ.
      val (planes, tables) = Similarity.lshParamsFor(
        emb.count(), thr, targetRecall = 0.995)
      val engine = Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding",
          threshold = thr, planes = planes, numTables = tables)
        .filter(col("id_a") < subN && col("id_b") < subN)
        .select("id_a", "id_b").distinct().withColumn("graft_lsh", lit(1L))
      val sub = emb.filter(col("vec_id") < subN)
      // both audit counts in ONE action (LSH pipeline and brute-force audit
      // run as concurrent stages of a single job); the exact census runs
      // on the INTEGER GRID (0.42^2 = 441/2500 exactly — the q102/q103
      // convention), so the hashed pair count has no float threshold any
      // oracle-engine version can flip
      val r = Similarity.cosinePairsBruteGrid(sub, "vec_id", "embedding",
          tau2Num = 441L, tau2Den = 2500L)
        .select("id_a", "id_b")
        .join(engine, Seq("id_a", "id_b"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("graft_lsh").isNotNull, 1L).otherwise(0L)).as("n_found"))
        .collect().head
      val nExact = r.getLong(0)
      val nFound = if (r.isNullAt(1)) 0L else r.getLong(1)
      metricRow(s, Seq(
        "exact_cos_pairs" -> nExact.toDouble,
        "lsh_recall_ok" -> flag(nExact == 0 || nFound.toDouble / nExact >= 0.9)))
    }),

    // KLL sketch + keyed approx quantiles, value-checked: min/max/count of
    // the sketch are EXACT (tracked alongside the compactors) and the exact
    // quantiles are DuckDB-reproducible; bucket-count and quantile accuracy
    // are asserted as tolerance flags
    "q34_kll" -> ((s, dir) => {
      import graft.sketch.{KLLMetric, KLLParameters, KLLSketchAnalyzer}
      val li = table(s, dir, "lineitem")
      val kll = KLLSketchAnalyzer("l_quantity", KLLParameters(numberOfBuckets = 10))
      val aq = ApproxQuantiles("l_quantity", Seq(0.25, 0.5, 0.75), relativeError = 0.001)
      val e25 = ExactQuantile("l_quantity", 0.25)
      val e50 = ExactQuantile("l_quantity", 0.5)
      val e75 = ExactQuantile("l_quantity", 0.75)
      val ctx = AnalysisRunner.run(li, Seq(kll, aq, e25, e50, e75))
      val dist = ctx.metric(kll).get.asInstanceOf[KLLMetric].value.get
      val sketch = dist.sketch
      val approx = ctx.metric(aq).get.value.get.asInstanceOf[Map[String, Double]]
      val exact = Seq(e25, e50, e75).map(a =>
        a.quantile -> ctx.metric(a).get.value.get.asInstanceOf[Double]).toMap
      // exact per-bucket counts with the sketch's own (exact) min/max edges
      val width = (sketch.max - sketch.min) / 10.0
      val bucketExprs = (0 until 10).map { b =>
        val lo = sketch.min + b * width
        val hi = if (b == 9) sketch.max else sketch.min + (b + 1) * width
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(
            col("l_quantity") >= lo && col("l_quantity") <= hi, 1L)
            .otherwise(0L)).as(s"graft_b$b")
      }
      val exactBuckets = li.select(bucketExprs: _*).collect().head
      val absErr = (0 until 10).map(b =>
        math.abs(dist.buckets(b).count - exactBuckets.getLong(b))).sum
      def qOk(q: Double): Double =
        flag(math.abs(approx(q.toString) - exact(q)) <= math.max(1.0, 0.02 * math.abs(exact(q))))
      metricRow(s, Seq(
        "kll_min" -> sketch.min,
        "kll_max" -> sketch.max,
        "kll_n" -> sketch.count.toDouble,
        "kll_buckets_ok" -> flag(absErr.toDouble / sketch.count <= 0.1),
        "exact_p25" -> r6(exact(0.25)),
        "exact_p50" -> r6(exact(0.5)),
        "exact_p75" -> r6(exact(0.75)),
        "approx_p25_ok" -> qOk(0.25),
        "approx_p50_ok" -> qOk(0.5),
        "approx_p75_ok" -> qOk(0.75)))
    }),

    // metadata + user-extension analyzers: all exactly value-checked
    "q35_custom" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val orders = table(s, dir, "orders")
      orders.createOrReplaceTempView("graft_orders_v")
      val colCount = ColumnCount().calculate(li).value.get
      val colExists = ColumnExists("l_quantity").calculate(li).value.get
      val customSql = CustomSql("SELECT avg(o_totalprice) FROM graft_orders_v")
        .calculate(orders).value.get
      val shares = CustomAggregator(df => {
        val counts = df.groupBy("o_orderstatus").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        AggregatedMetricState(counts, counts.values.sum)
      }, "OrderStatusShare").calculate(orders).value.get
      metricRow(s, Seq(
        "column_count_lineitem" -> colCount,
        "column_exists_qty" -> colExists,
        "custom_sql_avg_price" -> r6(customSql),
        "share_f" -> r6(shares("F")),
        "share_o" -> r6(shares("O"))))
    }),

    // schema match + row-level dataset match (hash trick), value-checked:
    // ds2 perturbs o_custkey on odd order keys, so the per-row match
    // outcome is exactly "o_orderkey is even" — DuckDB-reproducible
    "q36_match_rowlevel" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val orders = table(s, dir, "orders")
      val ds1 = orders.select(col("o_orderkey"), col("o_custkey"))
      val ds2 = orders.select(col("o_orderkey"),
        (col("o_custkey") + col("o_orderkey") % 2).as("o_custkey"))
      val rl = DatasetMatch.matchRowLevel(ds1, ds2,
        Map("o_orderkey" -> "o_orderkey"), Map("o_custkey" -> "o_custkey"))
      val agg = rl.agg(
        org.apache.spark.sql.functions.sum(col("graft_match_outcome").cast(LongType))
          .cast(DoubleType),
        org.apache.spark.sql.functions.count(lit(1)).cast(DoubleType)).collect().head
      metricRow(s, Seq(
        "schema_match_self" -> flag(SchemaMatch.matches(li, table(s, dir, "lineitem"))),
        "schema_cross_differs" -> flag(!SchemaMatch.matches(li, orders)),
        "rows_matched" -> agg.getDouble(0),
        "rows_total" -> agg.getDouble(1)))
    }),

    // event-time tumbling-window aggregation over the events table —
    // StreamingOps.windowedAgg is the SAME logical plan for batch and
    // streaming inputs, so the batch oracle validates the streaming path
    "q37_windowed_events" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{count => fcount, date_format, round, sum => fsum}
      val events = eventsTable(s, dir)
      graft.streaming.StreamingOps.windowedAgg(
          events, "ts", "1 hour",
          Seq(fcount(lit(1)).as("n_events"),
            round(fsum(col("value")), 6).as("sum_value")))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("n_events"), col("sum_value"))
        .orderBy("win_start")
    }),

    // int8 embedding quantization: exact count + mean norm reproduced by
    // DuckDB; roundtrip fidelity (cosine vs the original ~1) and code-range
    // sanity asserted as flags
    "q40_embedding_quant" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{abs => fabs, avg, count => fcount, min => fmin, max => fmax, round => fround, sum => fsum}
      val emb = table(s, dir, "embeddings")
      val q = Similarity.quantizeInt8(col("embedding"))
      val staged = emb.select(col("vec_id"), col("embedding"), q.as("graft_q"))
        .withColumn("graft_deq", Similarity.dequantizeInt8(col("graft_q")))
      // hashed norm mass on the integer grid (q102 convention); the
      // float mean norm rides a tolerance flag, never the hash
      val vq40 = Clustering.quantizeVec(col("embedding"))
      val n2q40 = graft.expressions.GraftFunctions.dot_long(vq40, vq40)
      val agg = staged.agg(
        fcount(lit(1)).cast(DoubleType),
        fround(avg(Similarity.norm(col("embedding"))), 6),
        fmin(Similarity.cosine(col("embedding"), col("graft_deq"))),
        fmax(org.apache.spark.sql.functions.array_max(
          org.apache.spark.sql.functions.transform(col("graft_q.codes"),
            c => fabs(c.cast(DoubleType))))),
        coalesce(fsum(n2q40), lit(0L)).cast(DoubleType)).collect().head
      metricRow(s, Seq(
        "n_vectors" -> agg.getDouble(0),
        "norm2_grid_sum" -> agg.getDouble(4),
        "mean_norm_ok" ->
          flag(agg.getDouble(1) >= 0.9 && agg.getDouble(1) <= 1.1),
        "quant_cos_ok" -> flag(agg.getDouble(2) >= 0.999),
        "codes_in_range_ok" -> flag(agg.getDouble(3) <= 127.0)))
    }),

    // PII detection + redaction: the synthetic corpus contains no PII, so
    // BOTH engines inject identical deterministic artifacts into every
    // 10th document first — a zero-match oracle would assert nothing
    "q39_pii_scrub" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{concat, count => fcount, sum => fsum, when => fwhen}
      val docs = table(s, dir, "documents")
        .withColumn("graft_text", concat(col("text"),
          fwhen(col("doc_id") % 10 === 0,
            lit(" contact user@example.com or http://example.org/a and host 10.0.0.1"))
            .otherwise(lit(""))))
      val t = col("graft_text")
      val agg = docs.agg(
        fsum(TextAnalysis.emailCount(t)).cast(DoubleType),
        fsum(TextAnalysis.urlCount(t)).cast(DoubleType),
        fsum(TextAnalysis.ipCount(t)).cast(DoubleType),
        fsum(TextAnalysis.containsPii(t).cast("long")).cast(DoubleType),
        fsum((TextAnalysis.redactPii(t) =!= t).cast("long")).cast(DoubleType),
        fsum(TextAnalysis.containsPii(TextAnalysis.redactPii(t)).cast("long")).cast(DoubleType))
        .collect().head
      metricRow(s, Seq(
        "n_emails" -> agg.getDouble(0),
        "n_urls" -> agg.getDouble(1),
        "n_ips" -> agg.getDouble(2),
        "docs_with_pii" -> agg.getDouble(3),
        "docs_redacted" -> agg.getDouble(4),
        "pii_after_redaction" -> agg.getDouble(5)))
    }),

    // gap-based session windows per user; DuckDB mirrors the semantics
    // with lag + cumulative-sum sessionization
    "q38_sessionized_events" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{count => fcount, max => fmax, sum => fsum}
      val events = eventsTable(s, dir)
      val sessions = graft.streaming.StreamingOps.sessionized(
        events, "ts", "10 minutes", Seq("user_id"),
        Seq(fcount(lit(1)).as("graft_n")))
      val agg = sessions.agg(
        fcount(lit(1)).cast(DoubleType),
        fmax(col("graft_n")).cast(DoubleType),
        fsum(col("graft_n")).cast(DoubleType)).collect().head
      metricRow(s, Seq(
        "n_sessions" -> agg.getDouble(0),
        "max_session_events" -> agg.getDouble(1),
        "total_events" -> agg.getDouble(2)))
    }),

    // IVF scale path, value-checked: exact query count + recall/completeness
    // flags vs the (itself DuckDB-verified, q25) brute-force ranking
    "q27_ann_ivf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val nQueries = queries.count()
      // this data is weakly clustered (top neighbors at cos ~0.3-0.4), so
      // recall needs a generous probe budget: measured 0.7 at nlist=16/
      // nprobe=4, 1.0 at nlist=8/nprobe=6
      val ivf = annTop4(Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 6))
        .select("query_id", "neighbor_id").persist()
      val bf = annTop4(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5))
        .select("query_id", "neighbor_id").persist()
      val nBf = bf.count()
      val matched = bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
      val nIvf = ivf.count()
      ivf.unpersist(blocking = false)
      bf.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_queries" -> nQueries.toDouble,
        "ivf_complete_ok" -> flag(nIvf == nBf),
        "ivf_recall_ok" -> flag(nBf == 0 || matched.toDouble / nBf >= 0.8)))
    }),

    // Profiler -> suggestions path, value-checked end to end: exact profile
    // statistics (completeness, min/max/mean/stddev, histogram bins + top
    // ratio, string length bounds, inferred-numeric cast of a string
    // column) plus 0/1 flags for "the suggested constraint set contains X",
    // each flag mirrored in DuckDB by the suggestion rule's own trigger
    // condition evaluated on exact data. The HLL-backed approx-distinct is
    // audited against an exact countDistinct (q09 pattern).
    "q41_profile_suggest" -> ((s, dir) => {
      import graft.profiles.{NumericColumnProfile, StringColumnProfile}
      val orders = table(s, dir, "orders")
        .withColumn("okey_str", col("o_orderkey").cast(StringType))
      val restrict = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority", "okey_str")
      val result = graft.suggestions.ConstraintSuggestionRunner.run(
        orders, rules = graft.suggestions.Rules.EXTENDED,
        restrictToColumns = Some(restrict))
      val profiles = result.columnProfiles
      val pTotal = profiles.profiles("o_totalprice").asInstanceOf[NumericColumnProfile]
      val pStatus = profiles.profiles("o_orderstatus")
      val pPrio = profiles.profiles("o_orderpriority").asInstanceOf[StringColumnProfile]
      val pOkeyStr = profiles.profiles("okey_str")
      val pOkey = profiles.profiles("o_orderkey")

      val exactDistinctOrderkey = orders
        .agg(countDistinct(col("o_orderkey"))).collect().head.getLong(0)

      def has(colName: String, constraintName: String): Boolean =
        result.suggestions.getOrElse(colName, Seq.empty)
          .exists(_.constraintName == constraintName)

      val statusHist = pStatus.histogram.get
      val statusTopRatio = statusHist.values.values.map(_.ratio).max
      metricRow(s, Seq(
        "num_records" -> profiles.numRecords.toDouble,
        "custkey_completeness" -> profiles.profiles("o_custkey").completeness,
        "totalprice_min" -> pTotal.minimum.get,
        "totalprice_max" -> pTotal.maximum.get,
        "totalprice_mean_r3" -> r3(pTotal.mean.get),
        "totalprice_stddev_r3" -> r3(pTotal.stdDev.get),
        "status_hist_bins" -> statusHist.numberOfBins.toDouble,
        "status_top_ratio_r6" -> r6(statusTopRatio),
        "prio_min_len" -> pPrio.minLength.get,
        "prio_max_len" -> pPrio.maxLength.get,
        "okeystr_inferred_integral" -> flag(pOkeyStr.isDataTypeInferred &&
          pOkeyStr.dataType == DataTypeInstances.Integral),
        "okeystr_num_min" ->
          pOkeyStr.asInstanceOf[NumericColumnProfile].minimum.get,
        "orderkey_exact_distinct" -> exactDistinctOrderkey.toDouble,
        "orderkey_approx_ok" -> flag(
          math.abs(pOkey.approximateNumDistinctValues.toDouble - exactDistinctOrderkey) /
            exactDistinctOrderkey < 0.05),
        "sugg_orderkey_unique" -> flag(has("o_orderkey", "UniquenessConstraint")),
        "sugg_custkey_unique" -> flag(has("o_custkey", "UniquenessConstraint")),
        "sugg_custkey_complete" -> flag(has("o_custkey", "CompletenessConstraint")),
        "sugg_status_range" -> flag(has("o_orderstatus", "CategoricalRangeConstraint")),
        "sugg_totalprice_nonneg" -> flag(has("o_totalprice", "NonNegativeConstraint")),
        "sugg_totalprice_min" -> flag(has("o_totalprice", "MinimumConstraint")),
        "sugg_prio_maxlen" -> flag(has("o_orderpriority", "MaxLengthConstraint"))))
    }),

    // Anomaly detection, value-checked: a deterministic monthly-order-count
    // series (one injected 3x spike at 2000-10, plus the naturally-truncated
    // final month) run through OnlineNormal / RelativeRateOfChange /
    // AbsoluteChange / BatchNormal — each of which DuckDB replicates
    // closed-form with window functions (running prefix mean/var_pop
    // mirrors Welford with ignoreAnomalies=false; lag mirrors the change
    // strategies; training-region aggregates mirror BatchNormal) — plus
    // HoltWinters contains-flags (BOBYQA fit is not SQL-expressible) and
    // the repository -> addAnomalyCheck path on the newest month's Size.
    "q42_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{count => fcount, date_format, date_trunc, when => fwhen}
      import graft.anomaly._
      val orders = table(s, dir, "orders")
      val monthly = orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("graft_m"))
        .agg(fcount(lit(1)).as("graft_c"))
        .withColumn("graft_label", date_format(col("graft_m"), "yyyy-MM"))
        .withColumn("graft_v", col("graft_c").cast(DoubleType) *
          fwhen(col("graft_label") === "2000-10", 3.0).otherwise(1.0))
        .orderBy("graft_m")
        .select(col("graft_m"), col("graft_label"), col("graft_v"))
        .collect()
      val series = monthly.map(_.getDouble(2)).toVector
      val n = series.length
      // index of the injected spike, located by calendar label so the
      // query is scale-factor-independent
      val spikeIdx = monthly.indexWhere(_.getString(1) == "2000-10")

      val onl = OnlineNormalStrategy(ignoreAnomalies = false).detect(series).map(_._1)
      val rr = RelativeRateOfChangeStrategy(Some(0.5), Some(2.0)).detect(series).map(_._1)
      val ab = AbsoluteChangeStrategy(Some(-60.0), Some(60.0)).detect(series).map(_._1)
      val bn = BatchNormalStrategy().detect(series, (n - 10, n)).map(_._1)
      val hw = HoltWinters(HoltWinters.SeriesSeasonality.Custom(12))
        .detect(series, (n - 12, n)).map(_._1).toSet

      // newest month's Size judged against the repository history of all
      // earlier months (the integration path VerificationSuite drives)
      val repo = new graft.repository.InMemoryMetricsRepository()
      series.init.zipWithIndex.foreach { case (v, i) =>
        repo.save(graft.repository.ResultKey(i.toLong, Map("series" -> "monthly_orders")),
          graft.runners.AnalyzerContext(Map[AnyAnalyzer, Metric[_]](
            Size() -> DoubleMetric(Entity.Dataset, "Size", "*", scala.util.Success(v)))))
      }
      val lastMonth = monthly.last.getTimestamp(0)
      val lastSlice = orders.filter(
        date_trunc("month", col("o_orderdate")) === lit(lastMonth))
      val checkRes = VerificationSuite().onData(lastSlice)
        .useRepository(repo)
        .addAnomalyCheck(OnlineNormalStrategy(ignoreAnomalies = false), Size(),
          "newest monthly size non-anomalous")
        .run()

      metricRow(s, Seq(
        "n_months" -> n.toDouble,
        "onl_n" -> onl.size.toDouble,
        "onl_sum_idx" -> onl.sum.toDouble,
        "rr_n" -> rr.size.toDouble,
        "rr_sum_idx" -> rr.sum.toDouble,
        "abs_n" -> ab.size.toDouble,
        "abs_sum_idx" -> ab.sum.toDouble,
        "bn_n" -> bn.size.toDouble,
        "bn_sum_idx" -> bn.sum.toDouble,
        "hw_spike_ok" -> flag(spikeIdx >= 0 && hw.contains(spikeIdx)),
        "hw_last_ok" -> flag(hw.contains(n - 1)),
        "anomaly_check_flagged" -> flag(checkRes.status != CheckStatus.Success)))
    }),

    // Repository + state-provider round trip, value-checked: analyzer
    // STATES (moments, frequency parquet, KLL binary) persist through
    // HdfsStateProvider, reload in a FRESH provider instance, and
    // re-render via runOnAggregatedStates with NO data scan — those
    // reloaded values are the columns DuckDB recomputes from the parquet
    // directly, so a serde bug in ANY stage flips a hashed value. Metric
    // RESULTS round-trip through FileSystem and SparkTable repositories
    // (JSON serde equality vs the direct run) and the loader query
    // surface (time window + tag filters) is exercised on real saves
    // (reference capability: analyzers/StateProviderTest.scala,
    // repository/AnalysisResultSerdeTest.scala:703).
    "q43_repo_roundtrip" -> ((s, dir) => {
      import graft.repository._
      import graft.sketch.{KLLMetric, KLLSketchAnalyzer}
      val orders = table(s, dir, "orders")
      val kll = KLLSketchAnalyzer("o_totalprice")
      val analyzers: Seq[AnyAnalyzer] = Seq(
        Size(), Completeness("o_custkey"), Mean("o_totalprice"),
        StandardDeviation("o_totalprice"),
        Minimum("o_totalprice"), Maximum("o_totalprice"),
        Uniqueness(Seq("o_orderstatus")), Entropy("o_orderstatus"), kll)

      withTempDir("graft_q43") { tmp =>
      val direct = AnalysisRunner.run(orders, analyzers,
        saveStatesWith = Some(new graft.core.HdfsStateProvider(s, s"$tmp/state")))
      // fresh provider instance: metrics re-rendered from loaded states
      // only. The SAME pass also copies every loaded state into the
      // in-memory provider (saveStatesWith) — the TrieMap round-trip below
      // costs zero extra reads of the persisted states.
      val memState = new graft.core.InMemoryStateProvider
      val reloaded = AnalysisRunner.runOnAggregatedStates(analyzers,
        Seq(new graft.core.HdfsStateProvider(s, s"$tmp/state")),
        saveStatesWith = Some(memState))

      def dv(ctx: graft.runners.AnalyzerContext, a: AnyAnalyzer): Double =
        ctx.metric(a).get.asInstanceOf[DoubleMetric].value.get
      val kllSketch = reloaded.metric(kll).get
        .asInstanceOf[KLLMetric].value.get.sketch

      // repositories: loadByKey must reproduce the direct run's metrics
      // exactly — compared metric-by-metric on case-class equality (KLL
      // compared on serialized sketch bytes: BucketDistribution holds a
      // reference-equality sketch object)
      val key = ResultKey(20260812L, Map("pipeline" -> "q43", "env" -> "test"))
      // fullColumn (the row-level Column, deliberately not serialized) is
      // dropped before comparing — the persisted value surface is
      // (entity, name, instance, value)
      def norm(m: Metric[_]): Metric[_] = m match {
        case d: DoubleMetric => d.copy(fullColumn = None)
        case other => other
      }
      // value compare is relative-epsilon, not bitwise: paths that
      // RE-RENDER a metric from state (runOnAggregatedStates) re-run a
      // float sum whose partition order is not the direct run's — entropy
      // over a reloaded frequency state can differ in the last ulps. A
      // genuine serde bug shows up orders of magnitude above 1e-9.
      def sameMetric(l: Option[Metric[_]], d: Option[Metric[_]]): Boolean =
        (l.map(norm), d.map(norm)) match {
          case (Some(lm: DoubleMetric), Some(dm: DoubleMetric)) =>
            lm.copy(value = scala.util.Success(0.0)) ==
              dm.copy(value = scala.util.Success(0.0)) &&
              ((lm.value, dm.value) match {
                case (scala.util.Success(x), scala.util.Success(y)) =>
                  x == y || math.abs(x - y) <=
                    1e-9 * math.max(math.abs(x), math.abs(y))
                case (lf, df) => lf.isFailure && df.isFailure
              })
          case (x, y) => x == y
        }
      def sameAsDirect(loaded: Option[graft.runners.AnalyzerContext]): Boolean =
        loaded.exists { l =>
          analyzers.filterNot(_ eq kll)
            .forall(a => sameMetric(l.metric(a), direct.metric(a))) &&
            ((l.metric(kll), direct.metric(kll)) match {
              case (Some(lm: KLLMetric), Some(dm: KLLMetric)) =>
                java.util.Arrays.equals(lm.value.get.sketch.serialize(),
                  dm.value.get.sketch.serialize())
              case _ => false
            })
        }
      val fsRepo = new FileSystemMetricsRepository(s, s"$tmp/metrics.json")
      fsRepo.save(key, direct)
      val fsMatch = sameAsDirect(fsRepo.loadByKey(key))

      // in-memory repository: the same loadByKey equality contract as the
      // two persistent repositories (reference capability:
      // repository/memory/InMemoryMetricsRepository.scala:28)
      val memRepo = new InMemoryMetricsRepository
      memRepo.save(key, direct)
      val memRepoMatch = sameAsDirect(memRepo.loadByKey(key))

      // in-memory state provider round-trip: metrics re-rendered from the
      // TrieMap-held states alone (populated scan-free by the reload pass
      // above) must match the direct run
      val memStateMatch =
        sameAsDirect(Some(AnalysisRunner.runOnAggregatedStates(analyzers, Seq(memState))))

      val tableName = "graft_q43_metrics"
      s.sql(s"DROP TABLE IF EXISTS $tableName")
      val stRepo = new SparkTableMetricsRepository(s, tableName)
      stRepo.save(key, direct)
      val stMatch = sameAsDirect(stRepo.loadByKey(key))
      s.sql(s"DROP TABLE IF EXISTS $tableName")

      // loader query surface over dated, tagged history
      val sizeOnly = graft.runners.AnalyzerContext(
        Map[AnyAnalyzer, Metric[_]](Size() -> direct.metric(Size()).get))
      Seq(100L -> "dev", 200L -> "dev", 300L -> "prod").foreach { case (d, env) =>
        fsRepo.save(ResultKey(d, Map("env" -> env)), sizeOnly)
      }
      val windowCount = fsRepo.load().after(150L).before(350L).get().size
      val tagCount = fsRepo.load().withTagValues(Map("env" -> "dev")).get().size

      // N-provider state merge: split orders into disjoint halves, persist
      // each half's states in its OWN provider, render from the states
      // merged across BOTH (runOnAggregatedStates, no data scan) — the
      // `<=>` outer-join frequency merge and every algebraic state merge
      // must reproduce the full-data values DuckDB computes directly
      // (reference capability: analyzers/StateAggregationIntegrationTest.scala)
      val mergeAnalyzers: Seq[AnyAnalyzer] = Seq(
        Size(), Mean("o_totalprice"), Uniqueness(Seq("o_orderstatus")),
        Entropy("o_orderstatus"), kll)
      AnalysisRunner.run(orders.filter(col("o_orderkey") % 2 === 0),
        mergeAnalyzers,
        saveStatesWith = Some(new graft.core.HdfsStateProvider(s, s"$tmp/half0")))
      AnalysisRunner.run(orders.filter(col("o_orderkey") % 2 === 1),
        mergeAnalyzers,
        saveStatesWith = Some(new graft.core.HdfsStateProvider(s, s"$tmp/half1")))
      val merged = AnalysisRunner.runOnAggregatedStates(mergeAnalyzers,
        Seq(new graft.core.HdfsStateProvider(s, s"$tmp/half0"),
          new graft.core.HdfsStateProvider(s, s"$tmp/half1")))
      val mergedSketch = merged.metric(kll).get
        .asInstanceOf[KLLMetric].value.get.sketch

      metricRow(s, Seq(
        "size_reloaded" -> dv(reloaded, Size()),
        "completeness_custkey_reloaded" -> dv(reloaded, Completeness("o_custkey")),
        "mean_totalprice_reloaded_r3" -> r3(dv(reloaded, Mean("o_totalprice"))),
        "stddev_totalprice_reloaded_r3" ->
          r3(dv(reloaded, StandardDeviation("o_totalprice"))),
        "min_totalprice_reloaded" -> dv(reloaded, Minimum("o_totalprice")),
        "max_totalprice_reloaded" -> dv(reloaded, Maximum("o_totalprice")),
        "uniq_status_reloaded_r6" -> r6(dv(reloaded, Uniqueness(Seq("o_orderstatus")))),
        "entropy_status_reloaded_r6" -> r6(dv(reloaded, Entropy("o_orderstatus"))),
        "kll_n_reloaded" -> kllSketch.count.toDouble,
        "kll_min_reloaded" -> kllSketch.min,
        "kll_max_reloaded" -> kllSketch.max,
        "fs_repo_match" -> flag(fsMatch),
        "spark_repo_match" -> flag(stMatch),
        "mem_repo_match" -> flag(memRepoMatch),
        "mem_state_match" -> flag(memStateMatch),
        "loader_window_count" -> windowCount.toDouble,
        "loader_tag_count" -> tagCount.toDouble,
        "merged_size" -> dv(merged, Size()),
        "merged_mean_r3" -> r3(dv(merged, Mean("o_totalprice"))),
        "merged_uniq_status_r6" -> r6(dv(merged, Uniqueness(Seq("o_orderstatus")))),
        "merged_entropy_status_r6" -> r6(dv(merged, Entropy("o_orderstatus"))),
        "merged_kll_n" -> mergedSketch.count.toDouble,
        "merged_kll_min" -> mergedSketch.min,
        "merged_kll_max" -> mergedSketch.max))
      }
    }),

    // Distribution-distance measures, value-checked: categorical L-inf,
    // chi-square (plain 5-category + Yates 2-category), and PSI computed
    // from EXACT histograms are DuckDB-reproducible; the KS statistic is
    // engine-computed from two KLL sketches and asserted against the exact
    // KS (distributed prefix-sum CDF; SQL-mirrored via a running-CDF window)
    "q44_distance" -> ((s, dir) => {
      import graft.sketch.{Distance, KLLMetric, KLLSketchAnalyzer}
      val orders = table(s, dir, "orders")
      val fSide = orders.filter(col("o_orderstatus") === "F")
      val oSide = orders.filter(col("o_orderstatus") === "O")

      // ONE runner call per side computes both histograms AND the KLL
      // sketch — separate calls would rescan the side per analyzer family
      val hPrio = Histogram("o_orderpriority")
      val hBand = Histogram("o_totalprice",
        binningFunc = Some(c => when(c > 150000.0, "high").otherwise("low")))
      val kllA = KLLSketchAnalyzer("o_totalprice")
      def sideOf(df: DataFrame): (Distribution, Distribution, graft.sketch.KLLSketch) = {
        val ctx = AnalysisRunner.run(df, Seq(hPrio, hBand, kllA))
        def h(a: Histogram) =
          ctx.metric(a).get.asInstanceOf[HistogramMetric].value.get
        (h(hPrio), h(hBand),
          ctx.metric(kllA).get.asInstanceOf[KLLMetric].value.get.sketch)
      }
      val (d1, b1, sk1) = sideOf(fSide)
      val (d2, b2, sk2) = sideOf(oSide)
      val ksSketch = Distance.numericalDistance(sk1, sk2)

      // exact two-sample KS over the value frequency table — the oracle
      // mirrors it with a running-CDF window, but the Spark side uses the
      // range-partitioned prefix-sum route (no global single-task window):
      // at 100× the distinct-value count the window form funnels ~15M rows
      // through one task where this stays partition-bounded
      val ksExact = Distance.exactNumericalDistance(orders, "o_totalprice",
        col("o_orderstatus") === "F", col("o_orderstatus") === "O")

      metricRow(s, Seq(
        "cat_linf_r6" -> r6(Distance.categoricalDistance(d1, d2)),
        "chi2_r6" -> r6(Distance.chiSquare(d1, d2)),
        "chi2_yates_r6" -> r6(Distance.chiSquare(b1, b2)),
        "psi_r6" -> r6(Distance.populationStabilityIndex(d1, d2)),
        "ks_exact_r6" -> r6(ksExact),
        "ks_sketch_ok" -> flag(math.abs(ksSketch - ksExact) <= 0.05)))
    }),

    // LSH top-k ANN (multi-probe + brute fallback), value-checked: the
    // brute-force top-10 ground truth (count + id-sum) is exactly
    // DuckDB-reproducible; the LSH result is asserted as completeness
    // (exactly k rows per query, the fallback contract) and recall flags
    "q45_ann_lsh" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{coalesce => fcoalesce, min => fmin, max => fmax}
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8L)
      val k = 10
      // parameter sizing for THIS corpus: the synthetic embeddings'
      // true top-10 neighbors sit at cosine 0.30-0.45 (p = 1 - theta/pi
      // ~ 0.61), so per-table multi-probe recall at 6 planes is ~0.26 and
      // 12 OR'd tables lift it past 0.95; a higher-similarity production
      // corpus would use more planes for smaller candidate sets
      val lsh = Similarity.lshTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k, planes = 6, numTables = 12)
        .select("query_id", "neighbor_id").persist()
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k)
        .select("query_id", "neighbor_id").persist()
      val perQuery = lsh.groupBy("query_id").agg(count(lit(1)).as("graft_n"))
        .agg(fmin(col("graft_n")), fmax(col("graft_n")), count(lit(1))).collect().head
      val rowsOk = perQuery.getLong(0) == k && perQuery.getLong(1) == k &&
        perQuery.getLong(2) == 8L
      // one action: recall join + ground-truth id-sum share the same pass
      val rec = bf
        .join(lsh.withColumn("graft_hit", lit(1L)), Seq("query_id", "neighbor_id"),
          "left_outer")
        .agg(count(lit(1)), sum(fcoalesce(col("graft_hit"), lit(0L))),
          sum(col("neighbor_id")))
        .collect().head
      val recall = rec.getLong(1).toDouble / rec.getLong(0)
      val bfIdSum = rec.getLong(2)
      lsh.unpersist(blocking = false)
      bf.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_bf_rows" -> rec.getLong(0).toDouble,
        "bf_id_sum" -> bfIdSum.toDouble,
        "lsh_rows_ok" -> flag(rowsOk),
        // measured 0.99 at both sf0.01 and sf0.1 with the sized params
        "lsh_recall_ok" -> flag(recall >= 0.9)))
    }),

    // Applicability dry-run, value-checked: a mixed Check (string, numeric,
    // compliance, grouping constraints) is dry-run against deterministic
    // generated data for a fixed typed schema. WHICH constraints are
    // runnable — and which are not (numeric analyzer on a string column,
    // missing column) — is a property of the schema alone, independent of
    // the generated values, so the counts are literal-mirrorable
    // (reference capability: analyzers/applicability/Applicability.scala:170-280)
    "q46_applicability" -> ((s, dir) => {
      import org.apache.spark.sql.types.{BinaryType, BooleanType, IntegerType, TimestampType}
      val schema = org.apache.spark.sql.types.StructType(Seq(
        StructField("item", StringType, nullable = false),
        StructField("att1", DoubleType, nullable = false),
        StructField("att2", IntegerType, nullable = true),
        StructField("flag", BooleanType, nullable = false),
        StructField("ts", TimestampType, nullable = false),
        // no generator for binary: becomes an all-null nullable column
        StructField("payload", BinaryType, nullable = true)))
      val check = Check(CheckLevel.Error, "applicability probe")
        .isComplete("item")
        .hasPattern("item", "[A-Za-z0-9]*")
        .hasMean("att1", _ >= 0.0)
        .isNonNegative("att2")
        .hasEntropy("flag", _ >= 0.0)
        .isUnique("item")
        .hasMean("item", _.isNaN == false) // numeric on string: NOT applicable
        .isComplete("nope") // missing column: NOT applicable
      val res = new graft.applicability.Applicability(s).isApplicable(check, schema)
      // the pure-analyzer surface, on its own instance (fresh fixed seed)
      val aRes = new graft.applicability.Applicability(s).isApplicable(
        Seq[AnyAnalyzer](Mean("att1"), Minimum("att2"), Maximum("nope")), schema)
      metricRow(s, Seq(
        "n_constraints" -> res.constraintApplicabilities.size.toDouble,
        "n_applicable" -> res.constraintApplicabilities.count(_._2).toDouble,
        "n_failures" -> res.failures.size.toDouble,
        "check_applicable" -> flag(res.isApplicable),
        "n_analyzer_failures" -> aRes.failures.size.toDouble,
        "analyzers_applicable" -> flag(aRes.isApplicable)))
    }),

    // Multimodal decode paths under the oracle regime: a deterministic
    // in-query binary corpus (PNG/BMP/JPEG via ImageIO writers, WAV via
    // javax.sound, AVI containers built byte-for-byte) is featurized by
    // the REAL decoders and every decoded quantity that is exact —
    // lossless-image luma, PCM RMS, DIB frame luma, container metadata,
    // sentinel chunk counts — is literal-mirrorable; lossy JPEG luma is a
    // tolerance flag. Exercises image, audio, and all three AVI frame
    // paths (MJPEG-as-JPEG, PNG-in-AVI, raw DIB) plus both sentinel shapes
    "q47_multimodal" -> ((s, dir) => {
      import graft.pipeline.Multimodal
      val payloadSchema = org.apache.spark.sql.types.StructType(Seq(
        StructField("media_id", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("payload", org.apache.spark.sql.types.BinaryType, nullable = true)))
      def df(rows: Seq[Row]): DataFrame = s.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        payloadSchema)

      // --- images: solid-color rasters through the JDK's own writers ---
      def imageBytes(fmt: String, rgb: Int, w: Int, h: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, fmt, bos)
        bos.toByteArray
      }
      // --- audio: constant-amplitude signed-16-bit PCM -> RMS exactly 0.5 ---
      def wavBytes(rate: Float, nFrames: Int): Array[Byte] = {
        val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
        val pcm = new Array[Byte](nFrames * 2)
        var i = 0
        while (i < nFrames) { pcm(i * 2) = 0x00; pcm(i * 2 + 1) = 0x40; i += 1 } // 16384 LE
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      // --- AVI: RIFF tree built byte-for-byte (same grammar the parser walks) ---
      def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      def le32(v: Long) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val padded = if (body.length % 2 == 1) body :+ 0.toByte else body
        id.getBytes("ISO-8859-1") ++ le32(body.length.toLong) ++ padded
      }
      def list(typ: String, body: Array[Byte]): Array[Byte] =
        chunk("LIST", typ.getBytes("ISO-8859-1") ++ body)
      def aviBytes(codec: String, w: Int, h: Int, usPerFrame: Long, bitCount: Int,
          biCompression: Long, frames: Seq[(String, Array[Byte])]): Array[Byte] = {
        val avih = new Array[Byte](56)
        le32(usPerFrame).copyToArray(avih, 0)
        le32(frames.length.toLong).copyToArray(avih, 16)
        le32(w.toLong).copyToArray(avih, 32)
        le32(h.toLong).copyToArray(avih, 36)
        val strh = "vids".getBytes("ISO-8859-1") ++
          codec.getBytes("ISO-8859-1") ++ new Array[Byte](48)
        val strf = new Array[Byte](40)
        le32(40L).copyToArray(strf, 0)
        le32(w.toLong).copyToArray(strf, 4)
        le32(h.toLong).copyToArray(strf, 8)
        le16(1).copyToArray(strf, 12)
        le16(bitCount).copyToArray(strf, 14)
        le32(biCompression).copyToArray(strf, 16)
        val hdrl = list("hdrl", chunk("avih", avih) ++
          list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
        val movi = list("movi", frames.toArray.flatMap { case (id, b) => chunk(id, b) })
        val body = "AVI ".getBytes("ISO-8859-1") ++ hdrl ++ movi
        "RIFF".getBytes("ISO-8859-1") ++ le32(body.length.toLong) ++ body
      }
      def dibFrame(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
        val stride = (w * 3 + 3) / 4 * 4
        val body = new Array[Byte](stride * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = y * stride + x * 3
            body(p) = b.toByte; body(p + 1) = g.toByte; body(p + 2) = r.toByte
            x += 1
          }
          y += 1
        }
        body
      }

      val images = df(Seq(
        Row(1L, imageBytes("png", 0xFF0000, 8, 6)),   // lossless: luma exact
        Row(2L, imageBytes("bmp", 0x406080, 5, 7)),   // lossless: luma exact
        Row(3L, imageBytes("jpg", 0x808080, 16, 12)), // lossy: tolerance flag
        Row(4L, "definitely not an image".getBytes("UTF-8"))))
      val audio = df(Seq(Row(10L, wavBytes(8000f, 4000))))
      val videos = df(Seq(
        Row(20L, aviBytes("DIB ", 6, 4, 33333L, 24, 0L,
          (0 until 2).map(_ => "00db" -> dibFrame(6, 4, 10, 20, 30)))),
        Row(21L, aviBytes("MJPG", 8, 6, 40000L, 24, 0x47504A4DL,
          Seq("00dc" -> imageBytes("png", 0x00FF00, 8, 6),
            "00dc" -> imageBytes("jpg", 0x808080, 8, 6)))),
        Row(22L, aviBytes("H264", 320, 240, 33333L, 0, 0x34363248L,
          (0 until 5).map(i => "00dc" -> Array.fill[Byte](32)((i + 1).toByte))))))

      val img = Multimodal.withMediaFeatures(images, "payload", dim = 4)
        .orderBy("media_id").collect()
      def luma(r: Row): Double = {
        val v = r.getAs[scala.collection.Seq[Float]]("feature_vec")
        v.map(_.toDouble).sum / v.length
      }
      val au = Multimodal.withAudioFeatures(audio, "payload", dim = 4)
        .collect().head
      val vf = Multimodal.withVideoFrameFeatures(videos, "payload",
          everyNth = 1, maxFrames = 8, dim = 4)
        .orderBy("media_id", "frame_idx").collect()
      val dib = vf.filter(_.getLong(0) == 20L)
      val mjpg = vf.filter(_.getLong(0) == 21L)
      val h264 = vf.filter(_.getLong(0) == 22L)
      val meta = Multimodal.withVideoMetadata(videos, "payload")
        .orderBy("media_id").collect()

      val jpegLuma = luma(img(2))
      val mjpgFormats = mjpg.map(_.getAs[String]("frame_format")).toSeq
      metricRow(s, Seq(
        "png_w" -> img(0).getAs[Int]("width").toDouble,
        "png_h" -> img(0).getAs[Int]("height").toDouble,
        "png_luma_r6" -> r6(luma(img(0))),
        "png_fmt_ok" -> flag(img(0).getAs[String]("format") == "png"),
        "bmp_luma_r6" -> r6(luma(img(1))),
        "jpeg_dims_ok" -> flag(img(2).getAs[Int]("width") == 16 &&
          img(2).getAs[Int]("height") == 12),
        "jpeg_luma_ok" -> flag(math.abs(jpegLuma - 128.0 / 255.0) < 0.05),
        "junk_stub_ok" -> flag(img(3).getAs[String]("format") == "stub"),
        "wav_rate" -> au.getAs[Int]("sample_rate").toDouble,
        "wav_channels" -> au.getAs[Int]("channels").toDouble,
        "wav_frames" -> au.getAs[Long]("frames").toDouble,
        "wav_dur_ms" -> au.getAs[Double]("duration_ms"),
        // constant 16384/32768 samples: RMS envelope is exactly 0.5
        "wav_rms_r6" -> r6(au.getAs[scala.collection.Seq[Float]]("feature_vec")
          .map(_.toDouble).sum / 4.0),
        "dib_frames" -> dib.length.toDouble,
        "dib_w" -> dib.head.getAs[Int]("frame_width").toDouble,
        "dib_h" -> dib.head.getAs[Int]("frame_height").toDouble,
        "dib_luma_r6" -> r6(luma(dib.head)),
        "mjpg_frames" -> mjpg.length.toDouble,
        "mjpg_png_fmt_ok" -> flag(mjpgFormats.contains("avi/mjpg:png")),
        "mjpg_jpeg_fmt_ok" -> flag(mjpgFormats.contains("avi/mjpg:jpeg")),
        // parsed container + undecodable codec: ONE sentinel keeping the
        // codec and the TRUE chunk count
        "h264_sentinel_rows" -> h264.length.toDouble,
        "h264_chunks" -> h264.head.getAs[Int]("n_frames_total").toDouble,
        "h264_fmt_ok" -> flag(
          h264.head.getAs[String]("frame_format") == "avi/h264:undecoded"),
        "avi_dur_ms_r3" -> r3(meta(0).getAs[Double]("duration_ms")),
        "avi_codec_ok" -> flag(meta(2).getAs[String]("codec") == "h264")))
    }),

    // Distributed connected components (alternating large-star/small-star)
    // + the cluster tail of the dedup pipeline, value-checked two ways:
    // (1) components of an ENGINE-INDEPENDENT graph — the bipartite
    // lineitem order-part incidence graph on a bounded orderkey range —
    // are exactly reproducible by a DuckDB recursive transitive closure
    // (node count, component count, max cluster size, sum of min-labels);
    // (2) the MinHash-pair clustering is audited Spark-side: every
    // near-dup pair's endpoints share a cluster label, and the
    // keep-one-per-cluster count obeys kept = docs - clustered + clusters,
    // with deduplicateNear independently reproducing it on a subset
    "q48_components" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val edges = li.filter(col("l_orderkey") < 300)
        .select(col("l_orderkey").cast("long").as("a"),
          (lit(1000000L) + col("l_partkey")).as("b"))
      // localSolveMaxEdges = 0: the oracle must pin the DISTRIBUTED
      // star-contraction rounds, not the small-graph union-find shortcut
      // one groupBy pass yields every component statistic at once —
      // nodes = Σ sizes, components = group count, max cluster = max size,
      // label sum = Σ component·size — instead of two jobs over a persisted
      // intermediate (node count + distinct + sum, then a second groupBy
      // for the max)
      // the star-contraction rounds run eagerly inside the call and are
      // scheduling-latency-bound (fixed per-round cost on a small graph),
      // so they run on a SEPARATE thread, overlapping the doc-side audit
      // chain below — Spark schedules concurrent actions from independent
      // threads onto the same idle cores; results are independent, so
      // ordering cannot change values. Only the stats aggregation stays
      // lazy, riding the ONE fused action at the end of the query.
      // the future's jobs run under a dedicated job group so a failure in
      // the doc-side audit chain below can cancel them instead of leaving
      // orphan star-contraction rounds running until the Await timeout
      val ccJobGroup = "graft-q48-cc"
      val ccFut = scala.concurrent.Future {
        s.sparkContext.setJobGroup(ccJobGroup,
          "q48 connected components (overlapped with audit chain)",
          interruptOnCancel = true)
        try Dedup.connectedComponents(edges, localSolveMaxEdges = 0)
        finally s.sparkContext.clearJobGroup()
      }(scala.concurrent.ExecutionContext.global)

      // near-dup clustering audit over a BOUNDED document subset (the
      // full-corpus signature scan is q24's bench job, and audit cost must
      // track the audit, not the corpus — the same subsetting rule the q24
      // simhash audit follows): ONE signature scan feeds pair generation,
      // ONE clustersFromPairs call runs the production tail (components on
      // the bare pair list via the adaptive small-graph path a pair list
      // of this size takes in production, then the label join)
      // a throw anywhere before the Await would otherwise leave the
      // detached CC rounds running unsupervised until the 10-min timeout;
      // the catch kills their job group before propagating (after the
      // fused collect the future is complete, so the cancel is a no-op)
      val r = try {
        val docs = table(s, dir, "documents").filter(col("doc_id") < 2000)
        val sigs = Dedup.textSignatures(docs, "doc_id", "text").persist()
        val pairs = Dedup.nearDuplicatePairsFromSignatures(sigs, threshold = 0.5)
          .select("id_a", "id_b").persist()
        val clustered = Dedup.clustersFromPairs(docs, "doc_id", pairs)
          .select(col("doc_id").cast("long").as("doc_id"), col("cluster"))
          .persist()
        // every pair's endpoints must carry the same cluster label; the
        // SAME labeled-pair frame also feeds the endpoint stats below, so
        // join once and persist the (tiny) result instead of re-running the
        // two label joins per metric
        val labels = clustered.select(col("doc_id"), col("cluster"))
        val labeledPairs = pairs
          .join(labels.toDF("id_a", "graft_ca"), Seq("id_a"))
          .join(labels.toDF("id_b", "graft_cb"), Seq("id_b"))
          .persist()
        val badDf = labeledPairs
          .filter(col("graft_ca") =!= col("graft_cb"))
          .agg(count(lit(1)).as("graft_bad"))
        // counting identity on the SAME clustering: docs kept by
        // keep-one-per-cluster = nDocs - (docs in some pair) + (distinct
        // clusters among those docs); kept is computed from the labels, the
        // other two sides from the pair list — a wrong label join, a
        // dropped singleton, or a split component breaks the equality
        val knDf = clustered.agg(
          sum((col("cluster") === col("doc_id")).cast("long")).as("graft_kept"),
          count(lit(1)).as("graft_ndocs"))
        val pnDf = labeledPairs
          .select(explode(array(
            struct(col("id_a").as("d"), col("graft_ca").as("c")),
            struct(col("id_b").as("d"), col("graft_cb").as("c")))).as("graft_e"))
          .select(col("graft_e.d"), col("graft_e.c")).distinct()
          .agg(count(lit(1)).as("graft_nclu"),
            countDistinct(col("c")).as("graft_nclus"))
        val ccStats = scala.concurrent.Await
          .result(ccFut, scala.concurrent.duration.Duration(10, "min"))
          .groupBy("component").agg(count(lit(1)).as("graft_c"))
          .agg(sum(col("graft_c")).as("graft_nodes"),
            count(lit(1)).as("graft_comps"),
            org.apache.spark.sql.functions.max(col("graft_c")).as("graft_maxc"),
            sum(col("component") * col("graft_c")).as("graft_lsum"))
        // ALL FOUR audit aggregates in ONE action: the cc-stats, bad-pair,
        // label, and endpoint pipelines become concurrent stages of a
        // single job instead of four serialized driver round-trips (the
        // q24 fusion pattern) — the shared persisted frames fill once
        val fused = ccStats.crossJoin(badDf).crossJoin(knDf).crossJoin(pnDf)
          .collect().head
        labeledPairs.unpersist(blocking = false)
        pairs.unpersist(blocking = false)
        clustered.unpersist(blocking = false)
        sigs.unpersist(blocking = false)
        fused
      } catch { case t: Throwable =>
        s.sparkContext.cancelJobGroup(ccJobGroup)
        throw t
      }
      val badPairs = r.getLong(4)
      val (kept, nDocs) = (r.getLong(5), r.getLong(6))
      val (nClustered, nClusters) = (r.getLong(7), r.getLong(8))

      metricRow(s, Seq(
        "cc_nodes" -> r.getLong(0).toDouble,
        "cc_components" -> r.getLong(1).toDouble,
        "cc_max_cluster" -> r.getLong(2).toDouble,
        "cc_sum_labels" -> r.getLong(3).toDouble,
        "nd_pairs_consistent" -> flag(badPairs == 0L),
        "nd_accounting_ok" -> flag(nClustered >= nClusters && nClusters >= 1 &&
          nDocs >= nClustered),
        "nd_kept_identity_ok" -> flag(
          kept == nDocs - nClustered + nClusters)))
    }),

    // Benchmark decontamination (the GPT-3/Dolma token-n-gram convention,
    // n = 13): probes are built deterministically from the corpus itself —
    // the 13-token slices [6..18] of docs 20/30/45 (doc 45 chosen because
    // its slice also appears verbatim inside two OTHER documents at sf0.01,
    // so the oracle pins cross-document hits alongside the probe-source
    // self-matches) — and DuckDB rebuilds
    // the IDENTICAL probes, checking space-padded substring containment of
    // the single-space-normalized lowercase text, which token-n-gram
    // matching is exactly equivalent to. Value-pinned: probe count,
    // contaminated-doc count, per-doc distinct-probe match sum, kept count,
    // plus the kept = docs - contaminated anti-join identity.
    "q49_decontamination" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val ntoks = TextAnalysis.normalizedTokens(col("text"))
      val probes = docs.filter(col("doc_id").isin(20L, 30L, 45L))
        .filter(org.apache.spark.sql.functions.size(ntoks) >= 18)
        .select(org.apache.spark.sql.functions.concat_ws(" ",
          org.apache.spark.sql.functions.slice(ntoks, 6, 13)).as("probe"))
        .distinct()
      val matches = TextAnalysis.contaminationMatches(
        docs, "doc_id", "text", probes, "probe", n = 13)
      val agg = matches.agg(count(lit(1)), sum(col("matched_ngrams")))
        .collect().head
      val kept = TextAnalysis.decontaminate(
        docs, "doc_id", "text", probes, "probe", n = 13).count()
      val nDocs = docs.count()
      val nProbes = probes.count()
      metricRow(s, Seq(
        "n_probes" -> nProbes.toDouble,
        "contaminated_docs" -> agg.getLong(0).toDouble,
        "matched_ngrams" -> agg.getLong(1).toDouble,
        "kept_docs" -> kept.toDouble,
        "kept_identity_ok" -> flag(kept == nDocs - agg.getLong(0))))
    }),

    // Gopher repetition rules (Rae et al. 2021 table A1): per-doc duplicate
    // line/paragraph fractions plus top/duplicated token-n-gram character
    // fractions, all exact integer ratios DuckDB recomputes from the same
    // definitions. Value-pinned: the summed integer numerators for every
    // n (2-4 top covers, 5-10 dup chars), total normalized chars, line
    // count, the full-threshold kept count, two representative per-rule
    // fail counts, and the filter() = keep-count identity.
    "q50_repetition" -> ((s, dir) => {
      import graft.pipeline.Repetition
      val docs = table(s, dir, "documents")
      val st = Repetition.stats(docs, "doc_id", "text").persist()
      val sums =
        Seq(count(lit(1)).as("n_docs"),
          sum(col("total_chars")).as("sum_total_chars"),
          sum(col("n_lines")).as("sum_n_lines")) ++
          Repetition.TopNs.map(n =>
            sum(col(s"top_gram_cover_$n")).as(s"sum_top_cover_$n")) ++
          Repetition.DupNs.map(n =>
            sum(col(s"dup_gram_chars_$n")).as(s"sum_dup_chars_$n")) ++
          Seq(
            count(when(Repetition.gopherKeep(), 1)).as("kept_docs"),
            count(when(col("top_gram_frac_2") > lit(0.20), 1))
              .as("fail_top_2"),
            count(when(col("dup_gram_frac_5") > lit(0.15), 1))
              .as("fail_dup_5"))
      val agg = st.agg(sums.head, sums.tail: _*).collect().head
      val filtered = Repetition.filter(docs, "doc_id", "text").count()
      st.unpersist(blocking = false)
      val names = agg.schema.fieldNames
      metricRow(s,
        names.map(n => n -> agg.getAs[Long](n).toDouble).toSeq :+
          ("filter_identity_ok" ->
            flag(filtered == agg.getAs[Long]("kept_docs"))))
    }),

    // Deterministic data-mixture sampling: hash-Bernoulli keep fractions
    // (a global 25% draw + a per-language recipe) and per-language token
    // budgets. Every keep decision is a pure function of
    // md5("graft:<doc_id>") — fixed-width lowercase hex compares
    // lexicographically == numerically, so DuckDB replays it bit-for-bit.
    // Value-pinned: kept counts and id-sums for both samplers, per-group
    // kept counts / token sums / id-sum for the budget prefix, plus
    // budget-respected and recipe-groups-only identity flags.
    "q51_data_mix" -> ((s, dir) => {
      import graft.pipeline.Mixing
      val docs = table(s, dir, "documents")
      val plain = Mixing.sample(docs, "doc_id", 0.25)
        .agg(count(lit(1)), coalesce(sum("doc_id"), lit(0L)))
        .collect().head
      val strat = Mixing.stratifiedSample(docs, "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 0.1, "de" -> 0.3), defaultFraction = 0.2)
        .agg(count(lit(1)), coalesce(sum("doc_id"), lit(0L)),
          count(when(col("lang") === "en", 1)),
          count(when(col("lang") === "zh", 1)))
        .collect().head
      val budgets = Map("en" -> 3000L, "de" -> 1200L, "zh" -> 600L)
      val perGroup = Mixing
        .tokenBudgetSample(docs, "doc_id", "text", "lang", budgets)
        .groupBy(col("lang"))
        .agg(count(lit(1)), sum(Mixing.tokenCountExpr(col("text"))),
          coalesce(sum("doc_id"), lit(0L)))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      def g(k: String): (Long, Long, Long) = perGroup.getOrElse(k, (0L, 0L, 0L))
      val withinBudget =
        budgets.forall { case (k, b) => g(k)._2 <= b }
      val recipeOnly = perGroup.keySet.subsetOf(budgets.keySet)
      metricRow(s, Seq(
        "plain_kept" -> plain.getLong(0).toDouble,
        "plain_id_sum" -> plain.getLong(1).toDouble,
        "strat_kept" -> strat.getLong(0).toDouble,
        "strat_id_sum" -> strat.getLong(1).toDouble,
        "strat_en" -> strat.getLong(2).toDouble,
        "strat_zh" -> strat.getLong(3).toDouble,
        "budget_kept_en" -> g("en")._1.toDouble,
        "budget_kept_de" -> g("de")._1.toDouble,
        "budget_kept_zh" -> g("zh")._1.toDouble,
        "budget_toks_en" -> g("en")._2.toDouble,
        "budget_toks_de" -> g("de")._2.toDouble,
        "budget_toks_zh" -> g("zh")._2.toDouble,
        "budget_id_sum" -> perGroup.values.map(_._3).sum.toDouble,
        "within_budget_ok" -> flag(withinBudget),
        "recipe_groups_ok" -> flag(recipeOnly)))
    }),

    // Sliding-window document chunking (sequence prep): 64-token windows
    // with 16-token overlap, emit rule = first window or at least one new
    // token past the previous window. Pure codegen HOFs + one narrow
    // explode — no shuffle; DuckDB replays the identical window starts and
    // token slices. Value-pinned: chunk count, summed chunk tokens/chars,
    // summed chunk indices (pins per-doc ordering), docs-with-chunks,
    // short-chunk count, and the chunkCount() = exploded-count identity.
    "q52_chunking" -> ((s, dir) => {
      import graft.pipeline.Chunking
      val docs = table(s, dir, "documents")
      val agg = Chunking.chunk(docs, "text", chunkTokens = 64, overlap = 16)
        .agg(count(lit(1)), sum("n_tokens"),
          sum(length(col("chunk_text"))), sum(col("chunk_idx")),
          countDistinct(col("doc_id")),
          count(when(col("n_tokens") < 64, 1)))
        .collect().head
      val counted = docs
        .agg(coalesce(sum(Chunking.chunkCount(col("text"), 64, 16)), lit(0L)))
        .collect().head.getLong(0)
      metricRow(s, Seq(
        "n_chunks" -> agg.getLong(0).toDouble,
        "sum_chunk_tokens" -> agg.getLong(1).toDouble,
        "sum_chunk_chars" -> agg.getLong(2).toDouble,
        "sum_chunk_idx" -> agg.getLong(3).toDouble,
        "docs_with_chunks" -> agg.getLong(4).toDouble,
        "short_chunks" -> agg.getLong(5).toDouble,
        "count_identity_ok" -> flag(counted == agg.getLong(0))))
    }),

    // End-to-end curation pipeline: the full training-corpus prep chain
    // composed from the library's own stages — Gopher repetition filter →
    // exact dedup (min-id survivor per identical text) → benchmark
    // decontamination (13-gram, q49's probe set) → per-language mixture
    // sampling → sliding-window chunking — with every stage's survivor
    // count, the sampled id-sum, and the final chunk volume value-pinned
    // against ONE DuckDB query chaining the same five replays. This is
    // the composition gate: each stage is proven alone (q50/q21/q49/q51/
    // q52); q53 proves they compose without convention drift.
    "q53_curation" -> ((s, dir) => {
      import graft.pipeline.{Chunking, Mixing, Repetition}
      import org.apache.spark.sql.functions.{concat_ws, size, slice}
      val docs = table(s, dir, "documents")
      val nDocs = docs.count()
      val s1 = Repetition.filter(docs, "doc_id", "text")
        .persist()
      val c1 = s1.count()
      val s2 = Dedup.exact(s1, Seq("text"), "doc_id").persist()
      val c2 = s2.count()
      val ntoks = TextAnalysis.normalizedTokens(col("text"))
      val probes = docs.filter(col("doc_id").isin(20L, 30L, 45L))
        .filter(size(ntoks) >= 18)
        .select(concat_ws(" ", slice(ntoks, 6, 13)).as("probe"))
        .distinct()
      val s3 = TextAnalysis.decontaminate(
        s2, "doc_id", "text", probes, "probe", n = 13).persist()
      val c3 = s3.count()
      val s4 = Mixing.stratifiedSample(s3, "doc_id", "lang",
        Map("en" -> 0.8, "de" -> 0.6, "fr" -> 0.6, "es" -> 0.6, "zh" -> 0.4),
        defaultFraction = 0.5)
      val mixAgg = s4
        .agg(count(lit(1)), coalesce(sum("doc_id"), lit(0L)))
        .collect().head
      val chunkAgg = Chunking.chunk(s4, "text", chunkTokens = 64, overlap = 16)
        .agg(count(lit(1)), coalesce(sum("n_tokens"), lit(0L)))
        .collect().head
      Seq(s1, s2, s3).foreach(_.unpersist(blocking = false))
      metricRow(s, Seq(
        "n_docs" -> nDocs.toDouble,
        "kept_repetition" -> c1.toDouble,
        "kept_dedup" -> c2.toDouble,
        "kept_decontam" -> c3.toDouble,
        "kept_mix" -> mixAgg.getLong(0).toDouble,
        "mix_id_sum" -> mixAgg.getLong(1).toDouble,
        "n_chunks" -> chunkAgg.getLong(0).toDouble,
        "sum_chunk_tokens" -> chunkAgg.getLong(1).toDouble,
        "monotone_ok" -> flag(nDocs >= c1 && c1 >= c2 && c2 >= c3 &&
          c3 >= mixAgg.getLong(0))))
    }),

    // Paragraph-level exact dedup (the sub-document granularity between
    // row dedup and near-dup clustering — the standard boilerplate
    // remover): across the whole corpus keep only the globally-first
    // occurrence of every distinct paragraph, reassemble documents from
    // the survivors. q39-style deterministic injection: the single-line
    // corpus gets a paragraph break after every 4th word from the same
    // regex DuckDB replays, so both engines see the identical multi-line
    // corpus. Value-pinned: occurrence/kept/removed totals, affected and
    // fully-emptied doc counts, the exact reassembled character volume
    // (kept paragraph chars + separators — pins join order and the
    // empty-string contract), and kept == corpus-wide distinct-paragraph
    // count (pins the winner election).
    "q54_paragraph_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val paraDocs = docs.select(col("doc_id"),
        regexp_replace(col("text"), ParaInjectPattern, ParaInjectReplacement)
          .as("text"))
      val distinctParas = Dedup
        .paragraphOccurrences(paraDocs, "doc_id", "text")
        .agg(countDistinct(col("graft_para"))).collect().head.getLong(0)
      val cleaned = Dedup.dedupParagraphs(paraDocs, "doc_id", "text")
      val agg = cleaned.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_paras")).as("total_paras"),
        sum(col("n_kept")).as("kept_paras"),
        sum(col("n_removed")).as("removed_paras"),
        count(when(col("n_removed") > 0, 1)).as("docs_affected"),
        count(when(col("n_kept") === 0 && col("n_paras") > 0, 1))
          .as("docs_emptied"),
        sum(length(col("text_clean"))).as("chars_clean")).collect().head
      metricRow(s, Seq(
        "n_docs" -> agg.getLong(0).toDouble,
        "total_paras" -> agg.getLong(1).toDouble,
        "kept_paras" -> agg.getLong(2).toDouble,
        "removed_paras" -> agg.getLong(3).toDouble,
        "docs_affected" -> agg.getLong(4).toDouble,
        "docs_emptied" -> agg.getLong(5).toDouble,
        "chars_clean" -> agg.getLong(6).toDouble,
        "distinct_identity_ok" -> flag(agg.getLong(2) == distinctParas)))
    }),

    // GPT-style sequence packing: the whole corpus concatenated into one
    // id-ordered token stream and cut into 128-token training sequences
    // (sequences cross document boundaries; trailing partial kept here so
    // the token total is conserved). The global offsets come from the
    // range-partition prefix-sum pass — no global window. Value-pinned:
    // sequence/full-sequence counts, the conserved token total, the exact
    // character volume of every full sequence (pins piece slicing, piece
    // order and the single-space reassembly), piece totals and the max
    // documents sharing one sequence, boundary-crossing doc count from
    // packStats, and the ceil-identity between token total and sequence
    // count.
    "q55_seq_packing" -> ((s, dir) => {
      import graft.pipeline.Packing
      val L = 128
      val docs = table(s, dir, "documents")
      val seqs = Packing.packSequences(docs, "doc_id", "text",
        seqLen = L, keepPartial = true)
      val agg = seqs.agg(
        count(lit(1)),
        count(when(col("n_tokens") === L.toLong, 1)),
        coalesce(sum(col("n_tokens")), lit(0L)),
        coalesce(sum(when(col("n_tokens") === L.toLong,
          length(col("seq_text")))), lit(0L)),
        coalesce(sum(col("n_docs")), lit(0L)),
        coalesce(org.apache.spark.sql.functions.max(col("n_docs")), lit(0L)))
        .collect().head
      val crossing = Packing.packStats(docs, "doc_id", "text", L)
        .where(col("crosses")).count()
      val nSeqs = agg.getLong(0)
      val total = agg.getLong(2)
      metricRow(s, Seq(
        "n_seqs" -> nSeqs.toDouble,
        "n_full" -> agg.getLong(1).toDouble,
        "sum_tokens" -> total.toDouble,
        "full_chars" -> agg.getLong(3).toDouble,
        "sum_pieces" -> agg.getLong(4).toDouble,
        "max_docs_in_seq" -> agg.getLong(5).toDouble,
        "docs_crossing" -> crossing.toDouble,
        "seq_count_ok" -> flag(nSeqs == (total + L - 1) / L.toLong)))
    }),

    // TF-IDF keyword extraction: per-document top-3 terms under the
    // smoothed idf (ln((N+1)/(df+1)) + 1), ties broken by ascending term
    // so the selection is a pure function of the data. Value-pinned via
    // integers only — vocabulary size, (doc, term) pair count, the
    // conserved token total, max document frequency, and the emitted
    // top-3 selection pinned EXACTLY by its tf and df sums (a single
    // swapped term would shift both) plus the df=1-top-term doc count.
    "q56_tfidf" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val tf = TextAnalysis.termFrequencies(docs, "doc_id", "text")
      val dfreq = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val dAgg = dfreq.agg(
        count(lit(1)),
        coalesce(sum(col("df")), lit(0L)),
        coalesce(org.apache.spark.sql.functions.max(col("df")), lit(0L)))
        .collect().head
      val sumTf = tf.agg(coalesce(sum(col("tf")), lit(0L)))
        .collect().head.getLong(0)
      val top = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 3)
      val tAgg = top.agg(
        count(lit(1)),
        countDistinct(col("doc_id")),
        coalesce(sum(col("tf")), lit(0L)),
        coalesce(sum(col("df")), lit(0L)),
        count(when(col("rank") === 1 && col("df") === 1, 1)))
        .collect().head
      metricRow(s, Seq(
        "vocab_size" -> dAgg.getLong(0).toDouble,
        "n_pairs" -> dAgg.getLong(1).toDouble,
        "max_df" -> dAgg.getLong(2).toDouble,
        "sum_tf" -> sumTf.toDouble,
        "emitted" -> tAgg.getLong(0).toDouble,
        "docs_ranked" -> tAgg.getLong(1).toDouble,
        "sum_emitted_tf" -> tAgg.getLong(2).toDouble,
        "sum_emitted_df" -> tAgg.getLong(3).toDouble,
        "unique_top1" -> tAgg.getLong(4).toDouble))
    }),

    // C4-style heuristic cleaning (Raffel et al. 2020 §2.2) over the
    // documents corpus. The corpus is single-line and punctuation-free, so
    // the query first gives it deterministic structure both engines can
    // replay byte-for-byte: the q54 paragraph-break injection (a line
    // break after every 4th word) plus a terminal-punctuation rewrite
    // (lines whose length is divisible by 3 gain a trailing '.'). Then
    // the real rules run with full bite: terminal-punctuation keep,
    // >= 4 words per line, line blocklist ("vector" — present in the
    // corpus vocabulary, unlike C4's "javascript", so the rule is
    // exercised), >= 3 surviving lines per document, and the document
    // blocklist phrase "customer query". Value-pinned by integers only:
    // line and document counts, the exact character volume of every kept
    // document's cleaned text, and the kept-id sum (a single flipped
    // verdict shifts it).
    "q57_c4_filters" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val lines = split(
        regexp_replace(col("text"), ParaInjectPattern, ParaInjectReplacement),
        "\n")
      val punct = transform(lines,
        l => when(length(l) % 3 === 0, concat(l, lit("."))).otherwise(l))
      val prepared = docs.select(col("doc_id"),
        array_join(punct, "\n").as("text"))
      val cleaned = TextAnalysis.c4Clean(prepared, "doc_id", "text",
        minWordsPerLine = 4, minLinesPerDoc = 3,
        lineBlocklist = Seq("vector"), docBlocklist = Seq("customer query"))
      val agg = cleaned.agg(
        count(lit(1)),
        coalesce(sum(col("n_lines")), lit(0)),
        coalesce(sum(col("n_kept")), lit(0)),
        count(when(col("kept"), 1)),
        coalesce(sum(when(col("kept"), length(col("text_clean")))), lit(0)),
        coalesce(sum(when(col("kept"), col("doc_id"))), lit(0L)),
        count(when(col("n_kept") >= 3 && !col("kept"), 1))).collect().head
      metricRow(s, Seq(
        "n_docs" -> agg.getLong(0).toDouble,
        "total_lines" -> agg.getLong(1).toDouble,
        "kept_lines" -> agg.getLong(2).toDouble,
        "docs_kept" -> agg.getLong(3).toDouble,
        "chars_kept" -> agg.getLong(4).toDouble,
        "sum_kept_ids" -> agg.getLong(5).toDouble,
        "docs_blocked" -> agg.getLong(6).toDouble))
    }),

    // CCNet-style unigram-LM quality scoring: every document's per-token
    // cross-entropy under the Laplace-smoothed unigram model trained on
    // the corpus itself. Integer-pinned counts (documents, the conserved
    // token total) anchor the frame; the float metrics are rounded to
    // grids 6+ orders of magnitude above cross-engine ln/summation noise
    // (sum_nll ~1e5 → 1e-3 grid, per-token entropies ~3.4 → 1e-6 grid),
    // and the 3.402 split threshold sits >= 2e-7 from every document's
    // entropy at all three scale factors (measured), so a boundary flip
    // is not constructible from double noise (~1e-13).
    "q58_unigram_lm" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = TextAnalysis.unigramCrossEntropy(docs, "doc_id", "text")
      val agg = scored.agg(
        count(lit(1)),
        coalesce(sum(col("n_tokens")), lit(0L)),
        coalesce(sum(col("nll")), lit(0.0)),
        avg(col("cross_entropy")),
        org.apache.spark.sql.functions.min(col("cross_entropy")),
        org.apache.spark.sql.functions.max(col("cross_entropy")),
        count(when(col("cross_entropy") < 3.402, 1))).collect().head
      metricRow(s, Seq(
        "n_docs" -> agg.getLong(0).toDouble,
        "total_tokens" -> agg.getLong(1).toDouble,
        "sum_nll" -> r3(agg.getDouble(2)),
        "avg_h" -> r6(agg.getDouble(3)),
        "min_h" -> r6(agg.getDouble(4)),
        "max_h" -> r6(agg.getDouble(5)),
        "docs_low" -> agg.getLong(6).toDouble))
    }),

    // SemDeDup (Abbas et al. 2023) over the embeddings table against a
    // deterministic centroid fixture — the 8 lowest-vec_id embeddings —
    // so DuckDB can replay the exact cluster assignment (argmax cosine,
    // ties to the higher cell, matching array_max struct semantics) and
    // the within-cluster lowest-id-survives dedup at tau = 0.4. Margins
    // measured at all three scale factors: the closest assignment gap is
    // 4.7e-5 and the closest pair-cosine to tau is 2.5e-5 — 9 orders
    // above cross-engine double noise. Value-pinned by integers only:
    // vector/cell/drop counts, max cluster size, and both id sums (any
    // single re-assigned cell or flipped verdict shifts one).
    "q59_semdedup" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val centroids: Seq[Array[Double]] = emb
        .where(col("vec_id") < 8 && col("embedding").isNotNull)
        .orderBy(col("vec_id"))
        .select(col("embedding"))
        .collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
        .toSeq
      val res = graft.pipeline.CacheLifecycle.withConsumptions(2) {
        Similarity.semDedup(emb, "vec_id", "embedding", centroids, tau = 0.4)
      }
      val agg = res.agg(
        count(lit(1)),
        countDistinct(col("cell")),
        count(when(!col("kept"), 1)),
        coalesce(sum(when(col("kept"), col("vec_id"))), lit(0L)),
        coalesce(sum(when(!col("kept"), col("vec_id"))), lit(0L))).collect().head
      val maxCluster = res.groupBy(col("cell")).agg(count(lit(1)).as("c"))
        .agg(org.apache.spark.sql.functions.max(col("c"))).collect().head.getLong(0)
      metricRow(s, Seq(
        "n_vecs" -> agg.getLong(0).toDouble,
        "n_cells" -> agg.getLong(1).toDouble,
        "dropped" -> agg.getLong(2).toDouble,
        "kept" -> (agg.getLong(0) - agg.getLong(2)).toDouble,
        "sum_kept_ids" -> agg.getLong(3).toDouble,
        "sum_dropped_ids" -> agg.getLong(4).toDouble,
        "max_cluster" -> maxCluster.toDouble))
    }),

    // Bigram-LM cross-entropy — one step up the n-gram ladder from q58
    // toward CCNet's KenLM scoring: p(w2|w1) = (c(w1,w2)+1)/(c(w1.)+V)
    // with V = bigram-head vocabulary. Same pinning regime as q58:
    // integer counts anchor the frame (docs with >= 2 tokens, conserved
    // bigram total), floats ride grids 6+ orders above ln noise, and the
    // 3.39 split threshold sits >= 5.9e-6 from every document's entropy
    // at all three scale factors (measured).
    "q60_bigram_lm" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = TextAnalysis.bigramCrossEntropy(docs, "doc_id", "text")
      val agg = scored.agg(
        count(lit(1)),
        coalesce(sum(col("n_bigrams")), lit(0L)),
        coalesce(sum(col("nll")), lit(0.0)),
        avg(col("cross_entropy")),
        org.apache.spark.sql.functions.min(col("cross_entropy")),
        org.apache.spark.sql.functions.max(col("cross_entropy")),
        count(when(col("cross_entropy") < 3.39, 1))).collect().head
      metricRow(s, Seq(
        "n_docs" -> agg.getLong(0).toDouble,
        "total_bigrams" -> agg.getLong(1).toDouble,
        "sum_nll" -> r3(agg.getDouble(2)),
        "avg_h" -> r6(agg.getDouble(3)),
        "min_h" -> r6(agg.getDouble(4)),
        "max_h" -> r6(agg.getDouble(5)),
        "docs_low" -> agg.getLong(6).toDouble))
    }),

    // DSIR importance weighting (Xie et al. 2023): every document scored
    // by the target-vs-raw unigram log-likelihood ratio, target domain =
    // the English documents (lang = 'en' — a realistic "make the corpus
    // look like the target language" selection). The 0.05 keep threshold
    // sits >= 9.5e-6 from every document's weight at all three scale
    // factors (measured); the kept-id sum pins the exact selected set.
    "q61_dsir" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = TextAnalysis.dsirLogWeights(docs, "doc_id", "text",
        col("lang") === "en")
      val agg = scored.agg(
        count(lit(1)),
        coalesce(sum(col("n_tokens")), lit(0L)),
        coalesce(sum(col("log_weight")), lit(0.0)),
        org.apache.spark.sql.functions.min(col("log_weight")),
        org.apache.spark.sql.functions.max(col("log_weight")),
        count(when(col("log_weight") > 0.05, 1)),
        coalesce(sum(when(col("log_weight") > 0.05, col("doc_id"))), lit(0L)))
        .collect().head
      metricRow(s, Seq(
        "n_docs" -> agg.getLong(0).toDouble,
        "total_tokens" -> agg.getLong(1).toDouble,
        "sum_lw" -> r6(agg.getDouble(2)),
        "min_lw" -> r6(agg.getDouble(3)),
        "max_lw" -> r6(agg.getDouble(4)),
        "kept" -> agg.getLong(5).toDouble,
        "sum_kept_ids" -> agg.getLong(6).toDouble))
    }),

    // Per-probe contamination report — the q49 machinery turned around to
    // answer the benchmark owner's question: WHICH items leak, into how
    // many documents. Probe docs 20/30/45 (their FULL texts — every
    // positional 13-gram, not q49's single slice), one output row per
    // probe: distinct contaminated docs + distinct (doc, gram) match
    // pairs. Multi-row result, all columns exact integers cast to double.
    "q62_contamination_report" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val probes = docs
        .filter(col("doc_id").isin(20L, 30L, 45L))
        .select(col("doc_id").as("probe_id"), col("text").as("probe"))
      TextAnalysis
        .contaminationReport(docs, "doc_id", "text", probes, "probe_id", "probe")
        .select(
          col("probe_id").cast(DoubleType).as("probe_id"),
          col("contaminated_docs").cast(DoubleType).as("contaminated_docs"),
          col("matched_pairs").cast(DoubleType).as("matched_pairs"))
        .orderBy(col("probe_id"))
    }),

    // Exact substring dedup (Lee et al. 2021 ExactSubstr, token-level):
    // duplicated 13-token spans cut from every occurrence but the globally
    // first; per-affected-doc row pins the removed count and the md5 of the
    // surviving token sequence (null when the whole document was removed —
    // exact-duplicate copies lose everything while the earliest copy keeps
    // its text untouched).
    "q63_substring_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.exactSubstringDedup(docs, "doc_id", "text", 13)
        .where(col("removed_tokens") > 0)
        .select(
          col("doc_id").cast(DoubleType).as("doc_id"),
          col("total_tokens").cast(DoubleType).as("total_tokens"),
          col("removed_tokens").cast(DoubleType).as("removed_tokens"),
          when(length(col("kept_text")) > 0,
            md5(col("kept_text").cast(BinaryType))).as("kept_md5"))
        .orderBy(col("doc_id"))
    }),

    // Cross-corpus FUZZY decontamination: probes are corpus docs with 8
    // junk tokens appended (never verbatim-equal to any corpus doc, shingle
    // Jaccard ~0.84 to their source), so the MinHash-LSH banded join must
    // catch rewrites that exact 13-gram matching (q49) is blind to. The
    // exact inverted-index path pins per-probe match counts and id sums;
    // the LSH path (verified candidates only) is asserted against it via a
    // recall flag — banding at 64 hashes / 32 bands keeps per-pair miss
    // probability ~1e-4 at Jaccard 0.5.
    "q64_fuzzy_decontamination" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val junk = " zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8"
      val probes = docs.filter(col("doc_id").isin(0L, 8L, 26L))
        .select(col("doc_id").as("probe_id"),
          concat(col("text"), lit(junk)).as("ptext"))
      val exact = Dedup.crossCorpusJaccardPairs(docs, "doc_id", "text",
        probes, "probe_id", "ptext", threshold = 0.5)
      val fuzzy = Dedup.crossCorpusNearDups(docs, "doc_id", "text",
        probes, "probe_id", "ptext", threshold = 0.5)
        .select(col("corpus_id"), col("probe_id")).withColumn("graft_f", lit(1L))
      val joined = exact.join(fuzzy, Seq("corpus_id", "probe_id"), "left_outer")
        .persist()
      val r = joined.agg(count(lit(1)), sum(col("graft_f"))).collect().head
      val nExact = r.getLong(0)
      val found = if (r.isNullAt(1)) 0L else r.getLong(1)
      val recallOk = if (nExact == 0L || found.toDouble / nExact >= 0.9) 1.0 else 0.0
      // one row per SHINGLED probe even at zero matches — the oracle's
      // cross join emits (probe, 0, 0) rows, so a probe falling below the
      // threshold must not silently vanish from this side
      val eligibleProbes = probes
        .where(org.apache.spark.sql.functions.size(
          TextAnalysis.normalizedTokens(col("ptext"))) >= 3)
        .select(col("probe_id")).distinct()
      val grouped = joined.groupBy(col("probe_id"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n_matched"),
          sum(col("corpus_id")).cast(DoubleType).as("matched_id_sum"))
      val out = eligibleProbes
        .join(grouped, Seq("probe_id"), "left_outer")
        .select(col("probe_id").cast(DoubleType).as("probe_id"),
          coalesce(col("n_matched"), lit(0.0)).as("n_matched"),
          coalesce(col("matched_id_sum"), lit(0.0)).as("matched_id_sum"),
          lit(recallOk).as("lsh_recall_ok"))
        .orderBy(col("probe_id"))
      graft.pipeline.CacheLifecycle.releaseOnConsume(out, Seq(joined))
    }),

    // PMI collocations: corpus-level pointwise mutual information over
    // adjacent token pairs (min pair count 5). Rounded to 6 decimals; the
    // measured margin to every rounding boundary is >= 3e-10 at all three
    // SFs — 5 orders above cross-engine ln noise.
    "q65_pmi_collocations" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.pmiCollocations(docs, "text", minCount = 5)
        .select(col("w1"), col("w2"),
          col("pair_count").cast(DoubleType).as("pair_count"),
          round(col("pmi"), 6).as("pmi"))
        .orderBy(col("w1"), col("w2"))
    }),

    // Cross-source provenance leakage: distinct 13-grams shared between
    // every pair of sources — which sources copy from each other, before
    // any pairwise dedup is attempted.
    "q66_source_overlap" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.crossSourceOverlap(docs, "source", "text", 13)
        .select(col("group_a").as("source_a"), col("group_b").as("source_b"),
          col("shared_grams").cast(DoubleType).as("shared_grams"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Per-document duplication profile: distinct 13-grams and how many of
    // them also occur in at least one other document.
    "q67_duplication_profile" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.duplicationProfile(docs, "doc_id", "text", 13)
        .select(col("doc_id").cast(DoubleType).as("doc_id"),
          col("distinct_grams").cast(DoubleType).as("distinct_grams"),
          col("dup_grams").cast(DoubleType).as("dup_grams"))
        .orderBy(col("doc_id"))
    }),

    // Corpus vocabulary / Zipf-shape statistics. Shares are integer-sum
    // ratios (tie-insensitive at the rank boundary), so raw doubles
    // compare exactly across engines — no rounding needed.
    "q68_vocabulary_stats" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.vocabularyStats(docs, "text")
        .select(col("total_tokens").cast(DoubleType).as("total_tokens"),
          col("vocab_size").cast(DoubleType).as("vocab_size"),
          col("hapax_count").cast(DoubleType).as("hapax_count"),
          col("top10_share"), col("top100_share"), col("top1000_share"))
    }),

    // Incremental exact dedup: the daily-ingestion shape — docs < 300 are
    // "yesterday's corpus" persisted as a 128-bit seen-hash state through
    // parquet; docs >= 250 are today's batch (an overlapping re-crawl
    // slice, as real crawls re-deliver known pages), deduped within
    // itself and against the state without rescanning history.
    "q69_incremental_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val old = docs.filter(col("doc_id") < 300)
      val batch = docs.filter(col("doc_id") >= 250)
      withTempDir("graft_seen") { statePath =>
        Dedup.seenTextKeys(old, "text")
          .write.mode("overwrite").parquet(statePath)
        val seen = s.read.parquet(statePath)
        val surv = Dedup.exactDedupIncremental(batch, "text", "doc_id", seen)
        val r = surv.agg(count(lit(1)), sum(col("doc_id"))).collect().head
        metricRow(s, Seq(
          "survivors" -> r.getLong(0).toDouble,
          "survivor_id_sum" ->
            (if (r.isNullAt(1)) 0.0 else r.getLong(1).toDouble),
          "state_keys" -> seen.count().toDouble))
      }
    }),

    // Temperature-weighted mixture: per-source token budgets ~ n^0.5 over
    // a 10k-token total (mT5-style low-resource upweighting), selected by
    // the deterministic hash-prefix sampler. The floor boundaries sit
    // >= 0.0099 from every budget at all three SFs (measured) — 10 orders
    // above cross-engine sqrt/sum noise; the prefix selection itself is
    // integer-exact.
    "q70_temperature_mix" -> ((s, dir) => {
      import graft.pipeline.Mixing
      val docs = table(s, dir, "documents")
      val budgets = Mixing.temperatureBudgets(docs, "source", "text",
        totalBudget = 10000L, alpha = 0.5)
      val stats = Mixing
        .tokenBudgetSample(docs, "doc_id", "text", "source", budgets)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("graft_k"),
          sum(Mixing.tokenCountExpr(col("text"))).as("graft_t"),
          coalesce(sum(col("doc_id")), lit(0L)).as("graft_i"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      import s.implicits._
      budgets.toSeq.sortBy(_._1).map { case (g, b) =>
        val (k, t, i) = stats.getOrElse(g, (0L, 0L, 0L))
        (g, b.toDouble, k.toDouble, t.toDouble, i.toDouble)
      }.toDF("source", "budget", "kept_docs", "kept_tokens", "id_sum")
    }),

    // Deterministic split & eval carving: hash-range train/val/test
    // assignment (membership a pure function of the id — stable across
    // runs and re-partitioning) plus a per-source 5-doc holdout of the
    // smallest sample-hashes, pinned by id sums.
    "q71_split_carving" -> ((s, dir) => {
      import graft.pipeline.Mixing
      val docs = table(s, dir, "documents")
      val sp = Mixing.splitAssign(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("source"))
        .agg(
          count(when(col("split") === "train", 1)).as("train_docs"),
          count(when(col("split") === "val", 1)).as("val_docs"),
          count(when(col("split") === "test", 1)).as("test_docs"))
      val ev = Mixing.groupSample(docs, "doc_id", "source", k = 5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("eval_docs"), sum(col("doc_id")).as("eval_id_sum"))
      sp.join(ev, Seq("source"), "left_outer")
        .select(col("source"),
          col("train_docs").cast(DoubleType).as("train_docs"),
          col("val_docs").cast(DoubleType).as("val_docs"),
          col("test_docs").cast(DoubleType).as("test_docs"),
          coalesce(col("eval_docs"), lit(0L)).cast(DoubleType).as("eval_docs"),
          coalesce(col("eval_id_sum"), lit(0L)).cast(DoubleType)
            .as("eval_id_sum"))
        .orderBy(col("source"))
    }),

    // Interpolated (Jelinek-Mercer) LM scoring, lambda = 0.7: the
    // smoothing rung between q58's unigram and q60's bigram models. The
    // 3.405 split threshold sits >= 4.7e-6 from every document and the
    // rounded aggregates >= 0.1 rounding-units from every boundary at all
    // three SFs (measured).
    "q72_interpolated_lm" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val ce = TextAnalysis
        .interpolatedCrossEntropy(docs, "doc_id", "text", lambda = 0.7)
      ce.agg(
        count(lit(1)).cast(DoubleType).as("n_docs"),
        coalesce(sum(col("n_bigrams")), lit(0L)).cast(DoubleType)
          .as("total_bigrams"),
        round(sum(col("nll")), 3).as("sum_nll"),
        round(avg(col("cross_entropy")), 6).as("avg_h"),
        round(min(col("cross_entropy")), 6).as("min_h"),
        round(max(col("cross_entropy")), 6).as("max_h"),
        sum(when(col("cross_entropy") < 3.405, 1L).otherwise(0L))
          .cast(DoubleType).as("docs_low"))
    }),

    // Corpus version diff: "yesterday's snapshot" is simulated
    // deterministically from the same table (docs with id % 7 == 0 absent
    // -> added today; id % 11 == 0 carried an old revision -> changed; one
    // retired synthetic doc -> removed), then diffed against today by
    // 128-bit content hash. Status counts + id sums pin the join exactly.
    "q73_corpus_diff" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val retired = s.range(1).select(
        lit(-1L).as("doc_id"), lit("retired document").as("text"))
      val old = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" OLDREV"))).otherwise(col("text"))
            .as("text"))
        .unionByName(retired)
      Dedup.corpusDiff(old, docs, "doc_id", "text")
        .groupBy(col("status"))
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(col("doc_id")).cast(DoubleType).as("id_sum"))
        .orderBy(col("status"))
    }),

    // Split leakage audit (the GPT-3-style post-hoc check on one's OWN
    // splits): after the deterministic 90/10 hash split, which eval docs
    // share a verbatim 13-gram with the train side — a near-dup pair
    // straddling the split is exactly how eval sets go stale. Probes
    // bounded to eval ids < 300 (the established audit-subset pattern);
    // the train corpus is never shuffled (broadcast probe grams).
    "q74_split_leakage" -> ((s, dir) => {
      import graft.pipeline.Mixing
      val docs = table(s, dir, "documents")
      val split = Mixing.splitAssign(docs, "doc_id",
        Seq("train" -> 0.9, "eval" -> 0.1))
      val train = split.where(col("split") === "train")
        .select(col("doc_id"), col("text"))
      val probes = split
        .where(col("split") === "eval" && col("doc_id") < 300)
        .select(col("doc_id").as("probe_id"), col("text").as("probe"))
      val nProbes = probes.where(org.apache.spark.sql.functions.size(
        TextAnalysis.normalizedTokens(col("probe"))) >= 13).count()
      val r = TextAnalysis
        .contaminationReport(train, "doc_id", "text", probes, "probe_id", "probe")
        .agg(count(lit(1)),
          coalesce(sum(col("matched_pairs")), lit(0L)),
          coalesce(sum(col("probe_id")), lit(0L)))
        .collect().head
      metricRow(s, Seq(
        "eval_probes" -> nProbes.toDouble,
        "leaky_eval_docs" -> r.getLong(0).toDouble,
        "leaked_pairs" -> r.getLong(1).toDouble,
        "leaky_id_sum" -> r.getLong(2).toDouble))
    }),

    // Adjacent-duplicate line collapse (within-doc scraper stutter): line
    // structure via the q54 break-injection, then docs with id % 9 == 0
    // get their first line deterministically DUPLICATED (the q39
    // injection pattern, mirrored in the oracle) so the collapse has
    // pinned work to do. Kept-char total pins the reconstruction.
    "q75_line_collapse" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val lined = regexp_replace(col("text"),
        ParaInjectPattern, ParaInjectReplacement)
      val injected = when(pmod(col("doc_id"), lit(9)) === 0,
        concat(element_at(split(lined, "\n"), 1), lit("\n"), lined))
        .otherwise(lined)
      val removed = TextAnalysis.adjacentDuplicateLineCount(injected)
      val kept = TextAnalysis.collapseAdjacentLines(injected)
      docs.select(removed.as("graft_r"), length(kept).as("graft_k"))
        .agg(
          count(when(col("graft_r") > 0, 1)).cast(DoubleType)
            .as("docs_affected"),
          coalesce(sum(col("graft_r")), lit(0L)).cast(DoubleType)
            .as("lines_removed"),
          coalesce(sum(col("graft_k")), lit(0L)).cast(DoubleType)
            .as("kept_chars"))
    }),

    // IVF-PQ composite ANN (q82) — coarse cells prune, residual PQ codes
    // compress: the fourth index family and the way a 100-TB ANN index
    // is actually built. On THIS corpus (near-random vectors, the worst
    // case for any pruning index) recall >= 0.9 needs probing 14 of 16
    // cells (measured 0.9875/0.975/0.9875); clustered production corpora
    // probe a small fraction. The q45/q80 contract: brute-force ground
    // truth, exact similarities after re-rank, recall flag.
    "q82_ann_ivfpq" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{coalesce => fcoalesce, min => fmin, max => fmax}
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8L)
      val k = 10
      val ivfpq = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k, nlist = 16, nprobe = 14,
          m = 16, ksub = 64, rerank = 120)
        .select("query_id", "neighbor_id").persist()
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k)
        .select("query_id", "neighbor_id").persist()
      val perQuery = ivfpq.groupBy("query_id").agg(count(lit(1)).as("graft_n"))
        .agg(fmin(col("graft_n")), fmax(col("graft_n")), count(lit(1))).collect().head
      val rowsOk = perQuery.getLong(0) == k && perQuery.getLong(1) == k &&
        perQuery.getLong(2) == 8L
      val rec = bf
        .join(ivfpq.withColumn("graft_hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left_outer")
        .agg(count(lit(1)), sum(fcoalesce(col("graft_hit"), lit(0L))),
          sum(col("neighbor_id")))
        .collect().head
      val recall = rec.getLong(1).toDouble / rec.getLong(0)
      ivfpq.unpersist(blocking = false)
      bf.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_bf_rows" -> rec.getLong(0).toDouble,
        "bf_id_sum" -> rec.getLong(2).toDouble,
        "ivfpq_rows_ok" -> flag(rowsOk),
        "ivfpq_recall_ok" -> flag(recall >= 0.9)))
    }),

    // The q70 temperature mixture re-run on LEARNED-tokenizer budgets —
    // the round-11 verdict's "rewire token budgets to accept a tokenizer"
    // ask closed end-to-end with an oracle: per-source budgets ~ sqrt of
    // BPE token totals (the q77 demo vocab), prefix selection by BPE
    // cumulative counts. DuckDB replays the BPE segmentation (q77's
    // recursive chain) into the q70 mixture machinery. Budget floor
    // boundaries sit >= 0.016 from every budget at all three SFs
    // (measured) — 13 orders above sqrt/sum noise; the prefix selection
    // itself is integer-exact.
    "q81_bpe_mixture" -> ((s, dir) => {
      import graft.pipeline.{Bpe, Mixing}
      val docs = table(s, dir, "documents")
      val counter = Bpe.tokenCountCol(Bpe.BpeModel(BpeDemoMerges))
      val budgets = Mixing.temperatureBudgets(docs, "source", "text",
        totalBudget = 10000L, alpha = 0.5, tokenCount = counter)
      val stats = Mixing
        .tokenBudgetSample(docs, "doc_id", "text", "source", budgets,
          tokenCount = counter)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("graft_k"),
          sum(counter(col("text"))).as("graft_t"),
          coalesce(sum(col("doc_id")), lit(0L)).as("graft_i"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      import s.implicits._
      budgets.toSeq.sortBy(_._1).map { case (g, b) =>
        val (k, t, i) = stats.getOrElse(g, (0L, 0L, 0L))
        (g, b.toDouble, k.toDouble, t.toDouble, i.toDouble)
      }.toDF("source", "budget", "kept_docs", "kept_bpe_tokens", "id_sum")
    }),

    // PQ (product-quantization) ANN — the third index family beside LSH
    // (q45) and IVF (q27): 16 subspaces x 64 codes over the 64-dim
    // embeddings, ADC scan over the slim code table, exact re-rank of the
    // top-120 pool. Parameters are sized for THIS corpus — near-random
    // synthetic vectors whose rank-10/rank-100 cosine gaps are tiny, the
    // PQ worst case (measured recall 1.0/1.0/0.9875 at the three SFs; the
    // 8x16/top-40 config a clustered production corpus would use reads
    // 0.6 here). Ground truth and recall flag follow the q45 contract;
    // similarities are exact after re-rank, so only recall (not values)
    // is approximate.
    "q80_ann_pq" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{coalesce => fcoalesce, min => fmin, max => fmax}
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8L)
      val k = 10
      val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k, m = 16, ksub = 64,
          rerank = 120)
        .select("query_id", "neighbor_id").persist()
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k)
        .select("query_id", "neighbor_id").persist()
      val perQuery = pq.groupBy("query_id").agg(count(lit(1)).as("graft_n"))
        .agg(fmin(col("graft_n")), fmax(col("graft_n")), count(lit(1))).collect().head
      val rowsOk = perQuery.getLong(0) == k && perQuery.getLong(1) == k &&
        perQuery.getLong(2) == 8L
      val rec = bf
        .join(pq.withColumn("graft_hit", lit(1L)), Seq("query_id", "neighbor_id"),
          "left_outer")
        .agg(count(lit(1)), sum(fcoalesce(col("graft_hit"), lit(0L))),
          sum(col("neighbor_id")))
        .collect().head
      val recall = rec.getLong(1).toDouble / rec.getLong(0)
      pq.unpersist(blocking = false)
      bf.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_bf_rows" -> rec.getLong(0).toDouble,
        "bf_id_sum" -> rec.getLong(2).toDouble,
        "pq_rows_ok" -> flag(rowsOk),
        "pq_recall_ok" -> flag(recall >= 0.9)))
    }),

    // Domain-level curation (the C4/RefinedWeb per-source triage step):
    // deterministic synthetic URLs from (source, doc_id) — with ports to
    // strip and a sprinkling of unparseable values — host-extracted,
    // aggregated per domain, and policy-blocked. Degradation is INJECTED
    // (the q39/q54 convention): src4/src9 get a fixed boilerplate text on
    // id%3 docs (dup_rate ~0.3 vs 0 elsewhere), src13 gets unique junk
    // (mean quality ~0.61 vs >=0.699 elsewhere); thresholds 0.15/0.66
    // sit >=0.13/0.03 from every domain at all three SFs (measured).
    // src7 is blocked by the explicit list. kept_docs pins the actual
    // LEFT ANTI filter run, not a derivation from the flag.
    "q79_domain_curation" -> ((s, dir) => {
      import graft.pipeline.Domains
      val docs = table(s, dir, "documents")
      val idS = col("doc_id").cast(StringType)
      val injected = docs.select(col("doc_id"), col("source"),
        when(col("source").isin("src4", "src9") &&
            pmod(col("doc_id"), lit(3)) === 0,
          lit("duplicate boilerplate navigation menu copyright footer"))
          .when(col("source") === "src13" && pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("0000 1111 2222 3333 4444 5555 "), idS))
          .otherwise(col("text")).as("text"))
      val urled = injected.withColumn("url",
        when(pmod(col("doc_id"), lit(97)) === 0, lit("not a url"))
          .when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("https://"), col("source"),
              lit(".example.com:8080/p/"), idS))
          .otherwise(concat(lit("https://"), col("source"),
            lit(".example.com/p/"), idS)))
        .withColumn("domain", Domains.urlHost(col("url")))
      // persisted: the policy derivation AND the final join both consume
      // the stats frame — without the cache the corpus groupBy runs twice
      val stats = Domains.domainStats(urled, "domain", "text").persist()
      val blocked = Domains
        .blockedByPolicy(stats, maxDupRate = 0.15, minMeanQuality = 0.66)
        .unionByName {
          import s.implicits._
          Seq("src7.example.com").toDF("domain")
        }
        .distinct()
        .persist()
      val keptPer = Domains.filterBlockedDomains(urled, "domain", blocked)
        .where(col("domain").isNotNull)
        .groupBy(col("domain")).agg(count(lit(1)).as("graft_kept"))
      val out = stats
        .join(blocked.withColumn("graft_blk", lit(1L)), Seq("domain"), "left_outer")
        .join(keptPer, Seq("domain"), "left_outer")
        .select(
          col("domain"),
          col("n_docs").cast(DoubleType).as("n_docs"),
          col("n_tokens").cast(DoubleType).as("n_tokens"),
          col("n_distinct_texts").cast(DoubleType).as("n_distinct_texts"),
          col("low_quality_docs").cast(DoubleType).as("low_quality_docs"),
          round(col("mean_quality"), 6).as("mean_q"),
          round(col("dup_rate"), 6).as("dup_r"),
          coalesce(col("graft_blk"), lit(0L)).cast(DoubleType).as("blocked"),
          coalesce(col("graft_kept"), lit(0L)).cast(DoubleType).as("kept_docs"))
        .orderBy(col("domain"))
      collectReleasing(s, out) {
        blocked.unpersist(blocking = false)
        stats.unpersist(blocking = false)
      }
    }),

    // Interpolated Kneser-Ney bigram LM scoring (the CCNet/KenLM-style
    // rung above q72's Jelinek-Mercer): absolute discount D = 0.75,
    // continuation probabilities from distinct-context counts. Rounded
    // aggregate pins (the q72 convention) + a threshold census at 3.45
    // (nearest doc >= 3.3e-4 away at all three SFs — measured); the
    // DuckDB oracle rebuilds the identical model from pair/head/
    // continuation aggregates.
    "q78_kneser_ney_lm" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val ce = TextAnalysis
        .kneserNeyCrossEntropy(docs, "doc_id", "text", discount = 0.75)
      ce.agg(
        count(lit(1)).cast(DoubleType).as("n_docs"),
        coalesce(sum(col("n_bigrams")), lit(0L)).cast(DoubleType)
          .as("total_bigrams"),
        round(sum(col("nll")), 3).as("sum_nll"),
        round(avg(col("cross_entropy")), 6).as("avg_h"),
        round(min(col("cross_entropy")), 6).as("min_h"),
        round(max(col("cross_entropy")), 6).as("max_h"),
        sum(when(col("cross_entropy") < 3.45, 1L).otherwise(0L))
          .cast(DoubleType).as("docs_low"))
    }),

    // Learned-tokenizer (BPE) token counting: a fixed 12-merge demo vocab
    // (multi-level merges: t+h→th→the, a+r→ar→ark, i+n→in→ine) applied to
    // every document, plus the trainer's FIRST merge learned from the
    // corpus word histogram. The DuckDB oracle replays the identical
    // merge sequence with a recursive per-merge-fixpoint replace chain
    // (equal to rank-priority BPE for well-formed lists — property-pinned
    // in BpeSpec) and re-derives the first merge as the argmax char pair.
    "q77_bpe_tokens" -> ((s, dir) => {
      import graft.pipeline.{Bpe, Mixing}
      val docs = table(s, dir, "documents")
      val model = Bpe.BpeModel(BpeDemoMerges)
      val r = docs
        .select(col("doc_id"),
          Mixing.tokenCountExpr(col("text")).as("graft_w"),
          Bpe.tokenCountCol(model)(col("text")).as("graft_b"))
        .agg(
          coalesce(sum(col("graft_w")), lit(0L)),
          coalesce(sum(col("graft_b")), lit(0L)),
          coalesce(sum(col("doc_id") * col("graft_b")), lit(0L)))
        .collect().head
      val first = graft.pipeline.Bpe.train(docs, "text", numMerges = 1)
        .merges.headOption.map { case (a, b) => s"$a $b" }.getOrElse("")
      import s.implicits._
      Seq((r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, first))
        .toDF("ws_tokens", "bpe_tokens", "bpe_id_weighted", "first_merge")
    }),

    // Incremental FUZZY dedup against persisted MinHash-LSH state — the
    // q69 staging shape, fuzzified: docs < 300 are yesterday's corpus,
    // persisted as the merge of two half-states (band/bucket + signature
    // tables through parquet); today's batch is docs [250, 350) with 8
    // doc-specific junk tokens appended (a light rewrite: shingle Jaccard
    // ~0.78+ to the source for >= 30-token docs, so exact 13-gram matching
    // would miss every one). The batch dedups within itself
    // (exact-verified clusters) and against the state (signature-agreement
    // verified) without rescanning history. The >= 30-token floor keeps
    // every cross-pair >= 4 sigma from the 0.5 threshold (measured: match
    // J >= 0.78, non-match <= 0.06 at all three SFs), so the DuckDB exact
    // replay pins the estimator path value-for-value.
    "q76_incremental_neardup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val old = docs.filter(col("doc_id") < 300).select("doc_id", "text")
      val idS = col("doc_id").cast(StringType)
      val junked = concat(col("text"),
        lit(" zqa"), idS, lit(" zqb"), idS, lit(" zqc"), idS, lit(" zqd"),
        idS, lit(" zqe"), idS, lit(" zqf"), idS, lit(" zqg"), idS,
        lit(" zqh"), idS)
      val batch = docs
        .filter(col("doc_id") >= 250 && col("doc_id") < 350 &&
          col("text").isNotNull)
        .filter(org.apache.spark.sql.functions.size(
          TextAnalysis.normalizedTokens(col("text"))) >= 30)
        .select(col("doc_id"), junked.as("text"))
      withTempDir("graft_lshstate") { statePath =>
        // the full state algebra: two half-states merged, persisted,
        // reloaded — exactly what a daily pipeline folding batches does
        val half0 = Dedup.lshState(old.filter(col("doc_id") < 150),
          "doc_id", "text", bands = 32)
        val half1 = Dedup.lshState(old.filter(col("doc_id") >= 150),
          "doc_id", "text", bands = 32)
        Dedup.writeLshState(half0.merge(half1), statePath)
        val state = Dedup.readLshState(s, statePath)
        val surv = Dedup.nearDedupIncremental(batch, "doc_id", "text",
          state, threshold = 0.5)
        val r = surv.agg(count(lit(1)),
          coalesce(sum(col("doc_id")), lit(0L))).collect().head
        metricRow(s, Seq(
          "n_batch" -> batch.count().toDouble,
          "survivors" -> r.getLong(0).toDouble,
          "survivor_id_sum" -> r.getLong(1).toDouble,
          "state_docs" -> state.signatures.count().toDouble))
      }
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per source,
    // rank documents by unigram-LM cross-entropy and ntile into
    // head/middle/tail terciles — the step CCNet runs per language before
    // keeping head+middle. The rank key is (round(ce, 6), doc_id) in BOTH
    // engines, so a replay disagrees only if a document's cross-entropy
    // rounds differently at the 6th decimal; measured at all three SFs the
    // closest any document's ce sits to a 1e-6 rounding boundary is
    // 7.7e-11 (sf0.1; 5.1e-10 / 7.5e-10 at the smaller SFs), while the
    // measured max cross-engine per-doc ce difference is 2.2e-15 — four
    // orders of headroom.
    // Value-pinned per (source, bucket) by integers (docs, id_sum) plus
    // the rounded bucket mean entropy.
    "q83_perplexity_buckets" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val b = TextAnalysis.perplexityBuckets(
        docs, "doc_id", "text", "source", nBuckets = 3)
      b.groupBy(col("source"), col("bucket"))
        .agg(
          count(lit(1)).cast(DoubleType).as("docs"),
          coalesce(sum(col("doc_id")), lit(0L)).cast(DoubleType)
            .as("id_sum"),
          round(avg(col("cross_entropy")), 6).as("avg_h"))
        .withColumn("bucket", col("bucket").cast(DoubleType))
    }),

    // Length-grouped batch shaping (fairseq/T5-style): equal-frequency
    // token-length octiles via the distributed exact ntile (range
    // repartition + prefix offsets — the ranking never sorts the corpus
    // in one task), then the per-bucket padding audit: a loader padding
    // each bucket-batch to its longest member spends max_len*docs -
    // sum_tokens pad tokens. Every pinned column is an exact integer;
    // the (n_tokens, doc_id) rank key is integer-exact in both engines.
    "q84_length_buckets" -> ((s, dir) => {
      import graft.pipeline.Packing
      val docs = table(s, dir, "documents")
      val bk = Packing.lengthBuckets(docs, "doc_id", "text", nBuckets = 8)
      Packing.paddingWasteStats(bk)
        .select(
          col("bucket").cast(DoubleType).as("bucket"),
          col("docs").cast(DoubleType).as("docs"),
          col("sum_tokens").cast(DoubleType).as("sum_tokens"),
          col("max_len").cast(DoubleType).as("max_len"),
          col("padding_waste").cast(DoubleType).as("padding_waste"))
    }),

    // URL-level dedup (the CC-index/RefinedWeb re-crawl collapse):
    // deterministic messy URL variants from doc_id — five ids per page in
    // five disguises (www + uppercase scheme + default port + trailing
    // slash + userinfo + tracking params + fragment + unsorted content
    // params), canonicalized and deduped to the min-id survivor per
    // canonical URL; doc_id%97 rows are unparseable and ALL kept. The
    // DuckDB oracle replays the full normalization generically (same
    // regexes, same tracking-param list, same sort) — survivor id-sum,
    // canonical-length sum, and the verbatim max canonical string pin
    // every normalization step.
    "q85_url_dedup" -> ((s, dir) => {
      import graft.pipeline.Domains
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val dd = Domains.dedupByCanonicalUrl(
        docs.select(col("doc_id"), disguisedUrl.as("url")), "url", "doc_id")
      dd.agg(
        count(lit(1)).cast(DoubleType).as("n_out"),
        count(when(col("canonical_url").isNull, 1)).cast(DoubleType)
          .as("n_null_key"),
        countDistinct(col("canonical_url")).cast(DoubleType).as("n_groups"),
        sum(col("doc_id")).cast(DoubleType).as("survivor_id_sum"),
        coalesce(sum(length(col("canonical_url"))), lit(0L)).cast(DoubleType)
          .as("canon_len_sum"),
        max(col("canonical_url")).as("max_canon"))
    }),

    // Model-based quality filtering (the GPT-3/LLaMA/DCLM classifier
    // step) as closed-form multinomial Naive Bayes: a 20% seed set
    // (doc_id%10<2) is labeled keep/toss by doc_id parity with a 2-token
    // class marker repeated 3x appended to the text (the q39/q79
    // injected-signal convention); the model scores the WHOLE corpus
    // (every doc carries its parity marker). Pins: per-predicted-class
    // doc counts / id sums (exact integers), rounded mean posterior and
    // margin, a zero flipped-prediction census, and a margin_ok flag.
    "q86_nb_classifier" -> ((s, dir) => {
      import graft.pipeline.Classify
      import org.apache.spark.sql.functions.{concat_ws, min => fmin}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val isKeep = pmod(col("doc_id"), lit(2)) === 0
      val marker = when(isKeep,
        lit("qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb"))
        .otherwise(lit("qtossa qtossb qtossa qtossb qtossa qtossb"))
      val marked = docs.select(
        col("doc_id"),
        concat_ws(" ", col("text"), marker).as("text"),
        when(isKeep, lit("keep")).otherwise(lit("toss")).as("graft_lbl"))
      val train = marked.where(pmod(col("doc_id"), lit(10)) < 2)
        .select(col("doc_id"), col("text"), col("graft_lbl").as("label"))
      val model = Classify.trainNaiveBayes(train, "doc_id", "text", "label")
      val out = Classify.scoreNaiveBayes(marked, "doc_id", "text", model)
        .join(marked.select(col("doc_id"), col("graft_lbl")), Seq("doc_id"))
        .groupBy(col("predicted"))
        .agg(
          count(lit(1)).cast(DoubleType).as("docs"),
          sum(col("doc_id")).cast(DoubleType).as("id_sum"),
          round(avg(col("score")), 6).as("avg_score"),
          round(avg(col("margin")), 6).as("avg_margin"),
          count(when(col("predicted") =!= col("graft_lbl"), 1))
            .cast(DoubleType).as("flipped"),
          // measured min margin ~25.8 at sf0.01 (similar at the other
          // SFs) — the 10.0 bar is >15 log-units from every doc while
          // cross-engine score noise is ~1e-12
          when(fmin(col("margin")) >= 10.0, lit(1.0)).otherwise(lit(0.0))
            .as("margin_ok"))
      collectReleasing(s, out)(model.release())
    }),

    // HTML → text extraction (the raw-crawl step before every text
    // operator; C4's remove-markup stage): each document wrapped in a
    // deterministic HTML shell — title, style + script blocks with
    // tag-like content inside, a comment, attributes with quotes, and
    // the five supported entities — then extracted. Pins: exact length
    // and token sums of the extracted text (every regexp in the chain
    // shows up in those integers), zero script/style content leaks, the
    // entity-unescape census, and a verbatim 60-char sample of the
    // minimum extracted string.
    "q87_html_extract" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{size => fsize, substring, trim => ftrim, min => fmin}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val idS = col("doc_id").cast(StringType)
      val html = concat(
        lit("<html><head><title>D"), idS,
        lit("</title><style type=\"text/css\">p { color: #333; }</style>" +
          "<script>if (a < b && c > d) { run(); }</script></head>" +
          "<body><!-- nav --><h1 class=\"hd\">Doc "), idS,
        lit("</h1><p>"), coalesce(col("text"), lit("")),
        lit("</p><br/><div>&amp; entities &lt;kept&gt; &quot;q&quot; " +
          "&#39;s &nbsp;end</div></body></html>"))
      docs.select(TextAnalysis.htmlToText(html).as("t"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n_docs"),
          sum(length(col("t"))).cast(DoubleType).as("len_sum"),
          sum(fsize(TextAnalysis.tokens(col("t")))).cast(DoubleType)
            .as("tok_sum"),
          count(when(col("t").contains("<kept>"), 1)).cast(DoubleType)
            .as("unescaped_docs"),
          count(when(col("t").contains("run();"), 1)).cast(DoubleType)
            .as("script_leak_docs"),
          count(when(col("t").contains("#333"), 1)).cast(DoubleType)
            .as("style_leak_docs"),
          substring(fmin(col("t")), 1, 60).as("sample_min"))
    }),

    // Corpus novelty curve: per source, distinct 13-grams and the subset
    // first seen there under ascending source order — the
    // FineWeb/RefinedWeb "is the next dump worth ingesting" metric. All
    // pins are exact integers (gram identity by the 64-bit token-hash
    // shingles, replayed as string grams in DuckDB — the q66/q67
    // convention); novelty is a quotient of those integers, so both
    // engines produce the bit-identical double.
    "q88_novelty_curve" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextAnalysis.noveltyCurve(docs, "source", "text", n = 13)
        .select(
          col("source"),
          col("distinct_grams").cast(DoubleType).as("distinct_grams"),
          col("novel_grams").cast(DoubleType).as("novel_grams"),
          col("novelty"))
    }),

    // Cross-document boilerplate removal (the RefinedWeb/CCNet repeated
    // header/footer rule): a per-source footer line injected into 2/3 of
    // each source's docs (frac 0.67 >= the 0.4 bar -> stripped
    // everywhere) and a rare per-doc notice into doc_id%31 docs (frac
    // ~0.03 -> kept); null texts pass through. Pins per source: exact
    // removed-line totals, cleaned-length and token sums, touched-doc
    // census.
    "q89_boilerplate_lines" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{size => fsize}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val idS = col("doc_id").cast(StringType)
      val t1 = when(pmod(col("doc_id"), lit(3)) =!= 2,
        concat(col("text"), lit("\nFOOTER "), col("source"),
          lit(" all rights reserved"))).otherwise(col("text"))
      val t2 = when(pmod(col("doc_id"), lit(31)) === 0,
        concat(t1, lit("\nrare notice "), idS)).otherwise(t1)
      val injected = docs.select(col("doc_id"), col("source"), t2.as("text"))
      TextAnalysis
        .removeBoilerplateLines(injected, "doc_id", "text", "source",
          maxDocFrac = 0.4, minDocs = 5)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n_docs"),
          sum(col("removed_lines")).cast(DoubleType).as("removed_sum"),
          coalesce(sum(length(col("text"))), lit(0L)).cast(DoubleType)
            .as("len_sum"),
          coalesce(sum(fsize(TextAnalysis.tokens(col("text")))), lit(0L))
            .cast(DoubleType).as("tok_sum"),
          count(when(col("removed_lines") > 0, 1)).cast(DoubleType)
            .as("docs_touched"))
    }),

    // Corpus distribution drift between two snapshots: even-id docs are
    // the "old" crawl, odd-id docs with an injected drift token are the
    // "new" one; Laplace-smoothed joint-vocab unigram KL/JS/TVD. The
    // oracle mirrors the engine's exact operation order (ln(p/((p+q)/2))
    // for the JS halves); rounded pins with measured boundary headroom.
    "q90_corpus_drift" -> ((s, dir) => {
      import org.apache.spark.sql.functions.concat_ws
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val oldC = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val newC = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"),
          concat_ws(" ", col("text"), lit("drifttoken drifttoken"))
            .as("text"))
      TextAnalysis.corpusDrift(oldC, newC, "doc_id", "text")
        .select(
          col("v_joint").cast(DoubleType).as("v_joint"),
          col("tokens_old").cast(DoubleType).as("tokens_old"),
          col("tokens_new").cast(DoubleType).as("tokens_new"),
          round(col("kl"), 6).as("kl"),
          round(col("js"), 6).as("js"),
          round(col("tvd"), 6).as("tvd"))
    }),

    // Checksum-verified card detection (the PII family upgraded from
    // pattern-match to Luhn validation): a deterministic pseudo-random
    // 16-digit run injected into doc_id%4 docs (valid ~1/10 by chance),
    // the classic Luhn-valid 4111111111111111 into doc_id%7 docs, and a
    // SPACED copy of it into doc_id%11 docs (the separator-tolerant
    // extraction path); each injection is prefixed by a word so
    // adjacent numbers never merge into one maximal run. Every pin is
    // an exact integer; the oracle replays candidate extraction
    // (separator strip included) and the checksum digit-for-digit.
    "q91_cc_luhn" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{concat_ws, lpad}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val pseudo = lpad(
        (((col("doc_id") + 7) * lit(2654435761L)) %
          lit(10000000000000000L)).cast(StringType), 16, "0")
      val injected = docs.select(col("doc_id"),
        concat_ws(" ", col("text"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("pan "), pseudo)),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit("visa 4111111111111111")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            lit("spaced 4111 1111 1111 1111"))).as("text"))
      val f = TextAnalysis.ccFindings(injected, "doc_id", "text").persist()
      val a = f.agg(
        countDistinct(col("doc_id")), count(lit(1)),
        count(when(col("luhn_ok"), 1)),
        count(when(!col("luhn_ok"), 1))).collect().head
      val v = f.where(col("luhn_ok")).select(col("doc_id")).distinct()
        .agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)))
        .collect().head
      f.unpersist(blocking = false)
      metricRow(s, Seq(
        "docs_with_candidates" -> a.getLong(0).toDouble,
        "n_candidates" -> a.getLong(1).toDouble,
        "n_valid" -> a.getLong(2).toDouble,
        "n_invalid" -> a.getLong(3).toDouble,
        "docs_with_valid" -> v.getLong(0).toDouble,
        "valid_id_sum" -> v.getLong(1).toDouble))
    }),

    // Deterministic shard assignment (the output-writer stage): shard =
    // md5-prefix of (seed, id) mod 16 — a pure function any engine
    // replays bit-for-bit, so loaders can address the corpus without a
    // manifest. Per-shard doc/token/id-sum pins are exact integers; the
    // md5 spread makes sizes concentrate around n/16 without striping.
    "q92_shard_assignment" -> ((s, dir) => {
      import graft.pipeline.Mixing
      val docs = table(s, dir, "documents")
      Mixing.shardStats(docs, "doc_id", "text", nShards = 16)
        .select(
          col("shard").cast(DoubleType).as("shard"),
          col("n_docs").cast(DoubleType).as("n_docs"),
          col("n_tokens").cast(DoubleType).as("n_tokens"),
          col("id_sum").cast(DoubleType).as("id_sum"))
    }),

    // Sharded NB training via the mergeable count-state algebra (the
    // deequ incremental-state convention applied to the classifier): a
    // 40% seed set trained as TWO half-states, merged (integer-exact
    // monoid), model derived from the merge, corpus scored. The DuckDB
    // oracle trains on the WHOLE seed in one pass — matching outputs
    // prove merge(train(A), train(B)) == train(A ∪ B) through the
    // oracle; a seed-sized in-query census additionally pins the merged
    // counts against the full-seed state row-for-row.
    "q93_nb_sharded_train" -> ((s, dir) => {
      import graft.pipeline.Classify
      import org.apache.spark.sql.functions.{concat_ws, min => fmin}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val isKeep = pmod(col("doc_id"), lit(2)) === 0
      val marker = when(isKeep,
        lit("qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb"))
        .otherwise(lit("qtossa qtossb qtossa qtossb qtossa qtossb"))
      val marked = docs.select(
        col("doc_id"),
        concat_ws(" ", col("text"), marker).as("text"),
        when(isKeep, lit("keep")).otherwise(lit("toss")).as("label"))
      val seed = marked.where(pmod(col("doc_id"), lit(10)) < 4)
      val halfA = seed.where(pmod(col("doc_id"), lit(4)) < 2)
      val halfB = seed.where(pmod(col("doc_id"), lit(4)) >= 2)
      // the production staging shape (q43/q76 convention): each half's
      // count state goes THROUGH parquet — day 1 writes its state, day 2
      // reads it back, merges its own, and re-derives the model from
      // counts; the oracle's full-seed train matching proves the whole
      // persist→read→merge→derive chain, not just the in-memory monoid
      withTempDir("graft_nbstate") { stateDir =>
      Classify.writeCountState(
        Classify.countState(halfA, "doc_id", "text", "label"),
        s"$stateDir/day1")
      val merged = Classify.mergeCounts(
        Classify.readCountState(s, s"$stateDir/day1"),
        Classify.countState(halfB, "doc_id", "text", "label"))
      val full = Classify.countState(seed, "doc_id", "text", "label")
      val mismatches = merged.termCounts
        .join(full.termCounts.withColumnRenamed("cnt", "graft_fc"),
          Seq("label", "term"), "full_outer")
        .where(!(col("cnt") <=> col("graft_fc"))).count()
      val model = Classify.modelFromCounts(merged)
      val out = Classify.scoreNaiveBayes(marked, "doc_id", "text", model)
        .groupBy(col("predicted"))
        .agg(
          count(lit(1)).cast(DoubleType).as("docs"),
          sum(col("doc_id")).cast(DoubleType).as("id_sum"),
          round(avg(col("score")), 6).as("avg_score"),
          // measured min margin 31.2-47.3 at the three SFs; the 8.0 bar
          // leaves >23 log-units vs ~1e-12 cross-engine noise
          when(fmin(col("margin")) >= 8.0, lit(1.0)).otherwise(lit(0.0))
            .as("margin_ok"))
        .withColumn("merge_exact",
          lit(if (mismatches == 0L) 1.0 else 0.0))
      collectReleasing(s, out)(model.release())
      }
    }),

    // SentencePiece-style unigram tokenizer (Viterbi apply; Kudo 2018)
    // under the fixed demo vocabulary: per distinct corpus word, the
    // max-probability segmentation's piece count and exact DP score.
    // The DuckDB oracle replays the dynamic program as GENERATED
    // position-step CTEs (argmax per position by score DESC, last-piece
    // length ASC — the engine's strictly-greater/shortest-tie rule);
    // all demo log-probs are multiples of 0.25, so scores are exact
    // doubles and the tie words (row, part) pin the rule precisely.
    "q94_unigram_tokenizer" -> ((s, dir) => {
      import graft.pipeline.Unigram
      val model = Unigram.UnigramModel(UnigramDemoPieces.toMap, UnigramDemoUnk)
      val docs = table(s, dir, "documents")
      val words = TextAnalysis.termFrequencies(docs, "doc_id", "text")
        .groupBy(col("term")).agg(sum(col("tf")).as("graft_tf"))
        .persist()
      val np = org.apache.spark.sql.functions.udf(
        (w: String) => model.encodeWord(w).length)
      val sc = org.apache.spark.sql.functions.udf(
        (w: String) => model.scoreWord(w))
      val inScope = words.where(length(col("term")) <= 12)
      val a = inScope.agg(
        count(lit(1)),
        sum(col("graft_tf") * np(col("term"))),
        sum(np(col("term"))),
        // coalesced like the keyed columns below: if no word were in
        // scope, a bare max() returns null and getInt would NPE
        coalesce(max(np(col("term"))), lit(0)),
        round(sum(sc(col("term"))), 6),
        coalesce(max(when(col("term") === "customer", np(col("term")))), lit(0)),
        coalesce(max(when(col("term") === "row", np(col("term")))), lit(0)),
        coalesce(max(when(col("term") === "part", np(col("term")))), lit(0)))
        .collect().head
      val nLong = words.where(length(col("term")) > 12).count()
      words.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_words" -> a.getLong(0).toDouble,
        "corpus_pieces" -> a.getLong(1).toDouble,
        "word_piece_sum" -> a.getLong(2).toDouble,
        "max_pieces" -> a.getInt(3).toDouble,
        "score_sum" -> a.getDouble(4),
        "customer_pieces" -> a.getInt(5).toDouble,
        "row_pieces" -> a.getInt(6).toDouble,
        "part_pieces" -> a.getInt(7).toDouble,
        "n_long_words" -> nLong.toDouble))
    }),

    // The unigram tokenizer rewire closed end-to-end (the q81 shape with
    // the SECOND learned tokenizer): q70's temperature-mixture machinery
    // fed by Unigram.tokenCountCol under the demo vocab — per-source
    // budgets ~ sqrt of unigram-piece totals, hash-prefix selection by
    // cumulative piece counts. The oracle composes the q94 Viterbi-DP
    // chain into the q70 replay (shared generator — the two cannot
    // drift); text is lowercased on BOTH sides (the q94 convention).
    "q95_unigram_mixture" -> ((s, dir) => {
      import graft.pipeline.{Mixing, Unigram}
      import org.apache.spark.sql.functions.lower
      val model = Unigram.UnigramModel(UnigramDemoPieces.toMap, UnigramDemoUnk)
      val docs = table(s, dir, "documents")
      val base = Unigram.tokenCountCol(model)
      val counter: Column => Column = c => base(lower(c))
      val budgets = Mixing.temperatureBudgets(docs, "source", "text",
        totalBudget = 10000L, alpha = 0.5, tokenCount = counter)
      val stats = Mixing
        .tokenBudgetSample(docs, "doc_id", "text", "source", budgets,
          tokenCount = counter)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("graft_k"),
          sum(counter(col("text"))).as("graft_t"),
          coalesce(sum(col("doc_id")), lit(0L)).as("graft_i"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      import s.implicits._
      budgets.toSeq.sortBy(_._1).map { case (g, b) =>
        val (k, t, i) = stats.getOrElse(g, (0L, 0L, 0L))
        (g, b.toDouble, k.toDouble, t.toDouble, i.toDouble)
      }.toDF("source", "budget", "kept_docs", "kept_unigram_tokens",
        "id_sum")
    }),

    // End-to-end curation v2: the session's operators composed as one
    // pipeline; see curationV2.
    "q96_curation_v2" -> (curationV2 _),

    // fastText-style char-n-gram language ID (Joulin et al. 2016), the
    // q86 NB machinery with the char-gram featurizer: every document
    // carries one held-out sentence of one of the eight seeded languages
    // (chosen by doc_id % 8, NONE of the sentences in the training
    // seed), the model trains on the built-in seed, and the whole
    // corpus is scored by broadcast-model join. Pins per predicted
    // language: exact doc and id-sum census (a single flipped
    // prediction moves both), the flipped count itself (0 by
    // construction — the spec pins held-out accuracy too), the rounded
    // mean log-posterior margin, and a min-margin confidence flag.
    "q97_langid_nb" -> ((s, dir) => {
      import graft.pipeline.LangId
      import org.apache.spark.sql.functions.{min => fmin}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val (textCase, langCase) = langIdFixtureCols
      val fix = docs.select(col("doc_id"), textCase.as("text"),
        langCase.as("graft_exp"))
      // session-cached driver-local training — the seed is a constant
      val model = LangId.defaultModel(s)
      val out = LangId.scoreLanguages(fix, "doc_id", "text", model)
        .join(fix.select(col("doc_id"), col("graft_exp")), Seq("doc_id"))
        .groupBy(col("predicted"))
        .agg(
          count(lit(1)).cast(DoubleType).as("docs"),
          sum(col("doc_id")).cast(DoubleType).as("id_sum"),
          count(when(col("predicted") =!= col("graft_exp"), 1))
            .cast(DoubleType).as("flipped"),
          round(avg(col("margin")), 6).as("avg_margin"),
          // measured min margin ~9.9 (es over pt at sf0.001) — the 3.0
          // bar keeps >6 log-units of headroom while cross-engine score
          // noise is ~1e-12
          when(fmin(col("margin")) >= 3.0, lit(1.0)).otherwise(lit(0.0))
            .as("margin_ok"))
      // no release: the default model is session-shared
      collectReleasing(s, out)(())
    }),

    // Interpolated Kneser-Ney TRIGRAM LM (the rung above q78's bigram):
    // the generic strict suffix-type recursion at order 3 — same
    // absolute discount D=0.75 at both backoff levels, lower-order
    // continuation counts from distinct SUFFIX types (the Chen & Goodman
    // chain; the base distribution from 2-suffix types). Scored through
    // the unified lmCrossEntropy(order = 3) entry point. Pins: doc
    // census, conserved trigram total, rounded nll sum and per-doc
    // entropy extremes, and a threshold census at 3.0 (measured
    // boundary distance >= 5.5e-4 at all three SFs vs ~1e-12
    // cross-engine noise).
    "q98_kneser_ney_trigram" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val ce = TextAnalysis.lmCrossEntropy(docs, "doc_id", "text",
        order = 3, smoothing = TextAnalysis.LmSmoothing.KneserNey(0.75))
      ce.agg(
        count(lit(1)).cast(DoubleType).as("n_docs"),
        coalesce(sum(col("n_trigrams")), lit(0L)).cast(DoubleType)
          .as("total_trigrams"),
        round(sum(col("nll")), 3).as("sum_nll"),
        round(avg(col("cross_entropy")), 6).as("avg_h"),
        round(min(col("cross_entropy")), 6).as("min_h"),
        round(max(col("cross_entropy")), 6).as("max_h"),
        sum(when(col("cross_entropy") < 3.0, 1L).otherwise(0L))
          .cast(DoubleType).as("docs_low"))
    }),

    // The LID rewire the r12 verdict asked for, closed end to end: the
    // trained char-n-gram classifier's PREDICTION (not a marker
    // heuristic, not metadata) is the grouping key for the q70
    // temperature-mixture machinery — per-LANGUAGE budgets ~ sqrt of
    // token totals, hash-prefix selection by cumulative token counts.
    // Corpus = the q97 held-out fixture; the oracle replays the NB model
    // on the 8 distinct fixture texts (keyed by doc_id % 8 — every doc
    // of a class carries the same text, so scoring the distinct texts IS
    // scoring the corpus) and feeds the predicted labels into the exact
    // q70 budget/selection replay.
    "q99_langid_mixture" -> ((s, dir) => {
      import graft.pipeline.{LangId, Mixing}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val (textCase, _) = langIdFixtureCols
      val fix = docs.select(col("doc_id"), textCase.as("text"))
      // session-cached driver-local training — the seed is a constant
      val model = LangId.defaultModel(s)
      val corpus = fix.join(
        LangId.scoreLanguages(fix, "doc_id", "text", model)
          .select(col("doc_id"), col("predicted").as("lang")),
        Seq("doc_id")).persist()
      val budgets = Mixing.temperatureBudgets(corpus, "lang", "text",
        totalBudget = 10000L, alpha = 0.5)
      val stats = Mixing
        .tokenBudgetSample(corpus, "doc_id", "text", "lang", budgets)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("graft_k"),
          sum(Mixing.tokenCountExpr(col("text"))).as("graft_t"),
          coalesce(sum(col("doc_id")), lit(0L)).as("graft_i"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      corpus.unpersist(blocking = false)
      // no release: the default model is session-shared
      import s.implicits._
      budgets.toSeq.sortBy(_._1).map { case (g, b) =>
        val (k, t, i) = stats.getOrElse(g, (0L, 0L, 0L))
        (g, b.toDouble, k.toDouble, t.toDouble, i.toDouble)
      }.toDF("lang", "budget", "kept_docs", "kept_tokens", "id_sum")
    }),

    // CCNet perplexity bucketing on the ACTUAL CCNet-style scorer: the
    // q83 machinery (distributed exact ntile per source) ranked by the
    // trigram Kneser-Ney cross-entropy (q98) instead of the unigram
    // model — the two new-rung pieces composed. Documents with < 3
    // tokens have no trigram and are absent from the ranking in both
    // engines. Rank key (round(ce, 6), doc_id), the q83 convention.
    "q100_trigram_perplexity_buckets" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val b = TextAnalysis.perplexityBuckets(
        docs, "doc_id", "text", "source", nBuckets = 3,
        order = 3, smoothing = TextAnalysis.LmSmoothing.KneserNey(0.75))
      b.groupBy(col("source"), col("bucket"))
        .agg(
          count(lit(1)).cast(DoubleType).as("docs"),
          coalesce(sum(col("doc_id")), lit(0L)).cast(DoubleType)
            .as("id_sum"),
          round(avg(col("cross_entropy")), 6).as("avg_h"))
        .withColumn("bucket", col("bucket").cast(DoubleType))
    }),

    // Order-5 interpolated Kneser-Ney — the ACTUAL KenLM/CCNet scorer
    // order, via the generic strict suffix-type recursion
    // (kneserNeyNgramCrossEntropy; spec-pinned against an independent
    // in-memory reference at order 4 and against the bigram model at
    // order 2). Same pin structure as q98; threshold census at 1.0
    // (measured boundary distance >= 4.9e-3 at all three SFs vs ~1e-12
    // cross-engine noise).
    "q101_kneser_ney_5gram" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val ce = TextAnalysis.lmCrossEntropy(docs, "doc_id", "text",
        order = 5, smoothing = TextAnalysis.LmSmoothing.KneserNey(0.75))
      ce.agg(
        count(lit(1)).cast(DoubleType).as("n_docs"),
        coalesce(sum(col("n_ngrams")), lit(0L)).cast(DoubleType)
          .as("total_5grams"),
        round(sum(col("nll")), 3).as("sum_nll"),
        round(avg(col("cross_entropy")), 6).as("avg_h"),
        round(min(col("cross_entropy")), 6).as("min_h"),
        round(max(col("cross_entropy")), 6).as("max_h"),
        sum(when(col("cross_entropy") < 1.0, 1L).otherwise(0L))
          .cast(DoubleType).as("docs_low"))
    }),

    // q102: distributed k-means (Lloyd) over the embeddings table —
    // k = 4 cells, 3 iterations from the 4 lowest-vec_id embeddings, on
    // the 1/1000 INTEGER GRID (Clustering.lloydQuantized): vectors snap
    // to vq = floor(x*1000 + 0.5), centroids live at scale 1e6 as
    // floor-division exact integers, assignment is the exact Long argmax
    // of 2M·(vq·cq) − |cq|² (ties to the higher cell; empty cells
    // carry). EVERY hashed value — per-cell sizes, vec_id sums, the
    // exact integer inertia numerator Σ|M·vq − cq|², majority label with
    // count (ties cnt DESC, label ASC) — is the result of pure 64-bit
    // integer arithmetic on both engines, so no oracle-engine version
    // can evaluate a decision differently (the r13-r16 lesson: rounded
    // DOUBLE trajectories are discontinuous in last-ulp library noise;
    // integer trajectories have no boundaries at all).
    "q102_kmeans" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val init = Clustering.initMinIdQuantized(emb, "vec_id", "embedding", 4)
      val model = Clustering.lloydQuantized(emb, "embedding", init,
        iterations = 3)
      val assigned = Clustering.assignQuantized(
        emb.where(col("embedding").isNotNull), "embedding", model)
      val perCell = assigned
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          sum(col("vec_id")).as("id_sum"),
          sum(col("dist2num")).as("inertia_num"))
      val labTop = assigned.groupBy(col("cell"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("cell"))
        .agg(org.apache.spark.sql.functions.max(
          struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("cell"), (-col("m.nl")).as("top_label"),
          col("m.cnt").as("top_label_n"))
      perCell.join(labTop, Seq("cell")).orderBy(col("cell"))
    }),

    // q103: embedding-space decontamination — the semantic sibling of the
    // q49 13-gram text decontamination, on the 1/1000 INTEGER GRID
    // (Similarity.decontaminateByEmbeddingGrid). Probe (eval) set =
    // vec_id % 29 rows, broadcast into the scan as literals; corpus =
    // the rest. Contamination is the exact cross-multiplied-squares
    // test 400·dq² >= 49·|vq|²·|pq|² (tau = 0.35, tau² = 49/400
    // exactly); probe ranking is the exact integer key
    // sign(dq)·floorDiv(dq²·1000, |pq|²), ties to the higher probe id.
    // Every hashed value — per-probe row counts, contaminated counts,
    // id sums, AND the summed ranking key — is pure 64-bit integer
    // arithmetic on both engines (see the q102 note: integer
    // trajectories have no decision boundaries an engine version can
    // sit on either side of).
    "q103_embedding_decontam" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val probes = Similarity.quantizeProbes(Similarity.collectProbes(
        emb.where(pmod(col("vec_id"), lit(29)) === 0), "vec_id", "embedding"))
      val corpus = emb.where(
        pmod(col("vec_id"), lit(29)) =!= 0 && col("embedding").isNotNull)
      Similarity
        .decontaminateByEmbeddingGrid(corpus, "vec_id", "embedding", probes,
          tau2Num = 49L, tau2Den = 400L)
        // zero-grid-norm rows (n2v = 0) are invalid on the engine side
        // (null best_probe) and excluded from the oracle's vn CTE via
        // HAVING n2v > 0 — drop them HERE too so both sides agree even
        // if a future embeddings generation contains a sub-half-grid
        // vector (today's tables have none)
        .where(col("best_probe").isNotNull)
        .groupBy(col("best_probe"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contam"),
          coalesce(sum(when(col("contaminated"), col("vec_id"))), lit(0L))
            .as("contam_id_sum"),
          sum(col("best_key")).as("key_sum"))
        .orderBy(col("best_probe"))
    }),

    // q104: FUZZY paragraph dedup (q54's near-duplicate sibling) over the
    // same injected-break corpus. The full-corpus engine pass runs the
    // production path (capped LSH, CC election); SQL pins what is exactly
    // replayable — doc/paragraph censuses and the exact-dedup removal —
    // plus invariants of the fuzzy result: fuzzy removal ⊇ exact removal
    // (identical paragraphs share every band; the max exact-dup group is
    // 55 at sf0.1, far under the 1000 cap, so candidacy is guaranteed),
    // and on an uncapped doc_id<60 audit subset the exact-Jaccard pair
    // census with identity-pair recall == 1 (identical shingle sets ⇒
    // identical signatures ⇒ same buckets) and measured >= 0.75 recall on
    // the J>=0.5 set (16-band LSH at J≈0.5 is probabilistic by design;
    // the hash family is fixed, so the flag is deterministic per corpus).
    "q104_fuzzy_para_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val paraDocs = docs.select(col("doc_id"),
        regexp_replace(col("text"), ParaInjectPattern, ParaInjectReplacement)
          .as("text"))
      // ONE tokenize+hash scan for everything (r17): the occurrence and
      // signature frames are computed once, persisted, and shared by the
      // engine pass, the exact-dedup census, AND the doc_id<60 audit
      // (which previously re-tokenized its subset from the raw text)
      val occ = Dedup.paragraphOccurrences(paraDocs, "doc_id", "text")
        .persist()
      val sigsFull = Dedup.paragraphSignatureFrame(occ).persist()
      val fuzzy = Dedup.nearDupParagraphsFromSignatures(
        paraDocs, "doc_id", occ, sigsFull, threshold = 0.5)
      val g = fuzzy.agg(
        count(lit(1)),
        coalesce(sum(col("n_paras")), lit(0L)),
        coalesce(sum(col("n_removed")), lit(0L))).collect().head
      val (nDocs, totalParas, fuzzyRemoved) =
        (g.getLong(0), g.getLong(1), g.getLong(2))
      val distinctParas = occ
        .agg(countDistinct(col("graft_para"))).collect().head.getLong(0)
      val exactRemoved = totalParas - distinctParas

      // audit subset = the SHARED signature frame filtered by packed id
      val sigs = sigsFull.where(col("graft_id") < (60L << 20))
      val exact = Dedup.exactJaccardPairsFromSignatures(sigs, threshold = 0.5)
        .withColumn("graft_ident", when(col("jaccard") >= 1.0, 1L))
        .select(col("id_a"), col("id_b"), lit(1L).as("graft_e"),
          col("graft_ident"))
      val cand = Dedup.nearDuplicatePairsFromSignatures(sigs, threshold = 0.5,
          numHashes = 64, bands = 16, maxBucketSize = Int.MaxValue)
        .select("id_a", "id_b").distinct().withColumn("graft_mh", lit(1L))
      val a = exact.join(cand, Seq("id_a", "id_b"), "left_outer").agg(
        sum(col("graft_e")).as("n_exact"),
        sum(col("graft_ident")).as("n_ident"),
        sum(when(col("graft_mh").isNotNull, 1L).otherwise(0L)).as("mh_found"),
        sum(when(col("graft_ident").isNotNull && col("graft_mh").isNotNull,
          1L).otherwise(0L)).as("ident_found")).collect().head
      sigsFull.unpersist(blocking = false)
      occ.unpersist(blocking = false)
      def longAt(i: Int): Long = if (a.isNullAt(i)) 0L else a.getLong(i)
      val (nExact, nIdent, mhFound, identFound) =
        (longAt(0), longAt(1), longAt(2), longAt(3))
      metricRow(s, Seq(
        "n_docs" -> nDocs.toDouble,
        "total_paras" -> totalParas.toDouble,
        "exact_removed" -> exactRemoved.toDouble,
        "fuzzy_geq_exact" -> flag(fuzzyRemoved >= exactRemoved),
        "sub_exact_pairs" -> nExact.toDouble,
        "sub_ident_pairs" -> nIdent.toDouble,
        "sub_ident_recall_ok" -> flag(identFound == nIdent),
        "sub_recall_ok" -> flag(nExact == 0 ||
          mhFound.toDouble / nExact >= 0.75)))
    }),

    // q105: cluster-balanced corpus mixture — the q102 k-means cells as
    // the mixture key for the q70 temperature-budget machinery: documents
    // join their embedding's cell (doc_id = vec_id), per-cell token mass
    // is tempered at alpha = 0.5, and the deterministic hash-prefix
    // sampler carves each cell's budget. The DuckDB oracle replays the
    // ENTIRE composition — the 3-iteration Lloyd trajectory, the
    // assignment, the sqrt-tempered floor budgets, and the (hash, id)-
    // ordered running-sum prefix — so every kept document is pinned
    // through id sums.
    "q105_cluster_mix" -> ((s, dir) => {
      import graft.pipeline.Mixing
      val emb = table(s, dir, "embeddings")
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val init = Clustering.initMinIdQuantized(emb, "vec_id", "embedding", 4)
      val model = Clustering.lloydQuantized(emb, "embedding", init,
        iterations = 3)
      val cells = Clustering.assignQuantized(
        emb.where(col("embedding").isNotNull), "embedding", model)
        .select(col("vec_id").as("doc_id"), col("cell"))
      val corpus = docs.select(col("doc_id"), col("text"))
        .join(cells, Seq("doc_id")).persist()
      val budgets = Mixing.temperatureBudgets(corpus, "cell", "text",
        totalBudget = 20000L, alpha = 0.5)
      val stats = Mixing
        .tokenBudgetSample(corpus, "doc_id", "text", "cell", budgets)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("graft_k"),
          sum(Mixing.tokenCountExpr(col("text"))).as("graft_t"),
          coalesce(sum(col("doc_id")), lit(0L)).as("graft_i"))
        .collect()
        .map(r => r.getInt(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      corpus.unpersist(blocking = false)
      import s.implicits._
      budgets.toSeq.sortBy(_._1).map { case (g, b) =>
        val (k, t, i) = stats.getOrElse(g, (0L, 0L, 0L))
        (g.toInt, b.toDouble, k.toDouble, t.toDouble, i.toDouble)
      }.toDF("cell", "budget", "kept_docs", "kept_tokens", "id_sum")
    }),

    // q106: logistic-regression quality classifier (the DCLM/FineWeb-Edu
    // discriminative rung above q86's NB): hashed bag-of-words features
    // (md5-prefix hashing — cross-engine, vocabulary-free), full-batch GD
    // with the weight vector snapped to the 1e-6 grid per iteration (the
    // q102 determinism convention), trained on a 20% marker-labeled
    // slice, scored over the whole corpus. The DuckDB oracle replays the
    // ENTIRE trajectory — featurize, 3 GD iterations, score — so every
    // weight AND every prediction is pinned: one row per feature with
    // the final weight, plus corpus-census columns (prediction counts,
    // id sums, flips vs the injected labels, and a min-|logit| flag: the
    // closest doc to the decision boundary measures 3.2e-6 (sf0.1) /
    // 1.5e-5 (sf0.01) — the 1e-9 bar asserts every prediction sits a
    // thousand-fold past it while cross-engine sum-order noise on
    // identical snapped weights is ~1e-15).
    "q106_logreg_quality" -> ((s, dir) => {
      import graft.pipeline.LogReg
      import org.apache.spark.sql.functions.{abs => fabs, concat_ws, min => fmin}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val isKeep = pmod(col("doc_id"), lit(2)) === 0
      val marker = when(isKeep,
        lit("qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb"))
        .otherwise(lit("qtossa qtossb qtossa qtossb qtossa qtossb"))
      val marked = docs.select(
        col("doc_id"),
        concat_ws(" ", col("text"), marker).as("text"),
        when(isKeep, lit(1.0)).otherwise(lit(0.0)).as("graft_y"))
      val train = marked.where(pmod(col("doc_id"), lit(10)) < 2)
      val model = LogReg.train(train, "doc_id", "text", "graft_y",
        dim = 32, iterations = 3, lr = 0.5)
      val census = LogReg.score(marked, "doc_id", "text", model)
        .join(marked.select(col("doc_id"), col("graft_y")), Seq("doc_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("predicted") === 1, 1L).otherwise(0L)).as("p1"),
          coalesce(sum(when(col("predicted") === 1, col("doc_id"))),
            lit(0L)).as("p1ids"),
          count(when(col("predicted").cast(DoubleType) =!= col("graft_y"),
            1)).as("flips"),
          fmin(fabs(col("logit"))).as("minl"))
        .collect().head
      val logitOk = if (census.getDouble(4) >= 1.0e-9) 1.0 else 0.0
      import s.implicits._
      model.weights.toSeq.zipWithIndex.map { case (wv, f) =>
        (f.toDouble, wv, census.getLong(0).toDouble,
          census.getLong(1).toDouble, census.getLong(2).toDouble,
          census.getLong(3).toDouble, logitOk)
      }.toDF("feat", "w", "n_docs", "pred1_docs", "pred1_id_sum",
        "flipped", "logit_ok")
    }),

    // q107: incremental k-means state — the q76/q93 persisted-state
    // convention applied to clustering: per-cell sufficient statistics
    // (n, Σx, Σ|x|²) under FIXED centroids are a commutative monoid, so
    // a daily embedding batch computes ONLY its own state, merges with
    // the persisted history, and re-derives centroids without
    // rescanning it. The query trains TWO half-corpus states, stages
    // both through parquet (write + reload), merges, and derives the
    // stepped centroids; the DuckDB oracle computes the same numbers
    // from the FULL corpus in one pass — matching outputs prove
    // merge(state(A), state(B)) == state(A ∪ B) through the oracle
    // (integer-exact n, grid-snapped means), and an in-query census
    // additionally pins merged == full row-for-row.
    // q107: incremental k-means cell state, on the integer grid (the
    // q102 convention, applied to the PERSISTED-state twin): the
    // quantized state is a TRUE Long monoid, so disk-staged half-state
    // merge == full-corpus single pass holds with integer EQUALITY (no
    // epsilon band), and every pin — counts, vector-sum totals, Σ|vq|²,
    // derived-centroid |cq|² — is exact integer math both engines
    // replay bit-for-bit.
    "q107_kmeans_state" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val init = Clustering.initMinIdQuantized(emb, "vec_id", "embedding", 4)
      val valid = emb.where(col("embedding").isNotNull)
      withTempDir("graft-q107") { tmp =>
      Clustering.writeCellState(
        Clustering.cellStateQuantized(
          valid.where(pmod(col("vec_id"), lit(2)) === 0), "embedding", init),
        s"$tmp/a")
      Clustering.writeCellState(
        Clustering.cellStateQuantized(
          valid.where(pmod(col("vec_id"), lit(2)) === 1), "embedding", init),
        s"$tmp/b")
      val merged = Clustering.mergeCellStatesQuantized(
        Clustering.readCellState(s, s"$tmp/a"),
        Clustering.readCellState(s, s"$tmp/b"))
      def snapshot(st: org.apache.spark.sql.DataFrame) = st.collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
          r.getSeq[Long](3).toArray))).toMap
      val m = snapshot(merged)
      val f = snapshot(
        Clustering.cellStateQuantized(valid, "embedding", init))
      // merged == full: EXACT integer equality — the monoid law itself
      val mergeOk = m.keySet == f.keySet && m.forall { case (c, (n, sq, sm)) =>
        val (fn, fsq, fsm) = f(c)
        n == fn && sq == fsq && sm.sameElements(fsm)
      }
      val cents = Clustering.centroidsFromStateQuantized(merged, init)
      import s.implicits._
      (0 until 4).map { cell =>
        val (n, sq, sm) = m.getOrElse(cell, (0L, 0L, Array.empty[Long]))
        val sumAll = sm.foldLeft(0L)(_ + _)
        val c = cents(cell)
        val norm2 = c.foldLeft(0L)((a, x) => a + x * x)
        (cell, n, sumAll, sq, norm2, if (mergeOk) 1L else 0L)
      }.toDF("cell", "n_docs", "sum_all", "sum_sq", "c_norm2",
        "merge_ok")
      }
    }),

    // q108: DoReMi-style domain reweighting (Xie et al. 2023, simplified
    // to a fixed reference loss): exponentiated-gradient ascent on the
    // source-mixture weights over per-domain EXCESS unigram NLL — one
    // distributed corpus pass computes the per-domain losses, five K-row
    // driver iterations reweight (surprising domains gain, a 10% uniform
    // floor keeps every domain sampled), weights snapped to the 1e-6
    // grid per iteration. The DuckDB oracle replays the WHOLE thing —
    // tokenize, corpus-LM NLLs, all five multiplicative updates, the
    // budget carve — so every weight and budget is pinned.
    "q108_domain_reweight" -> ((s, dir) => {
      import graft.pipeline.Mixing
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val res = Mixing.domainReweight(docs, "source", "text",
        iterations = 5, eta = 0.5, uniformMix = 0.1)
      val sortedDomains = res.weights.keys.toSeq.sorted
      val z = sortedDomains.map(res.weights).sum
      import s.implicits._
      sortedDomains.map { d =>
        (d, res.tokens(d).toDouble, res.nll(d), res.weights(d),
          math.floor(20000.0 * res.weights(d) / z))
      }.toDF("domain", "tokens", "nll_r", "alpha", "budget")
    }),

    // q109: count-min-sketch heavy hitters — the bounded-memory frequency
    // primitive next to KLL/HLL: one scan builds the mergeable 4×2048
    // counter matrix (map-side-combining Aggregator, 64 KB per task), the
    // finished sketch rides a map-side filter as closure data (no join),
    // and only candidates with estimate >= threshold reach the exact-count
    // groupBy. Because CMS never underestimates, the candidate set is a
    // SUPERSET of the true above-threshold set — so the exact top-10 and
    // the above-threshold census are complete, and the oracle verifies
    // them from a full SQL aggregation. cms_ok additionally pins the
    // sketch-side properties Spark alone can see: estimate >= exact on
    // every top term, and max overestimate <= the e·N/width error bound.
    "q109_cms_heavy_hitters" -> ((s, dir) => {
      import graft.sketch.CountMin
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val terms = docs.select(
        explode(TextAnalysis.normalizedTokens(col("text"))).as("term"))
      val cms = CountMin.sketch(terms, col("term"),
        depth = 4, width = 2048, seed = 42)
      val thr = math.max(1L, math.ceil(cms.total * 0.002).toLong)
      val hits = CountMin.heavyHitters(terms, col("term"), cms, thr)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val top = hits.sortBy { case (t, c) => (-c, t) }.take(10)
      val bound = math.ceil(math.E * cms.total / 2048.0).toLong
      val cmsOk = top.forall { case (t, c) =>
        val e = cms.estimate(t); e >= c && e - c <= bound
      }
      import s.implicits._
      top.zipWithIndex.map { case ((t, c), i) =>
        ((i + 1).toDouble, t, c.toDouble, cms.total.toDouble, thr.toDouble,
          hits.length.toDouble, if (cmsOk) 1.0 else 0.0)
      }.toSeq.toDF("rank", "term", "cnt", "n_tokens", "thr",
        "n_above_thr", "cms_ok")
    }),

    // q110: bloom-filter decontamination — q49's semantics through the
    // large-probe-set scale path: a mergeable Bloom bitset over the
    // probe gram hashes rides the corpus scan as a one-row broadcast,
    // might_contain kills non-matching grams map-side, and the exact
    // verify join (unhinted — only bloom survivors shuffle) removes
    // every false positive. Census pins are IDENTICAL to q49's by
    // construction (no false negatives + exact verify) — the oracle
    // replays the same substring containment; two Spark-side flags pin
    // the bloom-stage properties: candidates are a superset of true
    // matches, and the false-positive volume stays under 1% of the
    // corpus gram stream.
    "q110_bloom_decontamination" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{concat_ws, size => fsize, slice => fslice}
      val docs = table(s, dir, "documents")
      val ntoks = TextAnalysis.normalizedTokens(col("text"))
      val probes = docs.filter(col("doc_id").isin(20L, 30L, 45L))
        .filter(fsize(ntoks) >= 18)
        .select(concat_ws(" ", fslice(ntoks, 6, 13)).as("probe"))
        .distinct()
      val probeGrams = TextAnalysis.probeGramHashes(probes, "probe", n = 13)
        .persist()
      val cands = TextAnalysis.bloomGramFilter(
        docs, "doc_id", "text", probeGrams, n = 13, estimatedItems = 1000L)
        .persist()
      val nCandRows = cands.count()
      val matches = cands.join(probeGrams, "graft_gram")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("graft_gram")).as("matched_ngrams"))
        .persist()
      val agg = matches
        .agg(count(lit(1)), coalesce(sum(col("matched_ngrams")), lit(0L)))
        .collect().head
      val matchedPairs = cands.join(probeGrams, "graft_gram").count()
      val nDocs = docs.count()
      val nProbes = probes.count()
      // corpus gram volume from token counts alone (no second gram pass):
      // docs emit max(tokens - 12, 1) grams (whole-text fallback under 13)
      val corpusGrams = docs
        .agg(coalesce(sum(org.apache.spark.sql.functions.greatest(
          fsize(ntoks) - lit(12), lit(1))), lit(0L)))
        .collect().head.getLong(0)
      val kept = nDocs - agg.getLong(0)
      probeGrams.unpersist(blocking = false)
      cands.unpersist(blocking = false)
      matches.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_probes" -> nProbes.toDouble,
        "contaminated_docs" -> agg.getLong(0).toDouble,
        "matched_ngrams" -> agg.getLong(1).toDouble,
        "kept_docs" -> kept.toDouble,
        "bloom_superset_ok" -> flag(nCandRows >= matchedPairs),
        "fp_bound_ok" -> flag(nCandRows - matchedPairs <=
          math.max(1L, corpusGrams / 100L))))
    }),

    // q111: WordPiece tokenizer — the third learned-tokenizer family
    // (BPE q77 = merge-rank replace, unigram q94 = Viterbi, THIS = greedy
    // longest-match with ## continuations and whole-word [UNK] on any
    // position failure). Apply runs the fixed demo vocabulary over the
    // lowercased corpus; the DuckDB oracle replays the greedy walk
    // word-for-word with a recursive CTE (per (word, pos) step = the
    // longest matching piece, UNK when the walk dies before the end), so
    // piece totals, UNK census, and the id-weighted sum are exact.
    // Training is pinned the q77 way: the highest likelihood-score pair
    // (count(ab)/(count(a)·count(b)), ties (l, r) asc — exact-rational
    // ties compare equal in both engines because IEEE division is
    // correctly rounded) replayed from the same case-preserved histogram.
    "q111_wordpiece_tokens" -> ((s, dir) => {
      import graft.pipeline.{Mixing, WordPiece}
      val docs = table(s, dir, "documents")
      val model = WordPiece.WordPieceModel(WordPieceDemoVocab)
      // doc_id % 7 == 0 docs get a digit-bearing word ("x9z") appended —
      // digits are absent from the demo vocab, so the greedy walk dies at
      // position 2 and the whole word is [UNK]: a nonzero UNK census the
      // oracle pins (the corpus itself is pure-alpha after lowering)
      val lowered = docs.select(col("doc_id"),
        org.apache.spark.sql.functions.concat_ws(" ",
          org.apache.spark.sql.functions.lower(col("text")),
          when(pmod(col("doc_id"), lit(7)) === 0, lit("x9z"))).as("text"))
      val r = lowered
        .select(col("doc_id"),
          Mixing.tokenCountExpr(col("text")).as("graft_w"),
          WordPiece.tokenCountCol(model)(col("text")).as("graft_p"),
          WordPiece.unkCountCol(model)(col("text")).as("graft_u"))
        .agg(
          coalesce(sum(col("graft_w")), lit(0L)),
          coalesce(sum(col("graft_p")), lit(0L)),
          coalesce(sum(col("graft_u")), lit(0L)),
          coalesce(sum(col("doc_id") * col("graft_p")), lit(0L)))
        .collect().head
      val first = WordPiece.train(docs, "text", numMerges = 1)
        .merges.headOption.map { case (a, b) => s"$a $b" }.getOrElse("")
      import s.implicits._
      Seq((r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble, first))
        .toDF("ws_tokens", "wp_pieces", "unk_words", "wp_id_weighted",
          "first_merge")
    }),

    // q112: end-to-end curation v3 — the round-13 operators composed as a
    // production pipeline and replayed END TO END by one chained oracle:
    // (1) discriminative quality filter (the q106 logreg, trained on the
    // 20% marker slice, keep logit >= 0), (2) bloom decontamination of
    // the survivors against the q49 probes (exact verify — census
    // identical to the broadcast path), (3) DoReMi domain reweighting
    // computed ON THE SURVIVING corpus (per-source excess-NLL
    // multiplicative updates), (4) learned-budget token sampling (floor
    // carve of 20k tokens by the final weights, hash-prefix selection).
    // Every stage's pins flow into the next — the oracle replays the GD
    // trajectory, the containment census, the reweighting chain, and the
    // running-sum prefix in one SQL program, so per-source kept docs,
    // kept tokens, and id sums are exact at 3 SFs.
    "q112_curation_v3" -> ((s, dir) => {
      import graft.pipeline.{LogReg, Mixing, TextAnalysis}
      import org.apache.spark.sql.functions.{concat_ws, size => fsize, slice => fslice}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val isKeep = pmod(col("doc_id"), lit(2)) === 0
      val marker = when(isKeep,
        lit("qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb"))
        .otherwise(lit("qtossa qtossb qtossa qtossb qtossa qtossb"))
      val marked = docs.select(
        col("doc_id"), col("source"),
        concat_ws(" ", col("text"), marker).as("text"),
        when(isKeep, lit(1.0)).otherwise(lit(0.0)).as("graft_y"))
      // stage 1: quality filter
      val model = LogReg.train(
        marked.where(pmod(col("doc_id"), lit(10)) < 2),
        "doc_id", "text", "graft_y", dim = 32, iterations = 3, lr = 0.5)
      val s1 = LogReg.filterByModel(
          marked.select("doc_id", "source", "text"), "doc_id", "text", model)
        .persist()
      val n1 = s1.count()
      // stage 2: bloom decontamination (q49 probes over the marked text)
      val ntoks = TextAnalysis.normalizedTokens(col("text"))
      val probes = marked.filter(col("doc_id").isin(20L, 30L, 45L))
        .filter(fsize(ntoks) >= 18)
        .select(concat_ws(" ", fslice(ntoks, 6, 13)).as("probe"))
        .distinct()
      val probeGrams = TextAnalysis.probeGramHashes(probes, "probe", n = 13)
        .persist()
      val contaminated = TextAnalysis.bloomGramFilter(
          s1, "doc_id", "text", probeGrams, n = 13, estimatedItems = 1000L)
        .join(probeGrams, "graft_gram")
        .select(col("doc_id")).distinct()
      val s2 = s1.join(contaminated, Seq("doc_id"), "left_anti").persist()
      val n2 = s2.count()
      s1.unpersist(blocking = false)
      // stage 3: reweight the surviving mixture
      val res = Mixing.domainReweight(s2, "source", "text",
        iterations = 5, eta = 0.5, uniformMix = 0.1)
      val sortedDomains = res.weights.keys.toSeq.sorted
      val z = sortedDomains.map(res.weights).sum
      val budgets: Map[String, Long] = sortedDomains.map(d =>
        d -> math.floor(20000.0 * res.weights(d) / z).toLong).toMap
      // stage 4: learned-budget prefix sampling
      val stats = Mixing
        .tokenBudgetSample(s2, "doc_id", "text", "source", budgets)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("graft_k"),
          sum(Mixing.tokenCountExpr(col("text"))).as("graft_t"),
          coalesce(sum(col("doc_id")), lit(0L)).as("graft_i"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      s2.unpersist(blocking = false)
      probeGrams.unpersist(blocking = false)
      import s.implicits._
      sortedDomains.map { d =>
        val (k, t, i) = stats.getOrElse(d, (0L, 0L, 0L))
        (d, budgets(d).toDouble, k.toDouble, t.toDouble, i.toDouble,
          n1.toDouble, n2.toDouble)
      }.toDF("source", "budget", "kept_docs", "kept_tokens", "id_sum",
        "after_quality", "after_decontam")
    }),

    // q113: k-anonymity / l-diversity audit — the re-identification gate
    // a training-data release runs after PII scrubbing (q39): equivalence
    // classes over the quasi-identifiers (nation, account-balance band),
    // class-size histogram, below-k mass, and the sensitive-attribute
    // (market segment) diversity floor. One map-side-combinable groupBy
    // + catalog-sized follow-ups; the row-level flag pass must agree with
    // the aggregate census (parity flag), and the below-k id sum pins the
    // exact vulnerable-row set through the oracle.
    "q113_k_anonymity" -> ((s, dir) => {
      import graft.pipeline.Privacy
      import org.apache.spark.sql.functions.{floor => ffloor}
      val cust = table(s, dir, "customer")
      val qi = cust.select(col("c_custkey"), col("c_nationkey"),
        ffloor(col("c_acctbal") / 500).as("bal_band"), col("c_mktsegment"))
      val qiCols = Seq("c_nationkey", "bal_band")
      val st = Privacy.kAnonymityStats(qi, qiCols, k = 5,
        sensitiveCol = Some("c_mktsegment")).collect().head
      val fl = Privacy.flagBelowK(qi, qiCols, k = 5)
        .agg(
          sum(when(!col("k_anonymous"), 1L).otherwise(0L)),
          coalesce(sum(when(!col("k_anonymous"), col("c_custkey"))),
            lit(0L)))
        .collect().head
      val hist = Privacy.kAnonymityHistogram(qi, qiCols).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val parityOk =
        fl.getLong(0) == st.getAs[Long]("below_k_rows")
      import s.implicits._
      hist.map { case (sz, nc, nr) =>
        (sz.toDouble, nc.toDouble, nr.toDouble,
          st.getAs[Long]("n_classes").toDouble,
          st.getAs[Long]("min_class_size").toDouble,
          st.getAs[Long]("below_k_rows").toDouble,
          st.getAs[Long]("below_k_classes").toDouble,
          st.getAs[Long]("min_l").toDouble,
          st.getAs[Long]("l1_classes").toDouble,
          fl.getLong(1).toDouble,
          if (parityOk) 1.0 else 0.0)
      }.toSeq.toDF("class_size", "n_classes", "n_rows", "total_classes",
        "min_class_size", "below_k_rows", "below_k_classes", "min_l",
        "l1_classes", "below_k_id_sum", "parity_ok")
    }),

    // q114: filter-attribution census (Dolma/RefinedWeb-style rule logs):
    // six curation rules evaluated in ONE map-side pass into a per-doc
    // reason BITMASK, then one aggregate answers what N ablation re-runs
    // otherwise would — per-rule removal (fired docs + id sums), UNIQUE
    // attribution (docs only that rule removes), redundant overlap
    // (multi-rule docs), and Σ id·mask pinning every document's full
    // bitmask through one number. Deterministic injections (email every
    // 11th doc, braces every 13th, lorem every 17th) keep every rule's
    // census non-vacuous; the oracle replays all six predicates and the
    // mask arithmetic exactly.
    "q114_filter_attribution" -> ((s, dir) => {
      import graft.pipeline.Ablation
      import org.apache.spark.sql.functions.{concat_ws, size => fsize, length => flength, array_join, lower => flower}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val injected = docs.select(col("doc_id"), concat_ws(" ",
        col("text"),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit("contact: user"), col("doc_id").cast(StringType),
            lit("@example.com"))),
        when(pmod(col("doc_id"), lit(13)) === 0, lit("{code}")),
        when(pmod(col("doc_id"), lit(17)) === 0, lit("lorem ipsum filler")))
        .as("text"))
      val t = coalesce(col("text"), lit(""))
      val toks = TextAnalysis.tokens(t)
      val nw = fsize(toks).cast(LongType)
      // Σ word lengths without a HOF: joined-token string length
      val sumLen = flength(array_join(toks, "")).cast(LongType)
      val rules = Seq(
        "too_few_words" -> (nw < 30),
        // mean word length outside [3, 10] as an INTEGER comparison —
        // no float division to disagree on
        "word_len_out_of_band" ->
          (nw > 0 && (sumLen < nw * 3 || sumLen > nw * 10)),
        "no_terminal_punct" -> !t.rlike("[.!?]\\s*$"),
        "has_email" ->
          t.rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
        "has_brace" -> (t.contains("{") || t.contains("}")),
        "lorem_boilerplate" -> flower(t).contains("lorem ipsum"))
      Ablation.attributionCensus(injected, "doc_id", rules)
        .select(col("rule_idx").cast(DoubleType).as("rule_idx"), col("rule"),
          col("fired_docs").cast(DoubleType).as("fired_docs"),
          col("fired_id_sum").cast(DoubleType).as("fired_id_sum"),
          col("unique_docs").cast(DoubleType).as("unique_docs"),
          col("n_docs").cast(DoubleType).as("n_docs"),
          col("kept_docs").cast(DoubleType).as("kept_docs"),
          col("dropped_docs").cast(DoubleType).as("dropped_docs"),
          col("multi_reason_docs").cast(DoubleType).as("multi_reason_docs"),
          col("mask_id_weighted").cast(DoubleType).as("mask_id_weighted"))
    }),

    // q115: SPAN-level decontamination — the surgical sibling of q49's
    // drop-the-document: every 13-token span matching a probe is excised
    // (overlapping spans merge), the rest of the document survives. The
    // positional gram stream dies in the broadcast probe join; only
    // matching (id, pos) rows reach the per-doc interval walk. Pins:
    // token conservation (total = corpus tokens), exact removed mass,
    // the affected-doc census with id sums, and an md5 of the minimum
    // affected document's reconstructed text — every excision boundary
    // shows up in that hash.
    "q115_span_decontamination" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{concat_ws, size => fsize, slice => fslice, md5 => fmd5}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val ntoks = TextAnalysis.normalizedTokens(col("text"))
      val probes = docs.filter(col("doc_id").isin(20L, 30L, 45L))
        .filter(fsize(ntoks) >= 18)
        .select(concat_ws(" ", fslice(ntoks, 6, 13)).as("probe"))
        .distinct()
      val out = TextAnalysis.removeContaminatedSpans(
        docs, "doc_id", "text", probes, "probe", n = 13).persist()
      val g = out.agg(
        count(lit(1)),
        coalesce(sum(col("total_tokens")), lit(0L)),
        coalesce(sum(col("removed_tokens")), lit(0L)),
        count(when(col("removed_tokens") > 0, 1)),
        coalesce(sum(when(col("removed_tokens") > 0, col("doc_id"))),
          lit(0L)))
        .collect().head
      val md5Min = out.where(col("removed_tokens") > 0)
        .orderBy(col("doc_id")).limit(1)
        .select(fmd5(col("kept_text").cast(BinaryType)))
        .collect().headOption.map(_.getString(0)).getOrElse("")
      out.unpersist(blocking = false)
      import s.implicits._
      Seq((g.getLong(0).toDouble, g.getLong(1).toDouble,
        g.getLong(2).toDouble, g.getLong(3).toDouble,
        g.getLong(4).toDouble, md5Min))
        .toDF("n_docs", "total_tokens", "removed_tokens", "affected_docs",
          "affected_id_sum", "kept_md5_min")
    }),

    // q116: embedding-column health audit — the pre-flight every
    // ANN/dedup/clustering stage assumes: one map-side pass counting the
    // defect classes that silently poison similarity math (NULL vectors,
    // wrong dimension, NaN elements, all-zero vectors) plus the norm
    // census. Defects are injected deterministically (null every 101st,
    // NaN-element every 97th, zero vector every 89th, truncated every
    // 83rd — CASE priority order identical in both engines); per-vector
    // norms are left-to-right folds over identical doubles in BOTH
    // engines, so even the rounded extremes compare bit-for-bit.
    "q116_embedding_health" -> ((s, dir) => {
      import graft.pipeline.Similarity
      import org.apache.spark.sql.functions.{slice => fslice, transform => ftransform}
      val emb = table(s, dir, "embeddings")
      val v = col("embedding")
      val injected = emb.select(col("vec_id"),
        when(pmod(col("vec_id"), lit(101)) === 0,
          lit(null).cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))
          .when(pmod(col("vec_id"), lit(97)) === 0,
            concat(array(lit(Float.NaN)), fslice(v, 2, 63)))
          .when(pmod(col("vec_id"), lit(89)) === 0,
            ftransform(v, _ => lit(0.0f)))
          .when(pmod(col("vec_id"), lit(83)) === 0, fslice(v, 1, 63))
          .otherwise(v).as("embedding"))
      // hashed norm census on the integer grid (the q102 convention —
      // the operator's own rounded float norms ride a tolerance flag,
      // never the hash): min/max/sum of Σvq² over clean vectors, exact
      // BIGINT both engines
      val vi = col("embedding")
      val cleanPred = vi.isNotNull &&
        org.apache.spark.sql.functions.size(vi) === 64 &&
        !org.apache.spark.sql.functions.exists(vi,
          x => org.apache.spark.sql.functions.isnan(x.cast(DoubleType)) ||
            abs(x.cast(DoubleType)) > lit(Double.MaxValue))
      val vq = when(cleanPred, Clustering.quantizeVec(vi))
      val n2q = graft.expressions.GraftFunctions.dot_long(vq, vq)
      val grid = injected.agg(
        min(n2q).as("min_n2q"),
        max(n2q).as("max_n2q"),
        coalesce(sum(n2q), lit(0L)).as("sum_n2q"))
      Similarity.embeddingHealth(injected, "embedding", dim = 64)
        .crossJoin(grid)
        .select(
          col("n_rows").cast(DoubleType).as("n_rows"),
          col("null_vecs").cast(DoubleType).as("null_vecs"),
          col("wrong_dim_vecs").cast(DoubleType).as("wrong_dim_vecs"),
          col("nonfinite_vecs").cast(DoubleType).as("nonfinite_vecs"),
          col("zero_vecs").cast(DoubleType).as("zero_vecs"),
          col("clean_vecs").cast(DoubleType).as("clean_vecs"),
          col("unit_norm_vecs").cast(DoubleType).as("unit_norm_vecs"),
          col("min_n2q"), col("max_n2q"), col("sum_n2q"),
          when(
            abs(col("min_norm_r") * col("min_norm_r")
              - col("min_n2q") / 1e6) <= 0.02 &&
              abs(col("max_norm_r") * col("max_norm_r")
                - col("max_n2q") / 1e6) <= 0.02 &&
              abs(col("sum_norm2_r") - col("sum_n2q") / 1e6) <=
                col("sum_norm2_r") * 0.01 + 1.0,
            1.0d).otherwise(0.0d).as("norms_ok"))
    }),

    // q117: text-encoding health audit — q116's sibling for the text
    // column: NULL / whitespace-only text, U+FFFD replacement chars,
    // control chars (C0 minus \t\n\r, DEL, C1), zero-width chars, and
    // curated mojibake signatures, all counted in one map-side codegen
    // pass. Defects injected deterministically (null every 101st,
    // replacement chars every 97th, BELs every 89th, zero-width every
    // 83rd, mojibake every 79th, blank every 71st — CASE priority order
    // identical in both engines; the oracle replays the same RE2/Java-
    // compatible patterns built from explicit code points).
    "q117_encoding_health" -> ((s, dir) => {
      import graft.pipeline.TextAnalysis
      val docs = table(s, dir, "documents")
      val moji = TextAnalysis.MojibakeSignatures
      val mojiSample = moji(0) + moji(7) + moji(14) // 3 hits
      val t = col("text")
      val injected = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(101)) === 0,
          lit(null).cast(StringType))
          .when(pmod(col("doc_id"), lit(97)) === 0,
            concat(t, lit(" \uFFFD\uFFFD")))
          .when(pmod(col("doc_id"), lit(89)) === 0,
            concat(t, lit("\u0007\u0007\u0007")))
          .when(pmod(col("doc_id"), lit(83)) === 0,
            concat(lit("\u200B"), t, lit("\uFEFF")))
          .when(pmod(col("doc_id"), lit(79)) === 0,
            concat(t, lit(" "), lit(mojiSample)))
          .when(pmod(col("doc_id"), lit(71)) === 0, lit("   "))
          .otherwise(t).as("text"))
      TextAnalysis.encodingHealth(injected, "doc_id", "text")
        .select(
          col("n_docs").cast(DoubleType).as("n_docs"),
          col("null_docs").cast(DoubleType).as("null_docs"),
          col("blank_docs").cast(DoubleType).as("blank_docs"),
          col("repl_docs").cast(DoubleType).as("repl_docs"),
          col("repl_chars").cast(DoubleType).as("repl_chars"),
          col("ctrl_docs").cast(DoubleType).as("ctrl_docs"),
          col("ctrl_chars").cast(DoubleType).as("ctrl_chars"),
          col("zw_docs").cast(DoubleType).as("zw_docs"),
          col("zw_chars").cast(DoubleType).as("zw_chars"),
          col("mojibake_docs").cast(DoubleType).as("mojibake_docs"),
          col("mojibake_hits").cast(DoubleType).as("mojibake_hits"),
          col("clean_docs").cast(DoubleType).as("clean_docs"),
          col("defective_id_sum").cast(DoubleType).as("defective_id_sum"))
    }),

    // q118: as-of join (click -> latest prior-or-equal view by the same
    // user) — the one-shuffle union/carry-forward operator, censused:
    // match counts, the exact matched view ids (id-sum pins every match),
    // staleness mass in whole seconds (integer arithmetic both engines),
    // decimal-exact matched value, and a 1-hour-tolerance recount.
    // Right-side ts ties resolve to the largest view_id in BOTH engines
    // (window tiebreak here, lexicographic struct max in the oracle).
    "q118_asof_attribution" -> ((s, dir) => {
      import graft.operators.AsOfJoin
      val ev = eventsTable(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts"), col("value"))
      val joined = AsOfJoin.asofJoin(clicks, views, Seq("user_id"), "ts",
        payloadCols = Seq("view_id", "value"),
        tiebreakCol = Some("view_id"))
      // ts arrives TIMESTAMP or TIMESTAMP_NTZ depending on the parquet
      // generation; lag is a difference, so the cast's zone shift
      // cancels. Integer `div` keeps the seconds exact (the oracle's //).
      val lagS = expr(
        "(unix_micros(cast(ts as timestamp)) - " +
          "unix_micros(cast(asof_ts as timestamp))) div 1000000")
      joined.agg(
        count(lit(1)).cast(DoubleType).as("n_clicks"),
        sum(when(col("asof_view_id").isNotNull, 1L).otherwise(0L))
          .cast(DoubleType).as("matched"),
        sum(when(col("asof_view_id").isNull, 1L).otherwise(0L))
          .cast(DoubleType).as("unmatched"),
        coalesce(sum(when(col("asof_view_id").isNull, col("event_id"))),
          lit(0L)).cast(DoubleType).as("unmatched_id_sum"),
        coalesce(sum(col("asof_view_id")), lit(0L))
          .cast(DoubleType).as("matched_view_id_sum"),
        coalesce(sum(lagS), lit(0L)).cast(DoubleType).as("sum_lag_s"),
        round(coalesce(sum(col("asof_value").cast(DecimalType(18, 2))),
          lit(0).cast(DecimalType(18, 2))), 2)
          .cast(DoubleType).as("matched_value_sum"),
        sum(when(lagS <= 3600L, 1L).otherwise(0L))
          .cast(DoubleType).as("matched_1h"))
    }),

    // q119: range join (clicks inside per-user 6-hour error-incident
    // windows) — the bin-bucketed point-in-interval join, censused:
    // pair volume, distinct matched clicks/intervals with id sums, the
    // hottest interval, and integer offset mass. Session TZ is UTC, so
    // epoch arithmetic matches DuckDB's naive epoch_us exactly.
    "q119_range_join_incidents" -> ((s, dir) => {
      import graft.operators.RangeJoin
      val ev = eventsTable(s, dir)
      val us = expr("unix_micros(cast(ts as timestamp))")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          us.as("p"))
      val incidents = ev.where(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          us.as("lo"), (us + lit(21600L * 1000000L)).as("hi"))
      val joined = RangeJoin.rangeJoin(clicks, incidents, "p", "lo", "hi",
        binWidth = 21600L * 1000000L, extraKeyCols = Seq("user_id"),
        payloadCols = Seq("err_id"))
      val perInterval = joined.groupBy(col("rj_err_id"))
        .agg(count(lit(1)).as("hits"))
        .agg(
          coalesce(sum(col("hits")), lit(0L))
            .cast(DoubleType).as("matched_pairs"),
          count(lit(1)).cast(DoubleType).as("intervals_hit"),
          coalesce(sum(col("rj_err_id")), lit(0L))
            .cast(DoubleType).as("hit_err_id_sum"),
          coalesce(max(col("hits")), lit(0L))
            .cast(DoubleType).as("max_hits_one_interval"))
      val perClick = joined.agg(
        countDistinct(col("click_id")).cast(DoubleType)
          .as("matched_clicks"),
        coalesce(sum_distinct(col("click_id")), lit(0L))
          .cast(DoubleType).as("matched_click_id_sum"),
        coalesce(sum(expr("(p - rj_lo) div 1000000")), lit(0L))
          .cast(DoubleType).as("sum_offset_s"))
      val totals = clicks.agg(count(lit(1)).cast(DoubleType)
          .as("n_clicks"))
        .crossJoin(incidents.agg(count(lit(1)).cast(DoubleType)
          .as("n_incidents")))
      totals.crossJoin(perInterval).crossJoin(perClick)
    }),

    // q120: SCD type-2 build over the per-user event-type change stream —
    // consecutive same-type runs collapse into versions with half-open
    // [valid_from, valid_to) epoch-micro intervals, then a point-in-time
    // snapshot at 2024-01-15T00:00:00Z. The surviving-row event_id sum
    // pins EXACTLY which change rows opened versions; durations are
    // integer-second mass over closed versions.
    "q120_scd2_versions" -> ((s, dir) => {
      import graft.operators.Scd
      val ev = eventsTable(s, dir)
      val changes = ev.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_type"), col("event_id"))
      val scd = Scd.scdType2(changes, Seq("user_id"), "ts_us",
        Seq("event_type"), tiebreakCols = Seq("event_id"))
      val snapT = 1705276800000000L // 2024-01-15 00:00:00 UTC
      val snap = Scd.snapshotAt(scd, lit(snapT))
      val versions = scd.agg(
        count(lit(1)).cast(DoubleType).as("n_versions"),
        sum(when(col("is_current"), 1L).otherwise(0L))
          .cast(DoubleType).as("current_versions"),
        coalesce(sum(col("event_id")), lit(0L))
          .cast(DoubleType).as("version_eid_sum"),
        coalesce(max(col("version")), lit(0))
          .cast(DoubleType).as("max_versions"),
        coalesce(sum(expr(
          "(valid_to - valid_from) div 1000000")), lit(0L))
          .cast(DoubleType).as("closed_duration_s"))
      val snapshot = snap.agg(
        count(lit(1)).cast(DoubleType).as("snap_users"),
        coalesce(sum(col("user_id")), lit(0L))
          .cast(DoubleType).as("snap_user_id_sum"),
        coalesce(sum(col("event_id")), lit(0L))
          .cast(DoubleType).as("snap_eid_sum"),
        countDistinct(col("event_type")).cast(DoubleType)
          .as("snap_distinct_types"))
      changes.agg(count(lit(1)).cast(DoubleType).as("n_changes"))
        .crossJoin(versions).crossJoin(snapshot)
    }),

    // q121: key-skew census on orders.o_custkey with nulls injected every
    // 97th order — exact per-key-count quantiles, hot-key shares, and
    // Gini from the sqrt(N)-bounded count-of-counts histogram. The
    // float ops are pinned to the same order in both engines before the
    // 6-digit snap.
    "q121_skew_census" -> ((s, dir) => {
      import graft.operators.SkewCensus
      val orders = table(s, dir, "orders")
      val keyed = orders.select(
        when(pmod(col("o_orderkey"), lit(97)) === 0,
          lit(null).cast(LongType))
          .otherwise(col("o_custkey")).as("k"))
      SkewCensus.skewCensus(keyed, "k")
    }),

    // q122: z-order layout audit on orders (x = o_custkey, y = days since
    // 1992-01-01, 16 bits each) — the Morton interleave pinned through
    // global z stats (exact long sums), and the pruning audit showing the
    // per-bucket y-extent shrinking under z-layout while an x-only sort
    // keeps the full y-range in every bucket. All bit arithmetic and the
    // single rounded division replayed identically in the oracle.
    "q122_zorder_layout" -> ((s, dir) => {
      import graft.operators.ZOrder
      import org.apache.spark.sql.functions.datediff
      val orders = table(s, dir, "orders")
      val dims = orders.select(
        col("o_custkey").as("x"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast(LongType)
          .as("y"))
      val z = ZOrder.zValue(Seq(col("x"), col("y")), 16)
      val zStats = dims.agg(
        coalesce(sum(z), lit(0L)).cast(DoubleType).as("sum_z"),
        coalesce(min(z), lit(0L)).cast(DoubleType).as("min_z"),
        coalesce(max(z), lit(0L)).cast(DoubleType).as("max_z"))
      ZOrder.pruningAudit(dims, "x", "y", bits = 16, nBuckets = 64)
        .crossJoin(zStats)
    }),

    // q123: grouped top-k without a window — the bounded-heap TakeOrdered
    // aggregate exposed as public API (Ranking.topKPerGroup), selecting
    // the 5 longest documents per source (token count desc, doc_id asc).
    // Row-level output: the oracle replays with the row_number window the
    // operator replaces, proving the contract identical.
    "q123_top_docs_per_source" -> ((s, dir) => {
      import graft.pipeline.{Ranking, TextAnalysis}
      val docs = table(s, dir, "documents")
      val scored = docs.select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(DoubleType).as("ntok"))
      Ranking.topKPerGroup(scored, "source", "doc_id", "ntok", k = 5)
        .select(col("source"), col("doc_id"),
          col("ntok").cast(DoubleType).as("ntok"),
          col("rank").cast(DoubleType).as("rank"))
    }),

    // q124: systematic PPS sampling (k=500 evenly spaced probes on the
    // token-weight cumulative line, ordered by doc_id) — integer-exact,
    // no probe set ever materialized: each row's hit count is the
    // closed-form inversion of the probe formula. The census pins total
    // probe conservation (k_hits == k), exactly which docs were sampled
    // (id sum), and the heavy-doc multiplicity.
    "q124_pps_sample" -> ((s, dir) => {
      import graft.pipeline.{Mixing, TextAnalysis}
      val docs = table(s, dir, "documents")
      val weighted = docs.select(col("doc_id"),
        (TextAnalysis.tokenCount(col("text")) + lit(1))
          .cast(LongType).as("w"))
      val pps = Mixing.ppsSystematicSample(weighted, "doc_id", "w",
        k = 500)
      pps.agg(
        count(lit(1)).cast(DoubleType).as("n_rows"),
        sum(col("weight")).cast(DoubleType).as("total_w"),
        sum(col("pps_mult")).cast(DoubleType).as("k_hits"),
        sum(when(col("pps_mult") > 0, 1L).otherwise(0L))
          .cast(DoubleType).as("sampled_docs"),
        coalesce(sum(when(col("pps_mult") > 0, col("doc_id"))), lit(0L))
          .cast(DoubleType).as("sampled_id_sum"),
        coalesce(max(col("pps_mult")), lit(0L))
          .cast(DoubleType).as("max_mult"),
        coalesce(sum(when(col("pps_mult") > 0, col("weight"))), lit(0L))
          .cast(DoubleType).as("sampled_w_sum"))
    }),

    // q125: functional-dependency audit on lineitem — two candidate FDs
    // from one order key (supplier: heavily violated by design of the
    // schema; return flag: violated wherever an order's items differ),
    // each censused with null-safe semantics and the minimal-repair row
    // count (every group keeps its plurality RHS).
    "q125_fd_audit" -> ((s, dir) => {
      import graft.operators.FdAudit
      val li = table(s, dir, "lineitem")
      def census(rhs: String, p: String) =
        FdAudit.fdAudit(li, Seq("l_orderkey"), rhs).select(
          col("n_rows").cast(DoubleType).as(s"${p}_n_rows"),
          col("n_groups").cast(DoubleType).as(s"${p}_n_groups"),
          col("violating_groups").cast(DoubleType)
            .as(s"${p}_violating_groups"),
          col("violating_rows").cast(DoubleType)
            .as(s"${p}_violating_rows"),
          col("repair_rows").cast(DoubleType).as(s"${p}_repair_rows"))
      census("l_suppkey", "fd1").crossJoin(census("l_returnflag", "fd2"))
    }),

    // q126: interval-overlap join — per-user 1-hour view windows against
    // 6-hour error-incident windows, first-shared-bin responsibility
    // keeping every intersecting pair exactly once. The census pins pair
    // volume, both sides' distinct participants with id sums, and the
    // total overlap duration in whole seconds (integer min/max epoch
    // arithmetic in both engines).
    "q126_interval_overlap" -> ((s, dir) => {
      import graft.operators.RangeJoin
      val ev = eventsTable(s, dir)
      val us = expr("unix_micros(cast(ts as timestamp))")
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          us.as("vlo"), (us + lit(3600L * 1000000L)).as("vhi"))
      val incidents = ev.where(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          us.as("elo"), (us + lit(21600L * 1000000L)).as("ehi"))
      val joined = RangeJoin.intervalOverlapJoin(views, incidents,
        "vlo", "vhi", "elo", "ehi", binWidth = 21600L * 1000000L,
        extraKeyCols = Seq("user_id"), payloadCols = Seq("err_id"))
      val overlapS = expr(
        "(least(vhi, oj_hi) - greatest(vlo, oj_lo)) div 1000000")
      val pairStats = joined.agg(
        count(lit(1)).cast(DoubleType).as("overlap_pairs"),
        countDistinct(col("view_id")).cast(DoubleType)
          .as("views_in_overlap"),
        coalesce(sum_distinct(col("view_id")), lit(0L))
          .cast(DoubleType).as("view_id_sum"),
        countDistinct(col("oj_err_id")).cast(DoubleType)
          .as("errs_in_overlap"),
        coalesce(sum_distinct(col("oj_err_id")), lit(0L))
          .cast(DoubleType).as("err_id_sum"),
        coalesce(sum(overlapS), lit(0L)).cast(DoubleType)
          .as("overlap_s_sum"))
      views.agg(count(lit(1)).cast(DoubleType).as("n_views"))
        .crossJoin(incidents.agg(count(lit(1)).cast(DoubleType)
          .as("n_incidents")))
        .crossJoin(pairStats)
    }),

    // q127: batch sessionization of the per-user event timeline (30-min
    // strict gap). The per-event session-id sum pins EVERY event's
    // assignment; durations are integer-second mass over sessions.
    "q127_sessionize" -> ((s, dir) => {
      import graft.operators.Sessionize
      val ev = eventsTable(s, dir)
      val base = ev.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_id"))
      val sess = Sessionize.sessionize(base, Seq("user_id"), "ts_us",
        gapThreshold = 1800L * 1000000L, tiebreakCols = Seq("event_id"))
      val stats = Sessionize.sessionStats(sess, Seq("user_id"), "ts_us")
      val perSession = stats.agg(
        count(lit(1)).cast(DoubleType).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L))
          .cast(DoubleType).as("singleton_sessions"),
        coalesce(max(col("n_events")), lit(0L))
          .cast(DoubleType).as("max_session_events"),
        coalesce(sum(expr("duration div 1000000")), lit(0L))
          .cast(DoubleType).as("sum_duration_s"))
      sess.agg(
        count(lit(1)).cast(DoubleType).as("n_events"),
        coalesce(sum(col("session_id")), lit(0L))
          .cast(DoubleType).as("event_sid_sum"))
        .crossJoin(perSession)
    }),

    // q128: ordered funnel signup -> view -> click -> purchase per user,
    // each step matched at the earliest event STRICTLY after the prior
    // step's match — n slim per-key aggregations, never a per-user sort
    // of the raw timeline. Census pins step populations and integer
    // conversion-lag mass (whole seconds).
    "q128_funnel" -> ((s, dir) => {
      import graft.operators.EventAnalytics
      val ev = eventsTable(s, dir)
      val base = ev.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_type"))
      val f = EventAnalytics.funnel(base, Seq("user_id"), "ts_us",
        Seq(col("event_type") === "signup", col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"))
      val lagSecs = (1 to 3).map(i =>
        coalesce(sum(expr(s"(t$i - t${i - 1}) div 1000000")), lit(0L))
          .cast(DoubleType).as(s"step${i}_lag_s"))
      val steps = (0 to 3).map(i =>
        sum(when(col(s"t$i").isNotNull, 1L).otherwise(0L))
          .cast(DoubleType).as(s"step${i}_users"))
      f.agg((steps ++ lagSecs).head, (steps ++ lagSecs).tail: _*)
    }),

    // q129: weekly cohort retention — each user bucketed to the epoch
    // week of their first event, distinct-active counts per (cohort,
    // offset). Row-level matrix output (weeks x weeks, catalog-sized).
    "q129_cohort_retention" -> ((s, dir) => {
      import graft.operators.EventAnalytics
      val ev = eventsTable(s, dir)
      val base = ev.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      EventAnalytics.cohortRetention(base, Seq("user_id"), "ts_us",
          ts => expr("(ts_us div 86400000000) div 7"))
        .select(col("cohort").cast(DoubleType).as("cohort"),
          col("offset").cast(DoubleType).as("offset"),
          col("active_keys").cast(DoubleType).as("active_keys"))
    }),

    // q130: salted join (lineitem x orders on the order key, salt factor
    // 8 driven by l_partkey) — the hot-key mitigation whose RESULT must
    // equal the plain inner join exactly; the oracle replays the plain
    // join, so any row lost or duplicated by the salting fails the hash.
    "q130_salted_join" -> ((s, dir) => {
      import graft.operators.JoinOps
      val li = table(s, dir, "lineitem")
      val ord = table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      val joined = JoinOps.saltedJoin(li, ord, Seq("l_orderkey"),
        saltSourceCol = "l_partkey", saltFactor = 8,
        rightPayloadCols = Seq("o_custkey"))
      joined.agg(
        count(lit(1)).cast(DoubleType).as("n_joined"),
        coalesce(sum(col("sj_o_custkey")), lit(0L))
          .cast(DoubleType).as("custkey_sum"),
        round(coalesce(sum(col("l_quantity").cast(DecimalType(18, 2))),
          lit(0).cast(DecimalType(18, 2))), 2)
          .cast(DoubleType).as("qty_sum"),
        countDistinct(col("l_orderkey")).cast(DoubleType)
          .as("distinct_orders"))
    }),

    // q131: bloom-prefiltered semi-join (lineitems of URGENT orders) —
    // the bitset kills non-members map-side with no false negatives, the
    // exact verify removes false positives; the oracle replays a plain
    // EXISTS semi-join, so the technique must not change the answer.
    "q131_bloom_semijoin" -> ((s, dir) => {
      import graft.operators.JoinOps
      val li = table(s, dir, "lineitem")
      val urgent = table(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      val semi = JoinOps.bloomSemiJoin(li, urgent, Seq("l_orderkey"),
        expectedItems = 100000L)
      semi.agg(
        count(lit(1)).cast(DoubleType).as("n_rows"),
        countDistinct(col("l_orderkey")).cast(DoubleType)
          .as("distinct_orders"),
        coalesce(sum_distinct(col("l_orderkey")), lit(0L))
          .cast(DoubleType).as("order_id_sum"),
        round(coalesce(sum(col("l_extendedprice")
          .cast(DecimalType(18, 2))), lit(0).cast(DecimalType(18, 2))), 2)
          .cast(DoubleType).as("price_sum"))
    }),

    // q132: INCREMENTAL SCD2 — the persisted-state twin of q120 (the
    // q76/q93/q107 monoid convention brought to the relational wing):
    // build the dimension from the first half of the change stream
    // (ts <= Jan 15), stage it through parquet, fold the second half in
    // with Scd.applyChanges (closed history passes through untouched —
    // never re-sorted, never re-windowed), and pin that the merged
    // dimension equals the full-stream rebuild ROW FOR ROW (merge_ok).
    // The census columns replay on the full build in the oracle; the
    // batch_opened column pins exactly which versions the batch opened.
    "q132_scd2_incremental" -> ((s, dir) => {
      import graft.operators.Scd
      val ev = eventsTable(s, dir)
      val changes = ev.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_type"), col("event_id"))
      val cutUs = 1705276800000000L // 2024-01-15 00:00:00 UTC
      withTempDir("graft-q132") { tmp =>
      Scd.scdType2(changes.where(col("ts_us") <= cutUs), Seq("user_id"),
          "ts_us", Seq("event_type"), tiebreakCols = Seq("event_id"))
        .write.mode("overwrite").parquet(tmp)
      val prior = s.read.parquet(tmp)
      val merged = Scd.applyChanges(prior,
        changes.where(col("ts_us") > cutUs), Seq("user_id"), "ts_us",
        Seq("event_type"), tiebreakCols = Seq("event_id"))
        .persist()
      val full = Scd.scdType2(changes, Seq("user_id"), "ts_us",
        Seq("event_type"), tiebreakCols = Seq("event_id"))
      // row-for-row: symmetric difference empty over ALL columns
      val cols = merged.columns.sorted.map(col).toSeq
      val mergeOk = bagEq(merged.select(cols: _*), full.select(cols: _*))
      val out = merged.agg(
        count(lit(1)).cast(DoubleType).as("n_versions"),
        sum(when(col("is_current"), 1L).otherwise(0L))
          .cast(DoubleType).as("current_versions"),
        coalesce(sum(col("event_id")), lit(0L))
          .cast(DoubleType).as("version_eid_sum"),
        coalesce(max(col("version")), lit(0))
          .cast(DoubleType).as("max_versions"),
        coalesce(sum(expr(
          "(valid_to - valid_from) div 1000000")), lit(0L))
          .cast(DoubleType).as("closed_duration_s"),
        sum(when(col("valid_from") > cutUs, 1L).otherwise(0L))
          .cast(DoubleType).as("batch_opened"),
        lit(if (mergeOk) 1.0 else 0.0).as("merge_ok"))
      collectReleasing(s, out)(merged.unpersist(blocking = false))
      }
    }),

    // q133: INCREMENTAL fuzzy paragraph dedup — q104's packed-id space
    // composed with the q76 persisted-LSH-state machinery (verdict's
    // Dolma production shape): paragraph history of docs < 300 staged
    // through parquet as two merged half-states; the batch is a re-crawl
    // of docs [250,300) (every paragraph exact-matches history → all
    // dropped) plus fresh docs [300,350), re-keyed +1e6 so batch pids
    // order after history pids. At threshold 0.8 the fuzzy machinery
    // equals shingle-SET-identity dedup on this corpus STRUCTURALLY: the
    // injected breaks cap paragraphs at 4 tokens, so non-identical
    // paragraph pairs have Jaccard <= 1/2 < 0.8 (and the history-side
    // signature-agreement estimator sits >= 4.8 sigma below 0.8), while
    // identical sets share every band of every bucket — candidacy and
    // agreement 1.0 are certain. parity_ok pins the engine's fuzzy
    // result against that exact-identity replay doc-for-doc (text_clean
    // strings AND kept counts); the oracle replays the identity dedup.
    "q133_incremental_para_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{array_sort, collect_list, concat_ws, shiftleft, transform => ftransform}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val paraDocs = docs.select(col("doc_id"),
        regexp_replace(col("text"), ParaInjectPattern, ParaInjectReplacement)
          .as("text"))
      val history = paraDocs.where(col("doc_id") < 300)
      val batch = paraDocs
        .where(col("doc_id") >= 250 && col("doc_id") < 350)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      withTempDir("graft-q133") { statePath =>
        // ONE tokenize pass per corpus side (guide §1.2): the history
        // occurrences feed both half-state builds AND the exact-replay
        // key set; the batch occurrences feed the incremental engine
        // pass AND the replay. Previously history was tokenized 3x
        // (two half-states + histKeys) and the batch 2x.
        val occHist = Dedup.paragraphOccurrences(history, "doc_id", "text")
          .persist()
        val occBatch = Dedup.paragraphOccurrences(batch, "doc_id", "text")
          .persist()
        Dedup.writeLshState(
          Dedup.paragraphLshStateFromOccurrences(
            occHist.where(col("graft_id") < 150))
            .merge(Dedup.paragraphLshStateFromOccurrences(
              occHist.where(col("graft_id") >= 150))),
          statePath)
        val state = Dedup.readLshState(s, statePath)
        val out = Dedup.nearDupParagraphsIncrementalFromOccurrences(
          batch, "doc_id", occBatch, state, threshold = 0.8).persist()

        // exact-identity replay (the structural equal of the fuzzy pass
        // at this threshold): key = sorted distinct shingle set
        val key = array_sort(Dedup.shingles(col("graft_para")))
        val histKeys = occHist
          .select(key.as("graft_key")).distinct()
        val occB = occBatch
          .select(col("graft_id"), col("graft_pos"), col("graft_para"),
            key.as("graft_key"),
            (shiftleft(col("graft_id").cast(LongType), 20) +
              col("graft_pos")).as("graft_pid"))
        val firstPid = occB.groupBy(col("graft_key"))
          .agg(min(col("graft_pid")).as("graft_first"))
        val kept = occB
          .join(histKeys, Seq("graft_key"), "left_anti")
          .join(firstPid, Seq("graft_key"))
          .where(col("graft_pid") === col("graft_first"))
        val expPerDoc = kept.groupBy(col("graft_id"))
          .agg(count(lit(1)).as("e_kept"),
            concat_ws("\n", ftransform(
              array_sort(collect_list(struct(
                col("graft_pos").as("p"), col("graft_para").as("t")))),
              x => x.getField("t"))).as("e_clean"))
        val mismatches = out
          .join(expPerDoc, out("doc_id") === expPerDoc("graft_id"),
            "left_outer")
          .where(!(col("n_kept") <=> coalesce(col("e_kept"), lit(0L))) ||
            !(col("text_clean") <=> coalesce(col("e_clean"), lit(""))))
          .count()
        val g = out.agg(
          count(lit(1)),
          coalesce(sum(col("n_paras")), lit(0L)),
          coalesce(sum(col("n_kept")), lit(0L)),
          coalesce(sum(col("n_removed")), lit(0L)),
          coalesce(sum(when(col("doc_id") < 1000300L, col("n_kept"))),
            lit(0L)),
          coalesce(sum((col("doc_id") - 1000000L) * col("n_kept")),
            lit(0L))).collect().head
        out.unpersist(blocking = false)
        occHist.unpersist(blocking = false)
        occBatch.unpersist(blocking = false)
        metricRow(s, Seq(
          "n_batch_docs" -> g.getLong(0).toDouble,
          "total_paras" -> g.getLong(1).toDouble,
          "kept_paras" -> g.getLong(2).toDouble,
          "removed_paras" -> g.getLong(3).toDouble,
          "recrawl_kept" -> g.getLong(4).toDouble,
          "kept_id_sum" -> g.getLong(5).toDouble,
          "parity_ok" -> flag(mismatches == 0L)))
      }
    }),

    // q134: BYTE-level BPE (the GPT-2/Llama tokenizer family; q77's
    // code-point demo completes to the byte alphabet) — every document
    // with the multi-byte tail injected, counted under the 12-merge demo
    // model, plus the trainer's FIRST byte merge learned from the corpus
    // byte-pair histogram. The oracle replays the merges byte for byte —
    // hex(encode(w)) splits each word into UTF-8 byte symbols, so the
    // c3a9/c3af merges cross real multi-byte boundaries — and re-derives
    // the first merge as the weighted argmax byte pair (ties by smallest
    // bytes, = lexicographic hex).
    "q134_byte_bpe_tokens" -> ((s, dir) => {
      import graft.pipeline.{ByteBpe, Mixing}
      import org.apache.spark.sql.functions.concat_ws
      val docs = table(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", col("text"), lit(ByteBpeInjectTail)).as("text"))
      val model = ByteBpe.ByteBpeModel(ByteBpeDemoMerges)
      val r = docs
        .select(col("doc_id"),
          Mixing.tokenCountExpr(col("text")).as("graft_w"),
          ByteBpe.tokenCountCol(model)(col("text")).as("graft_b"))
        .agg(
          coalesce(sum(col("graft_w")), lit(0L)),
          coalesce(sum(col("graft_b")), lit(0L)),
          coalesce(sum(col("doc_id") * col("graft_b")), lit(0L)))
        .collect().head
      val first = ByteBpe.train(docs, "text", numMerges = 1)
        .merges.headOption.map { case (a, b) => s"$a $b" }.getOrElse("")
      import s.implicits._
      Seq((r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, first))
        .toDF("ws_tokens", "bbpe_tokens", "bbpe_id_weighted", "first_merge")
    }),

    // q135: the q81 mixture machinery budgeted by BYTE-BPE token counts
    // — tokenCountCol plumbed into temperatureBudgets/tokenBudgetSample
    // exactly as the char-BPE and unigram counters are. Same pin
    // structure as q81; budget floor margins measured (see BASELINE.md).
    "q135_byte_bpe_mixture" -> ((s, dir) => {
      import graft.pipeline.{ByteBpe, Mixing}
      import org.apache.spark.sql.functions.concat_ws
      val docs = table(s, dir, "documents").select(col("doc_id"),
        col("source"),
        concat_ws(" ", col("text"), lit(ByteBpeInjectTail)).as("text"))
      val counter =
        ByteBpe.tokenCountCol(ByteBpe.ByteBpeModel(ByteBpeDemoMerges))
      val budgets = Mixing.temperatureBudgets(docs, "source", "text",
        totalBudget = 10000L, alpha = 0.5, tokenCount = counter)
      val stats = Mixing
        .tokenBudgetSample(docs, "doc_id", "text", "source", budgets,
          tokenCount = counter)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("graft_k"),
          sum(counter(col("text"))).as("graft_t"),
          coalesce(sum(col("doc_id")), lit(0L)).as("graft_i"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      import s.implicits._
      budgets.toSeq.sortBy(_._1).map { case (g, b) =>
        val (k, t, i) = stats.getOrElse(g, (0L, 0L, 0L))
        (g, b.toDouble, k.toDouble, t.toDouble, i.toDouble)
      }.toDF("source", "budget", "kept_docs", "kept_bbpe_tokens", "id_sum")
    }),

    // q136: q96's body under the builder's name (see curationV2).
    "q136_curation_builder" -> (curationV2 _),

    // q137: INCREMENTAL sessionization — q127's persisted-state twin
    // (the q132 convention at session granularity): the first half of
    // the event stream's per-session stats staged through parquet, the
    // second half folded in with Sessionize.applySessions — only the
    // batch is windowed; closed sessions pass through, boundary
    // sessions merge when the first batch event lands within the gap.
    // merge_ok pins merged == full rebuild row-for-row; the census and
    // the boundary-spanning/batch-opened counts replay on the full
    // build in the oracle.
    "q137_sessionize_incremental" -> ((s, dir) => {
      import graft.operators.Sessionize
      val ev = eventsTable(s, dir)
      val changes = ev.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_id"))
      val cutUs = 1705276800000000L // 2024-01-15 00:00:00 UTC
      val gapUs = 1800L * 1000000L // 30 minutes
      def statsOf(e: DataFrame) = Sessionize.sessionStats(
        Sessionize.sessionize(e, Seq("user_id"), "ts_us", gapUs,
          tiebreakCols = Seq("event_id")),
        Seq("user_id"), "ts_us")
      withTempDir("graft-q137") { tmp =>
      statsOf(changes.where(col("ts_us") <= cutUs))
        .write.mode("overwrite").parquet(tmp)
      val merged = Sessionize.applySessions(s.read.parquet(tmp),
        changes.where(col("ts_us") > cutUs), Seq("user_id"), "ts_us",
        gapUs, tiebreakCols = Seq("event_id")).persist()
      val full = statsOf(changes)
      val cols = merged.columns.sorted.map(col).toSeq
      val mergeOk = bagEq(merged.select(cols: _*), full.select(cols: _*))
      val out = merged.agg(
        count(lit(1)).cast(DoubleType).as("n_sessions"),
        coalesce(sum(col("n_events")), lit(0L)).cast(DoubleType)
          .as("n_events"),
        coalesce(max(col("session_id")), lit(0L)).cast(DoubleType)
          .as("max_sessions_per_key"),
        coalesce(sum(expr("duration div 1000000")), lit(0L))
          .cast(DoubleType).as("duration_s"),
        sum(when(col("session_start") <= cutUs &&
          col("session_end") > cutUs, 1L).otherwise(0L))
          .cast(DoubleType).as("boundary_spanning"),
        sum(when(col("session_start") > cutUs, 1L).otherwise(0L))
          .cast(DoubleType).as("batch_opened"),
        lit(if (mergeOk) 1.0 else 0.0).as("merge_ok"))
      collectReleasing(s, out)(merged.unpersist(blocking = false))
      }
    }),

    // q138: INCREMENTAL cohort retention — q129's persisted-state twin,
    // and the simplest monoid of the incremental family: the activity
    // state (distinct key×period rows) is a commutative distinct-union,
    // so the two halves fold with NO ordering contract (the Jan-15 cut
    // lands mid-week, so keys active the same week on both sides must
    // dedup across the merge — the case a naive union would double-
    // count). merge_ok pins merged state == full state row-for-row; the
    // matrix census replays on the full stream in the oracle.
    "q138_cohort_incremental" -> ((s, dir) => {
      import graft.operators.EventAnalytics
      val ev = eventsTable(s, dir)
      val base = ev.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      val cutUs = 1705276800000000L
      val per = (_: Column) => expr("(ts_us div 86400000000) div 7")
      withTempDir("graft-q138") { tmp =>
      EventAnalytics.activityState(
          base.where(col("ts_us") <= cutUs), Seq("user_id"), "ts_us", per)
        .write.mode("overwrite").parquet(tmp)
      val merged = EventAnalytics.mergeActivity(
        s.read.parquet(tmp),
        EventAnalytics.activityState(
          base.where(col("ts_us") > cutUs), Seq("user_id"), "ts_us", per))
        .persist()
      val full = EventAnalytics.activityState(base, Seq("user_id"),
        "ts_us", per)
      val mergeOk = bagEq(merged, full)
      val matrix = EventAnalytics
        .cohortRetentionFromState(merged, Seq("user_id"))
      val g = matrix.agg(
        count(lit(1)),
        coalesce(sum(col("active_keys")), lit(0L)),
        coalesce(sum(col("cohort") * col("active_keys")), lit(0L)),
        coalesce(sum(col("offset") * col("active_keys")), lit(0L)),
        coalesce(max(col("offset")), lit(0L))).collect().head
      val stateRows = merged.count()
      merged.unpersist(blocking = false)
      metricRow(s, Seq(
        "matrix_cells" -> g.getLong(0).toDouble,
        "active_mass" -> g.getLong(1).toDouble,
        "cohort_mass" -> g.getLong(2).toDouble,
        "offset_mass" -> g.getLong(3).toDouble,
        "max_offset" -> g.getLong(4).toDouble,
        "state_rows" -> stateRows.toDouble,
        "merge_ok" -> flag(mergeOk)))
      }
    }),

    // q139: INCREMENTAL key-skew census — q121's persisted-state twin:
    // the per-key count table is a commutative monoid under per-key sum,
    // so the census over an unbounded ingest stream folds daily batches
    // into a parquet state with no ordering contract (the q138
    // convention on the relational side). Same injected-null key stream
    // as q121, split mid-history by order date; merge_ok pins merged
    // state == full state row-for-row, and the census replays q121's
    // exact integer/ratio formulas on the full stream.
    "q139_skew_census_incremental" -> ((s, dir) => {
      import graft.operators.SkewCensus
      val orders = table(s, dir, "orders")
      val keyed = orders.select(
        when(pmod(col("o_orderkey"), lit(97)) === 0,
          lit(null).cast(LongType))
          .otherwise(col("o_custkey")).as("k"),
        col("o_orderdate"))
      withTempDir("graft-q139") { tmp =>
      SkewCensus.keyCountState(
          keyed.where(col("o_orderdate") <= lit("1995-01-01"))
            .select("k"), "k")
        .write.mode("overwrite").parquet(tmp)
      val merged = SkewCensus.mergeKeyCounts(
        s.read.parquet(tmp),
        SkewCensus.keyCountState(
          keyed.where(col("o_orderdate") > lit("1995-01-01"))
            .select("k"), "k"))
        .persist()
      val full = SkewCensus.keyCountState(keyed.select("k"), "k")
      val mergeOk = bagEq(merged, full)
      val out = SkewCensus.censusFromState(merged)
        .withColumn("merge_ok", lit(if (mergeOk) 1.0 else 0.0))
      // materialize BEFORE the state dir is deleted — the census frame
      // reads the parquet state lazily through `merged`
      collectReleasing(s, out)(merged.unpersist(blocking = false))
      }
    }),

    // q140: per-group approximate-distinct state (HLL) — the third
    // persisted sketch monoid (CMS q109, Bloom q110): distinct
    // customers per order priority, the state built half by order date,
    // staged through parquet, and folded with the second half. Exact
    // per-group distincts replay in DuckDB; the sketch's estimates are
    // pinned as tolerance flags (q09 convention). merge_close pins
    // merged-state estimates within 1% of the full-build estimates: in
    // sparse mode they are EXACTLY equal (spec-pinned at 1.5k
    // distincts, and measured so at sf0.001/sf0.01 here), but in dense
    // mode (sf0.1, ~13k distincts) DataSketches' union gadget (HLL_8)
    // reconstructs registers on a different path than the streaming
    // HLL_4 build and the estimates drift by a few counts — sub-0.1%
    // measured, bounded at 1% with margin.
    "q140_hll_distinct_state" -> ((s, dir) => {
      import graft.sketch.HllState
      val orders = table(s, dir, "orders")
      withTempDir("graft-q140") { tmp =>
      HllState.writeState(
        HllState.distinctState(
          orders.where(col("o_orderdate") <= lit("1995-01-01")),
          Seq("o_orderpriority"), Seq("o_custkey")),
        tmp)
      val merged = HllState.mergeStates(
        HllState.readState(s, tmp),
        HllState.distinctState(
          orders.where(col("o_orderdate") > lit("1995-01-01")),
          Seq("o_orderpriority"), Seq("o_custkey")))
      val est = HllState.estimates(merged)
      val fullEst = HllState.estimates(HllState.distinctState(
        orders, Seq("o_orderpriority"), Seq("o_custkey")))
      val exact = orders.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("graft_exact"))
      val out = est
        .join(fullEst.withColumnRenamed("distinct_est", "graft_full"),
          Seq("o_orderpriority"))
        .join(exact, Seq("o_orderpriority"))
        .select(col("o_orderpriority"),
          col("graft_exact").cast(DoubleType).as("exact_distinct"),
          when(abs(col("distinct_est") - col("graft_exact"))
            .cast(DoubleType) / col("graft_exact") <= 0.05, 1.0)
            .otherwise(0.0).as("est_ok"),
          when(abs(col("distinct_est") - col("graft_full"))
            .cast(DoubleType) / col("graft_exact") <= 0.01, 1.0)
            .otherwise(0.0).as("merge_close"))
        .orderBy(col("o_orderpriority"))
      // materialize BEFORE the state dir is deleted — `est` reads the
      // parquet state lazily through readState
      collectReleasing(s, out)(())
      }
    }),

    // q141: deterministic CONSISTENT sampling state — per source, the 8
    // documents with the smallest (md5-prefix hash, id) rank (the
    // mixture family's replayable hash), built as two half-samples
    // (doc parity) staged through parquet and folded — bottom-k by a
    // fixed hash is a commutative min-k monoid, so the merged sample
    // equals the full build's ROW FOR ROW (merge_ok), and the oracle
    // replays every (source, doc_id, sample_hash, rank) row exactly.
    "q141_consistent_sample" -> ((s, dir) => {
      import graft.pipeline.Sampling
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val k = 8
      withTempDir("graft-q141") { tmp =>
      Sampling.bottomKSample(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), Seq("source"),
          "doc_id", k)
        .write.mode("overwrite").parquet(tmp)
      val merged = Sampling.mergeSamples(
        s.read.parquet(tmp),
        Sampling.bottomKSample(
          docs.where(pmod(col("doc_id"), lit(2)) === 1), Seq("source"),
          "doc_id", k),
        Seq("source"), "doc_id", k).persist()
      val full = Sampling.bottomKSample(docs, Seq("source"), "doc_id", k)
      val cols = merged.columns.sorted.map(col).toSeq
      val mergeOk = bagEq(merged.select(cols: _*), full.select(cols: _*))
      val out = merged
        .withColumn("merge_ok", lit(if (mergeOk) 1.0 else 0.0))
        .withColumn("doc_id", col("doc_id").cast(DoubleType))
        .withColumn("rank", col("rank").cast(DoubleType))
        .orderBy(col("source"), col("rank"))
      collectReleasing(s, out)(merged.unpersist(blocking = false))
      }
    }),

    // q142: theta-sketch snapshot overlap — per source, how many
    // distinct TEXTS two crawl snapshots (doc_id%3!=0 vs doc_id%2==0)
    // share, and how many are A-only, WITHOUT joining the corpora: the
    // A-side state staged through parquet, the B side sketched fresh,
    // all five set estimates from KB of sketch per source. Exact
    // distinct-set values replay in DuckDB; the sketch estimates ride
    // tolerance flags (5% for the direct sets, 10% for the compounded
    // intersection/difference — theta is exact below 2^12 distincts, so
    // the flags are equalities at the small SFs).
    "q142_theta_overlap" -> ((s, dir) => {
      import graft.sketch.Theta
      val docs = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      val a = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val b = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      withTempDir("graft-q142") { tmp =>
      Theta.writeState(
        Theta.thetaState(a, Seq("source"), Seq("text")), tmp)
      val ov = Theta.overlap(
        Theta.readState(s, tmp),
        Theta.thetaState(b, Seq("source"), Seq("text")))
      val ta = a.select(col("source"), col("text")).distinct().persist()
      val tb = b.select(col("source"), col("text")).distinct().persist()
      val exA = ta.groupBy(col("source")).agg(count(lit(1)).as("x_a"))
      val exB = tb.groupBy(col("source")).agg(count(lit(1)).as("x_b"))
      val exU = ta.unionByName(tb).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("x_u"))
      val exI = ta.join(tb, Seq("source", "text"), "left_semi")
        .groupBy(col("source")).agg(count(lit(1)).as("x_i"))
      val exD = ta.join(tb, Seq("source", "text"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("x_d"))
      def okFlag(est: String, exact: String, tol: Double) =
        when(abs(col(est) - col(exact)).cast(DoubleType) /
          greatest(col(exact), lit(1L)).cast(DoubleType) <= tol, 1.0)
          .otherwise(0.0)
      val out = ov.join(exA, Seq("source")).join(exB, Seq("source"))
        .join(exU, Seq("source"))
        .join(exI, Seq("source"), "left").join(exD, Seq("source"), "left")
        .na.fill(0L, Seq("x_i", "x_d"))
        .select(col("source"),
          col("x_a").cast(DoubleType).as("exact_a"),
          col("x_b").cast(DoubleType).as("exact_b"),
          col("x_u").cast(DoubleType).as("exact_union"),
          col("x_i").cast(DoubleType).as("exact_intersect"),
          col("x_d").cast(DoubleType).as("exact_a_not_b"),
          okFlag("est_a", "x_a", 0.05).as("a_ok"),
          okFlag("est_b", "x_b", 0.05).as("b_ok"),
          okFlag("est_union", "x_u", 0.05).as("union_ok"),
          okFlag("est_intersect", "x_i", 0.10).as("intersect_ok"),
          okFlag("est_a_not_b", "x_d", 0.10).as("diff_ok"))
        .orderBy(col("source"))
      collectReleasing(s, out) {
        ta.unpersist(blocking = false)
        tb.unpersist(blocking = false)
      }
      }
    }),

    // q143: the persisted-sketch family wired into the CHECK/DQDL
    // surface — the reference's state → metric → constraint convention
    // over parquet-staged sketch states: a VerificationSuite Check
    // (hasApproxCountDistinctFromState / hasSnapshotOverlap) and a DQDL
    // ruleset evaluate against KB-per-group state tables (per-source
    // HLL distinct states; q142's two theta snapshot states joined),
    // the corpus never rescanned at check time. Estimates ride
    // tolerance flags vs in-query exact replays (the q140/q142
    // convention); the oracle replays the exacts and asserts the flags.
    "q143_sketch_state_checks" -> ((s, dir) => {
      import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
      import graft.operators.{ApproxCountDistinctFromState, SnapshotOverlap}
      import graft.sketch.{HllState, Theta}
      val docs = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      val a = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val b = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      withTempDir("graft-q143") { tmp =>
      // stage the three states through parquet (the production shape)
      HllState.writeState(
        HllState.distinctState(docs, Seq("source"), Seq("text")),
        s"$tmp/hll")
      Theta.writeState(
        Theta.thetaState(a, Seq("source"), Seq("text")), s"$tmp/ta")
      Theta.writeState(
        Theta.thetaState(b, Seq("source"), Seq("text")), s"$tmp/tb")
      val hllState = HllState.readState(s, s"$tmp/hll")
      val thetaJoined = Theta.readState(s, s"$tmp/ta")
        .withColumnRenamed("theta", "theta_a")
        .join(Theta.readState(s, s"$tmp/tb")
          .withColumnRenamed("theta", "theta_b"), Seq("source"), "full_outer")

      // exact replays (Spark side; the oracle recomputes them in DuckDB)
      val exactDistinct = docs.select(col("text")).distinct().count()
      val ta = a.select("text").distinct().persist()
      val tb = b.select("text").distinct().persist()
      val exactI = ta.join(tb, Seq("text"), "left_semi").count()
      val exactU = ta.unionByName(tb).distinct().count()
      val exactJac = exactI.toDouble / math.max(exactU, 1L).toDouble
      ta.unpersist(blocking = false)
      tb.unpersist(blocking = false)

      // from-state estimates via the analyzers' own metric path
      val estDistinct = ApproxCountDistinctFromState("hll")
        .calculate(hllState).value.get
      val estJac = SnapshotOverlap("theta_a", "theta_b")
        .calculate(thetaJoined).value.get

      // the Check surface over the state tables
      val hllOk = VerificationSuite().onData(hllState)
        .addCheck(Check(CheckLevel.Error, "hll state distinct count")
          .hasApproxCountDistinctFromState("hll",
            d => math.abs(d - exactDistinct) <= 0.05 * exactDistinct))
        .run().status == CheckStatus.Success
      val thetaOk = VerificationSuite().onData(thetaJoined)
        .addCheck(Check(CheckLevel.Error, "snapshot overlap drift")
          .hasSnapshotOverlap("theta_a", "theta_b",
            d => math.abs(d - exactJac) <= 0.05))
        .run().status == CheckStatus.Success

      // the DQDL surface over the same staged states (the snapshot
      // overlap sits near 0.4 by the snapshots' construction at any SF)
      val dqdlPassed =
        graft.dqdl.EvaluateDataQuality.process(hllState,
          """Rules = [ ApproxCountDistinctFromState "hll" > 0 ]""")
          .where(col("outcome") === "Passed").count() +
        graft.dqdl.EvaluateDataQuality.process(thetaJoined,
          """Rules = [ SnapshotOverlap "theta_a" "theta_b" between 0.05 and 0.95 ]""")
          .where(col("outcome") === "Passed").count()

      val stateRows = hllState.count()
      metricRow(s, Seq(
        "exact_distinct" -> exactDistinct.toDouble,
        "exact_intersect" -> exactI.toDouble,
        "exact_union" -> exactU.toDouble,
        "state_rows" -> stateRows.toDouble,
        "hll_est_ok" -> flag(
          math.abs(estDistinct - exactDistinct) <= 0.05 * exactDistinct),
        "overlap_est_ok" -> flag(math.abs(estJac - exactJac) <= 0.05),
        "hll_check_ok" -> flag(hllOk),
        "theta_check_ok" -> flag(thetaOk),
        "dqdl_passed" -> dqdlPassed.toDouble))
      }
    }),

    // q144: per-group KLL quantile state — the QUANTILE member of the
    // persisted sketch family (CMS q109, Bloom q110, HLL q140, theta
    // q142): per-l_returnflag sketches of l_quantity built half by ship
    // date, staged through parquet, folded, and queried for p25/p50/p75
    // without rescanning the corpus — plus the from-state Check/DQDL
    // surface folding the merged state to a global median (the q143
    // convention). Exact quantiles replay in DuckDB; sketch estimates
    // ride tolerance flags (rank error bounded by the 4096 sketch,
    // merged-vs-full proximity bounds the merge path).
    "q144_kll_quantile_state" -> ((s, dir) => {
      import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
      import graft.sketch.KllGroupState
      val li = table(s, dir, "lineitem")
      withTempDir("graft-q144") { tmp =>
      val sz = 4096
      val cut = lit("1995-06-01")
      KllGroupState.writeState(
        KllGroupState.quantileState(li.where(col("l_shipdate") <= cut),
          Seq("l_returnflag"), "l_quantity", sz), tmp)
      val merged = KllGroupState.mergeStates(
        KllGroupState.readState(s, tmp),
        KllGroupState.quantileState(li.where(col("l_shipdate") > cut),
          Seq("l_returnflag"), "l_quantity", sz), sz).persist()
      val full = KllGroupState.quantileState(li, Seq("l_returnflag"),
        "l_quantity", sz)
      val qs = Seq(0.25, 0.5, 0.75)
      val m = KllGroupState.quantiles(merged, qs,
        Seq("m_p25", "m_p50", "m_p75"))
      val f = KllGroupState.quantiles(full, qs,
        Seq("f_p25", "f_p50", "f_p75"))
      val exact = li.groupBy(col("l_returnflag")).agg(
        expr("percentile(l_quantity, 0.25)").as("e_p25"),
        expr("percentile(l_quantity, 0.5)").as("e_p50"),
        expr("percentile(l_quantity, 0.75)").as("e_p75"))
      // the from-state Check + DQDL surfaces over the merged state
      val globalExact = li
        .agg(expr("percentile(l_quantity, 0.5)")).collect().head.getDouble(0)
      val checkOk = VerificationSuite().onData(merged)
        .addCheck(Check(CheckLevel.Error, "kll state median")
          .hasApproxQuantileFromState("kll", 0.5,
            d => math.abs(d - globalExact) <=
              math.max(1.0, 0.02 * math.abs(globalExact))))
        .run().status == CheckStatus.Success
      val dqdlOk = graft.dqdl.EvaluateDataQuality.process(merged,
          """Rules = [ ApproxQuantileFromState "kll" "0.5" between 10 and 40 ]""")
        .where(col("outcome") === "Passed").count() == 1L
      def tol(est: Column, ex: Column): Column =
        when(abs(est - ex) <= greatest(lit(1.0), lit(0.02) * abs(ex)), 1.0)
          .otherwise(0.0)
      val out = exact.join(m, Seq("l_returnflag")).join(f, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          round(col("e_p25"), 6).as("exact_p25"),
          round(col("e_p50"), 6).as("exact_p50"),
          round(col("e_p75"), 6).as("exact_p75"),
          tol(col("m_p25"), col("e_p25")).as("p25_ok"),
          tol(col("m_p50"), col("e_p50")).as("p50_ok"),
          tol(col("m_p75"), col("e_p75")).as("p75_ok"),
          when(abs(col("m_p25") - col("f_p25")) <= 1.0 &&
            abs(col("m_p50") - col("f_p50")) <= 1.0 &&
            abs(col("m_p75") - col("f_p75")) <= 1.0, 1.0)
            .otherwise(0.0).as("merge_close"),
          lit(if (checkOk) 1.0 else 0.0).as("check_ok"),
          lit(if (dqdlOk) 1.0 else 0.0).as("dqdl_ok"))
        .orderBy(col("l_returnflag"))
      collectReleasing(s, out)(merged.unpersist(blocking = false))
      }
    }),

    // q145: per-group Misra-Gries frequent-items state — the FREQUENCY
    // member of the persisted sketch family (CMS q109 needs a candidate
    // set; MG's summary IS the candidates): per-source token summaries
    // built half by doc parity, staged through parquet, folded, and
    // compared against exact counts. Capacity 64 >= the corpus
    // vocabulary, so the exact-mode path must match exact counts
    // IDENTICALLY (the theta exact-mode convention); a capacity-16 state
    // exercises pruning, whose deterministic guarantees (never
    // overcounts; undercount <= (n-S)/(k+1); every item above the bound
    // present) ride flags. Check/DQDL fold the merged state to the
    // global top token's ratio — exact, because folding exact per-group
    // summaries sum-only stays exact.
    "q145_freq_items_state" -> ((s, dir) => {
      import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
      import graft.sketch.FreqItems
      // slim (source, doc_id, item) rows feed five downstream passes
      // (two half-states, the pruned state, exact counts, the global
      // top) — one tokenize, cached
      val toks = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          explode(graft.pipeline.TextAnalysis.tokens(lower(col("text"))))
            .as("item"))
        .persist()
      withTempDir("graft-q145") { tmp =>
      val kBig = 64
      val kSmall = 16
      val phi = 0.04
      FreqItems.writeState(FreqItems.freqState(
        toks.where(pmod(col("doc_id"), lit(2)) === 0),
        Seq("source"), "item", kBig), tmp)
      val merged = FreqItems.mergeStates(
        FreqItems.readState(s, tmp),
        FreqItems.freqState(toks.where(pmod(col("doc_id"), lit(2)) =!= 0),
          Seq("source"), "item", kBig), kBig).persist()
      val small = FreqItems.freqState(toks, Seq("source"), "item", kSmall)
      val exact = toks.groupBy(col("source"), col("item"))
        .agg(count(lit(1)).as("cnt")).persist()
      // exact-mode: the folded capacity-64 state must equal exact counts
      val estBig = merged.select(col("source"),
        col("mg.n").as("mg_n"),
        explode(col("mg.counters")).as(Seq("item", "est")))
      val exactOk = estBig.join(exact, Seq("source", "item"), "full_outer")
        .groupBy(col("source")).agg(
          min(when(col("est") === col("cnt"), 1.0).otherwise(0.0))
            .as("exact_state_ok"),
          max(col("mg_n")).as("mg_n"))
      // pruned-mode: the Misra-Gries guarantees on the capacity-16 state
      val smallErr = small.select(col("source"),
        col("mg.n").as("s_n"),
        ((col("mg.n") - aggregate(map_values(col("mg.counters")), lit(0L),
          _ + _)).cast("double") / (kSmall + 1.0)).as("err"))
      val estSmall = small.select(col("source"),
        explode(col("mg.counters")).as(Seq("item", "s_est")))
      val boundOk = exact.join(estSmall, Seq("source", "item"), "left_outer")
        .join(smallErr, Seq("source")).groupBy(col("source")).agg(
          min(when(coalesce(col("s_est"), lit(0L)) <= col("cnt") &&
            (col("cnt") - coalesce(col("s_est"), lit(0L))).cast("double")
              <= col("err") + lit(1e-9), 1.0).otherwise(0.0)).as("bound_ok"))
      // heavy-hitter guarantee at phi: no true HH missing from the report
      val hh = FreqItems.heavyHitters(small, phi, kSmall)
      val trueHH = exact.join(
        exact.groupBy("source").agg(sum("cnt").as("n_tokens")), Seq("source"))
        .where(col("cnt") > lit(phi) * col("n_tokens"))
      val hhMissing = trueHH.join(hh, Seq("source", "item"), "left_anti").count()
      val nTrueHH = trueHH.groupBy(col("source"))
        .agg(count(lit(1)).as("n_true_hh"))
      // Check + DQDL fold the per-source states to the global top ratio
      val topRow = toks.groupBy(col("item")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("item")).limit(1).collect().head
      val (topItem, topCnt) = (topRow.getString(0), topRow.getLong(1))
      val nTotal = toks.count()
      val exactRatio = topCnt.toDouble / nTotal
      val checkOk = VerificationSuite().onData(merged)
        .addCheck(Check(CheckLevel.Error, "mg state top item")
          .hasApproxItemFrequencyFromState("mg", topItem,
            d => math.abs(d - exactRatio) <= 1e-9))
        .run().status == CheckStatus.Success
      val dqdlOk = graft.dqdl.EvaluateDataQuality.process(merged,
          s"""Rules = [ ApproxItemFrequencyFromState "mg" "$topItem" between ${exactRatio - 5e-4} and ${exactRatio + 5e-4} ]""")
        .where(col("outcome") === "Passed").count() == 1L
      val out = exact.groupBy(col("source")).agg(
          sum("cnt").as("n_tokens"), max("cnt").as("top_cnt"))
        .join(exactOk, Seq("source")).join(boundOk, Seq("source"))
        .join(nTrueHH, Seq("source"), "left_outer")
        .select(col("source"),
          col("n_tokens").cast("double").as("n_tokens"),
          col("top_cnt").cast("double").as("top_cnt"),
          coalesce(col("n_true_hh"), lit(0L)).cast("double").as("n_true_hh"),
          col("exact_state_ok"),
          when(col("mg_n") === col("n_tokens"), 1.0).otherwise(0.0).as("n_ok"),
          col("bound_ok"),
          lit(if (hhMissing == 0L) 1.0 else 0.0).as("hh_ok"),
          lit(if (checkOk) 1.0 else 0.0).as("check_ok"),
          lit(if (dqdlOk) 1.0 else 0.0).as("dqdl_ok"))
        .orderBy(col("source"))
      collectReleasing(s, out) {
        merged.unpersist(blocking = false)
        exact.unpersist(blocking = false)
        toks.unpersist(blocking = false)
      }
      }
    }),

    // q146: incremental funnel over the bounded per-(key, step) state —
    // the funnel's own output is not foldable (q128's doc), but the cap
    // EARLIEST timestamps per (user, step) + exact totals ARE a
    // commutative monoid, and the greedy replay knows per key whether it
    // is provably exact. Events split by timestamp PARITY (maximally
    // order-hostile), staged through parquet, folded; cap 64 covers
    // every per-(user, step) count at all SFs so the replay must equal
    // the batch funnel exactly (oracle: the q128 recurrence). A cap-2
    // state exercises truncation: flagged keys only ever under-count,
    // exact-flagged keys still match the batch funnel row-for-row.
    "q146_funnel_incremental" -> ((s, dir) => {
      import graft.operators.EventAnalytics
      val ev = eventsTable(s, dir)
      val base = ev.select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_type"))
      val steps = Seq(col("event_type") === "signup",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase")
      withTempDir("graft-q146") { tmp =>
      val cap = 64
      def state(df: DataFrame, c: Int) =
        EventAnalytics.funnelState(df, Seq("user_id"), "ts_us", steps, c)
      state(base.where(pmod(col("ts_us"), lit(2)) === 0), cap)
        .write.mode("overwrite").parquet(tmp)
      val folded = EventAnalytics.mergeFunnelStates(
        s.read.parquet(tmp),
        state(base.where(pmod(col("ts_us"), lit(2)) =!= 0), cap), cap)
      val rep = EventAnalytics.funnelFromState(folded, 4).persist()
      val repCore = rep.select(col("user_id"), col("t0"), col("t1"),
        col("t2"), col("t3"), col("steps_completed"))
      val full = EventAnalytics.funnelFromState(state(base, cap), 4)
        .select(col("user_id"), col("t0"), col("t1"), col("t2"), col("t3"),
          col("steps_completed"))
      val batch = EventAnalytics.funnel(base, Seq("user_id"), "ts_us", steps)
        .select(col("user_id"), col("t0"), col("t1"), col("t2"), col("t3"),
          col("steps_completed")).persist()
      val allExact = rep.where(!col("exact")).count() == 0L
      val mergeOk = bagEq(repCore, full)
      val batchOk = bagEq(repCore, batch)
      // the truncating cap: flagged-only under-count, exact rows match
      val sc = EventAnalytics.funnelFromState(state(base, 2), 4)
        .join(batch.select(col("user_id"),
          col("t0").as("b0"), col("t1").as("b1"), col("t2").as("b2"),
          col("t3").as("b3"), col("steps_completed").as("bn")), Seq("user_id"))
        .persist()
      val scNoOvercount =
        sc.where(col("steps_completed") > col("bn")).count() == 0L
      val scExactMatch = sc.where(col("exact") &&
        (col("steps_completed") =!= col("bn") ||
          !(col("t0") <=> col("b0")) || !(col("t1") <=> col("b1")) ||
          !(col("t2") <=> col("b2")) || !(col("t3") <=> col("b3"))))
        .count() == 0L
      val lagSecs = (1 to 3).map(i =>
        coalesce(sum(expr(s"(t$i - t${i - 1}) div 1000000")), lit(0L))
          .cast(DoubleType).as(s"step${i}_lag_s"))
      val stepUsers = (0 to 3).map(i =>
        sum(when(col(s"t$i").isNotNull, 1L).otherwise(0L))
          .cast(DoubleType).as(s"step${i}_users"))
      val out = rep.agg((stepUsers ++ lagSecs).head,
          (stepUsers ++ lagSecs).tail: _*)
        .select(col("*"),
          lit(if (allExact) 1.0 else 0.0).as("all_exact"),
          lit(if (mergeOk) 1.0 else 0.0).as("merge_ok"),
          lit(if (batchOk) 1.0 else 0.0).as("batch_ok"),
          lit(if (scNoOvercount) 1.0 else 0.0).as("cap2_no_overcount"),
          lit(if (scExactMatch) 1.0 else 0.0).as("cap2_exact_match"))
      collectReleasing(s, out) {
        rep.unpersist(blocking = false)
        batch.unpersist(blocking = false)
        sc.unpersist(blocking = false)
      }
      }
    }),

    // q147: the persisted dedup state maintained by a REAL Structured
    // Streaming query — documents land as four parquet files, a file
    // stream (maxFilesPerTrigger=1) ingests them micro-batch by
    // micro-batch, and foreachBatch appends one slim (text-hash, min id)
    // state part per batch. (hash → min id) is a commutative monoid, so
    // the folded survivor set equals the batch exact dedup (q21's
    // convention) NO MATTER how the stream chopped the corpus — pinned
    // row-for-row against Dedup.exact and replayed exactly in DuckDB.
    "q147_streaming_dedup_ingest" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val docs = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      withTempDir("graft-q147") { tmp =>
      val ingest = new StreamingOps.DedupIngest(s"$tmp/state", "text", "doc_id")
      // ONE staging job writing 4 part files (round-robin) instead of 4
      // filtered passes over the corpus: the ingest fold is a commutative
      // monoid pinned streamed == one-shot, so batch membership is
      // immaterial — only that several micro-batches exist.
      streamStaged(s, docs, 4, tmp)(ingest.asForeachBatch())
      val surv = ingest.survivors(s).persist()
      val survIds = surv.select(col("graft_min_id").as("doc_id"))
      val batchIds = graft.pipeline.Dedup.exact(docs, Seq("text"), "doc_id")
        .select(col("doc_id"))
      val parityOk = bagEq(survIds, batchIds)
      val out = surv.agg(
          count(lit(1)).cast(DoubleType).as("n_survivors"),
          sum(col("graft_min_id")).cast(DoubleType).as("id_sum"))
        .select(lit(docs.count().toDouble).as("n_docs"),
          col("n_survivors"), col("id_sum"),
          lit(if (parityOk) 1.0 else 0.0).as("parity_ok"))
      collectReleasing(s, out)(surv.unpersist(blocking = false))
      }
    }),

    // q148: incremental IVF index maintenance — the production ANN shape:
    // the coarse quantizer is trained ONCE, staged as parquet, and
    // FROZEN; each batch's postings are a map-side assignment appended
    // under it. Postings are a commutative monoid (bag union), so the
    // parity-split staged index must equal the one-shot build
    // row-for-row (pinned), the model must survive its parquet round
    // trip bit-exactly (pinned), and serving from the staged state keeps
    // q27's completeness/recall bars against exact brute force.
    "q148_ivf_index_state" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      withTempDir("graft-q148") { tmp =>
      val trained = Similarity.trainIvfCentroids(emb, "embedding", nlist = 8)
      Similarity.ivfModelFrame(s, trained)
        .write.mode("overwrite").parquet(s"$tmp/model")
      val centroids = Similarity.readIvfModel(s, s"$tmp/model")
      val modelOk = trained.length == centroids.length &&
        trained.zip(centroids).forall { case (a, b) =>
          java.util.Arrays.equals(a, b) }
      // batches by vec_id parity, staged OUT of order
      Similarity.ivfIndexState(emb.where(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", centroids)
        .write.mode("overwrite").parquet(s"$tmp/post/batch=1")
      Similarity.ivfIndexState(emb.where(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", centroids)
        .write.mode("overwrite").parquet(s"$tmp/post/batch=0")
      val state = s.read.parquet(s"$tmp/post")
        .select(col("graft_cell"), col("neighbor_id"), col("graft_cv"))
        .persist()
      val oneShot = Similarity.ivfIndexState(emb, "vec_id", "embedding",
        centroids).select(col("graft_cell"), col("neighbor_id"), col("graft_cv"))
      val slim = state.select(col("graft_cell"), col("neighbor_id"))
      val slimOne = oneShot.select(col("graft_cell"), col("neighbor_id"))
      val parityOk = bagEq(slim, slimOne)
      val queries = emb.filter(col("vec_id") < 5)
      val nQueries = queries.count()
      val ivf = annTop4(Similarity.ivfTopKFromState(state, centroids,
        queries, "vec_id", "embedding", k = 5, nprobe = 6))
        .select("query_id", "neighbor_id").persist()
      val bf = annTop4(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5))
        .select("query_id", "neighbor_id").persist()
      val nBf = bf.count()
      val matched = bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
      val nIvf = ivf.count()
      val nVectors = emb.count()
      state.unpersist(blocking = false)
      ivf.unpersist(blocking = false)
      bf.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_vectors" -> nVectors.toDouble,
        "n_queries" -> nQueries.toDouble,
        "model_roundtrip_ok" -> flag(modelOk),
        "state_parity_ok" -> flag(parityOk),
        "ivf_complete_ok" -> flag(nIvf == nBf),
        "ivf_recall_ok" -> flag(nBf == 0 || matched.toDouble / nBf >= 0.8)))
      }
    }),

    // q149: incremental PQ index maintenance — the compressed sibling of
    // q148: codebooks trained once, staged as parquet, FROZEN; each
    // batch's m-byte code rows are a map-side encode appended under them
    // (bag-union monoid). Staged-vs-one-shot code parity and the model
    // round trip are pinned exactly; serving from the staged codes must
    // return the IDENTICAL top-k sets as the one-shot pqTopK on the same
    // model, and q80's completeness/recall bars hold against exact brute
    // force.
    "q149_pq_index_state" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8L)
      val k = 10
      withTempDir("graft-q149") { tmp =>
      val trained = Similarity.trainPq(emb, "embedding", m = 16, ksub = 64)
      Similarity.pqModelFrame(s, trained)
        .write.mode("overwrite").parquet(s"$tmp/model")
      val model = Similarity.readPqModel(s, s"$tmp/model")
      val modelOk = model.m == trained.m && model.dsub == trained.dsub &&
        model.codebooks.indices.forall(j =>
          model.codebooks(j).length == trained.codebooks(j).length &&
            model.codebooks(j).indices.forall(c => java.util.Arrays.equals(
              model.codebooks(j)(c), trained.codebooks(j)(c))))
      Similarity.pqCodesState(emb.where(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", model)
        .write.mode("overwrite").parquet(s"$tmp/codes/batch=1")
      Similarity.pqCodesState(emb.where(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", model)
        .write.mode("overwrite").parquet(s"$tmp/codes/batch=0")
      val codes = s.read.parquet(s"$tmp/codes")
        .select(col("neighbor_id"), col("graft_codes")).persist()
      // persisted: consumed by the parity pin AND the one-shot serve —
      // without it the PQ encode map runs once per consumer
      val oneShot = Similarity.pqCodesState(emb, "vec_id", "embedding", model)
        .persist()
      val parityOk = bagEq(codes, oneShot)
      val served = Similarity.pqTopKFromCodes(codes, model,
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = k, rerank = 120)
        .select("query_id", "neighbor_id").persist()
      val direct = Similarity.pqTopKFromCodes(oneShot, model,
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = k, rerank = 120)
        .select("query_id", "neighbor_id")
      val serveOk = bagEq(served, direct)
      oneShot.unpersist(blocking = false)
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k)
        .select("query_id", "neighbor_id").persist()
      val nBf = bf.count()
      val matched = bf.join(served, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val nServed = served.count()
      codes.unpersist(blocking = false)
      served.unpersist(blocking = false)
      bf.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_vectors" -> emb.count().toDouble,
        "n_queries" -> queries.count().toDouble,
        "model_roundtrip_ok" -> flag(modelOk),
        "codes_parity_ok" -> flag(parityOk),
        "serve_parity_ok" -> flag(serveOk),
        "pq_complete_ok" -> flag(nServed == nBf),
        "pq_recall_ok" -> flag(nBf == 0 || matched.toDouble / nBf >= 0.8)))
      }
    }),

    // q150: the composed IVF-PQ index as a persisted state — coarse
    // quantizer AND residual codebooks staged as parquet and frozen;
    // each batch's (cell, residual-codes) rows append map-side. Same
    // pins as q148/q149: both models round-trip bit-exactly, staged
    // postings equal the one-shot encode row-for-row, staged serving
    // equals one-shot serving set-for-set, and q82's completeness/recall
    // bars hold against exact brute force.
    "q150_ivfpq_index_state" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8L)
      val k = 10
      withTempDir("graft-q150") { tmp =>
      val (coarse0, pq0) = Similarity.trainIvfPq(emb, "embedding",
        nlist = 16, m = 16, ksub = 64)
      Similarity.ivfModelFrame(s, coarse0)
        .write.mode("overwrite").parquet(s"$tmp/coarse")
      Similarity.pqModelFrame(s, pq0)
        .write.mode("overwrite").parquet(s"$tmp/pq")
      val coarse = Similarity.readIvfModel(s, s"$tmp/coarse")
      val pq = Similarity.readPqModel(s, s"$tmp/pq")
      val modelOk = coarse.length == coarse0.length &&
        coarse.zip(coarse0).forall { case (a, b) =>
          java.util.Arrays.equals(a, b) } &&
        pq.m == pq0.m && pq.dsub == pq0.dsub &&
        pq.codebooks.indices.forall(j =>
          pq.codebooks(j).length == pq0.codebooks(j).length &&
            pq.codebooks(j).indices.forall(c => java.util.Arrays.equals(
              pq.codebooks(j)(c), pq0.codebooks(j)(c))))
      Similarity.ivfPqCodesState(emb.where(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", coarse, pq)
        .write.mode("overwrite").parquet(s"$tmp/codes/batch=1")
      Similarity.ivfPqCodesState(emb.where(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", coarse, pq)
        .write.mode("overwrite").parquet(s"$tmp/codes/batch=0")
      val codes = s.read.parquet(s"$tmp/codes")
        .select(col("neighbor_id"), col("graft_cell"), col("graft_codes"))
        .persist()
      // persisted: consumed by the parity pin AND the one-shot serve —
      // without it the IVF-PQ encode map runs once per consumer
      val oneShot = Similarity.ivfPqCodesState(emb, "vec_id", "embedding",
        coarse, pq).persist()
      val parityOk = bagEq(codes, oneShot)
      val served = Similarity.ivfPqTopKFromCodes(codes, coarse, pq,
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = k, nprobe = 14, rerank = 120)
        .select("query_id", "neighbor_id").persist()
      val direct = Similarity.ivfPqTopKFromCodes(oneShot, coarse, pq,
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = k, nprobe = 14, rerank = 120)
        .select("query_id", "neighbor_id")
      val serveOk = bagEq(served, direct)
      oneShot.unpersist(blocking = false)
      val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = k)
        .select("query_id", "neighbor_id").persist()
      val nBf = bf.count()
      val matched = bf.join(served, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val nServed = served.count()
      codes.unpersist(blocking = false)
      served.unpersist(blocking = false)
      bf.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_vectors" -> emb.count().toDouble,
        "n_queries" -> queries.count().toDouble,
        "model_roundtrip_ok" -> flag(modelOk),
        "codes_parity_ok" -> flag(parityOk),
        "serve_parity_ok" -> flag(serveOk),
        "ivfpq_complete_ok" -> flag(nServed == nBf),
        "ivfpq_recall_ok" -> flag(nBf == 0 || matched.toDouble / nBf >= 0.9)))
      }
    }),

    // q151: the Curation builder's DedupAgainstState stage — the public
    // pipeline running the daily-ingest shape: batch 1 (odd ids) flows
    // through a KeepWhere gate + the state dedup stage, its new keys
    // land as parquet state; batch 2 (even ids) dedups against that
    // history WITHOUT rescanning it. Survivor election is replayable
    // exactly: per text, the min id of the FIRST batch containing it.
    "q151_curation_state_dedup" -> ((s, dir) => {
      import graft.pipeline.Curation
      val docs = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      withTempDir("graft-q151") { tmp =>
      val state = s"$tmp/seen"
      val gate = Curation.KeepWhere("nonempty", length(col("text")) > 0)
      def run(batch: DataFrame, id: String) = {
        val r = Curation.pipeline(batch, "doc_id", "text",
          Seq(gate, Curation.DedupAgainstState(state, id)),
          persistInput = false)
        val ids = r.docs.select(col("doc_id")).persist()
        val n = ids.count()
        val census = r.censuses.toMap
        r.release()
        (ids, n, census)
      }
      val (ids1, n1, c1) = run(docs.where(pmod(col("doc_id"), lit(2)) === 1), "b1")
      val (ids2, n2, c2) = run(docs.where(pmod(col("doc_id"), lit(2)) === 0), "b2")
      val survivors = ids1.unionByName(ids2).persist()
      val idSum = survivors.agg(coalesce(sum(col("doc_id")), lit(0L)))
        .collect().head.getLong(0)
      // hand-rolled replay of the same two-batch incremental dedup
      val b1 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      val b2 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val s1 = graft.pipeline.Dedup.exact(b1, Seq("text"), "doc_id")
      val hand = s1.select(col("doc_id")).unionByName(
        graft.pipeline.Dedup.exactDedupIncremental(b2, "text", "doc_id",
          graft.pipeline.Dedup.seenTextKeys(b1, "text"))
          .select(col("doc_id")))
      val parityOk = bagEq(survivors, hand)
      val censusOk = c1("state_dedup_kept") == n1.toDouble &&
        c2("state_dedup_kept") == n2.toDouble
      val out = metricRow(s, Seq(
        "b1_kept" -> n1.toDouble,
        "b2_kept" -> n2.toDouble,
        "id_sum" -> idSum.toDouble,
        "parity_ok" -> flag(parityOk),
        "census_ok" -> flag(censusOk)))
      ids1.unpersist(blocking = false)
      ids2.unpersist(blocking = false)
      survivors.unpersist(blocking = false)
      out
      }
    }),

    // q152: the snapshot drift report composed from the persisted sketch
    // family — two crawls' per-source states (HLL distincts, KLL length
    // quantiles, Misra-Gries token frequencies) staged through parquet,
    // then StateDrift answers "what changed" with the corpora never
    // rescanned. The MG side runs in exact mode (capacity >= the corpus
    // vocabulary), so the L1 distance and item churn are pinned as exact
    // values; HLL/KLL estimates ride tolerance flags vs exact replays.
    "q152_state_drift_report" -> ((s, dir) => {
      import graft.sketch.{FreqItems, HllState, KllGroupState, StateDrift}
      val docs = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      // both snapshots cover every source at all SFs (doc_id parity
      // correlates with source in this corpus — %2 would drop half the
      // groups from one side); ids ≡ 2 (mod 3) land in both
      val snapA = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val snapB = docs.where(pmod(col("doc_id"), lit(3)) =!= 1)
      def lens(d: DataFrame) = d.select(col("source"),
        length(col("text")).cast(DoubleType).as("len"))
      withTempDir("graft-q152") { tmp =>
      def stage(name: String, df: DataFrame): DataFrame = {
        df.write.mode("overwrite").parquet(s"$tmp/$name")
        s.read.parquet(s"$tmp/$name")
      }
      val kMg = 64
      // ONE tokenize pass (guide §1.2): both snapshots' per-(source,
      // item) token counts pivot out of the SAME codegen aggregation as
      // weight columns (snapshot A excludes residue 0, B excludes 1).
      // The MG states fold from these slim weighted rows
      // (freqStateWeighted skips zero weights) — in exact mode
      // (capacity >= the per-source vocabulary, pinned by mg_exact_mode
      // below) the MG counters ARE the exact counts, so the built state
      // is IDENTICAL to a raw-stream build; previously each snapshot
      // re-tokenized the corpus through the heap-buffer UDAF.
      val graftR = pmod(col("doc_id"), lit(3))
      val tokCounts = docs.select(graftR.as("graft_r"), col("source"),
          explode(graft.pipeline.TextAnalysis.tokens(lower(col("text"))))
            .as("item"))
        .groupBy(col("source"), col("item"))
        .agg(
          sum(when(col("graft_r") =!= 0, 1L).otherwise(0L)).as("graft_wa"),
          sum(when(col("graft_r") =!= 1, 1L).otherwise(0L)).as("graft_wb"))
        .persist()
      val hllA = stage("hll_a", HllState.distinctState(snapA, Seq("source"), Seq("text")))
      val hllB = stage("hll_b", HllState.distinctState(snapB, Seq("source"), Seq("text")))
      val kllA = stage("kll_a", KllGroupState.quantileState(lens(snapA), Seq("source"), "len"))
      val kllB = stage("kll_b", KllGroupState.quantileState(lens(snapB), Seq("source"), "len"))
      val mgA = stage("mg_a", FreqItems.freqStateWeighted(
        tokCounts, Seq("source"), "item", "graft_wa", kMg))
      val mgB = stage("mg_b", FreqItems.freqStateWeighted(
        tokCounts, Seq("source"), "item", "graft_wb", kMg))
      val dd = StateDrift.distinctDrift(hllA, hllB)
      val qd = StateDrift.quantileDrift(kllA, kllB, Seq(0.5), Seq("p50"))
      val fd = StateDrift.frequencyDrift(mgA, mgB, kMg)
      // exact replays
      val exD = snapA.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("exact_distinct_a"))
        .join(snapB.groupBy(col("source"))
          .agg(countDistinct(col("text")).as("exact_distinct_b")),
          Seq("source"), "full_outer")
        .na.fill(0L, Seq("exact_distinct_a", "exact_distinct_b"))
      def tol(est: Column, ex: Column): Column =
        when(abs(est - ex) <= greatest(lit(1.0), lit(0.05) * abs(ex)), 1.0)
          .otherwise(0.0)
      // per-source counts sit far under the sketch size at every SF, so
      // the KLL stores all values and its quantile rule (smallest v with
      // cum weight >= q*n) IS quantile_disc — p50s pin as exact VALUES
      val out = exD
        .join(dd, Seq("source")).join(qd, Seq("source"))
        .join(fd, Seq("source"))
        .select(col("source"),
          col("exact_distinct_a").cast(DoubleType).as("exact_distinct_a"),
          col("exact_distinct_b").cast(DoubleType).as("exact_distinct_b"),
          tol(col("distinct_a"), col("exact_distinct_a")).as("dd_a_ok"),
          tol(col("distinct_b"), col("exact_distinct_b")).as("dd_b_ok"),
          col("p50_a"), col("p50_b"),
          (col("p50_b") - col("p50_a")).as("p50_shift"),
          col("n_a").cast(DoubleType).as("n_tokens_a"),
          col("n_b").cast(DoubleType).as("n_tokens_b"),
          round(col("l1_est"), 6).as("l1_exact"),
          when(col("l1_err") === 0.0, 1.0).otherwise(0.0).as("mg_exact_mode"),
          col("new_items").cast(DoubleType).as("new_items"),
          col("lost_items").cast(DoubleType).as("lost_items"))
        .orderBy(col("source"))
      collectReleasing(s, out)(tokCounts.unpersist(blocking = false))
      }
    }),

    // q153: drift as a CHECK — the q152 report's signals evaluated by
    // the constraint surface FROM one joined state frame (two snapshots'
    // per-source MG + KLL states, full-outer on source): an
    // ItemFrequencyDrift ceiling and a QuantileShift band, on the Check
    // builder and as DQDL rules, the corpora never rescanned. The L1
    // metric is EXACT here (every fold stays under capacity), pinned as
    // a value against the full corpus-tally replay; the p50 shift rides
    // a tolerance flag (the corpus sketch compacts at this scale).
    "q153_drift_checks" -> ((s, dir) => {
      import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
      import graft.operators.{ItemFrequencyDrift, QuantileShift}
      import graft.sketch.{FreqItems, KllGroupState}
      val docs = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      val snapA = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val snapB = docs.where(pmod(col("doc_id"), lit(3)) =!= 1)
      def lens(d: DataFrame) = d.select(col("source"),
        length(col("text")).cast(DoubleType).as("len"))
      withTempDir("graft-q153") { tmp =>
      def stage(name: String, df: DataFrame): DataFrame = {
        df.write.mode("overwrite").parquet(s"$tmp/$name")
        s.read.parquet(s"$tmp/$name")
      }
      // ONE tokenize pass feeding both MG states AND the exact corpus
      // replay (the q152 pivot trim): per-(source, item) counts with one
      // weight column per snapshot out of a single codegen aggregation;
      // the exact-mode weighted fold builds identical states, and the
      // tally tables / token totals below are sums over the same counts
      // — previously 6 corpus tokenize passes (2 MG builds, 2 tallies,
      // 2 bare token counts).
      val graftR = pmod(col("doc_id"), lit(3))
      val tokCounts = docs.select(graftR.as("graft_r"), col("source"),
          explode(graft.pipeline.TextAnalysis.tokens(lower(col("text"))))
            .as("item"))
        .groupBy(col("source"), col("item"))
        .agg(
          sum(when(col("graft_r") =!= 0, 1L).otherwise(0L)).as("graft_wa"),
          sum(when(col("graft_r") =!= 1, 1L).otherwise(0L)).as("graft_wb"))
        .persist()
      val joined = stage("mg_a",
          FreqItems.freqStateWeighted(
            tokCounts, Seq("source"), "item", "graft_wa", 64))
        .withColumnRenamed("mg", "mg_a")
        .join(stage("mg_b",
          FreqItems.freqStateWeighted(
            tokCounts, Seq("source"), "item", "graft_wb", 64))
          .withColumnRenamed("mg", "mg_b"), Seq("source"), "full_outer")
        .join(stage("kll_a",
          KllGroupState.quantileState(lens(snapA), Seq("source"), "len"))
          .withColumnRenamed("kll", "kll_a"), Seq("source"), "full_outer")
        .join(stage("kll_b",
          KllGroupState.quantileState(lens(snapB), Seq("source"), "len"))
          .withColumnRenamed("kll", "kll_b"), Seq("source"), "full_outer")
        .join(stage("hll_a",
          graft.sketch.HllState.distinctState(snapA, Seq("source"), Seq("text")))
          .withColumnRenamed("hll", "hll_a"), Seq("source"), "full_outer")
        .join(stage("hll_b",
          graft.sketch.HllState.distinctState(snapB, Seq("source"), Seq("text")))
          .withColumnRenamed("hll", "hll_b"), Seq("source"), "full_outer")
        .persist()
      val l1 = ItemFrequencyDrift("mg_a", "mg_b").calculate(joined)
        .value.get
      val shift = QuantileShift("kll_a", "kll_b", 0.5).calculate(joined)
        .value.get
      // exact corpus replays — sums over the SAME one-pass counts (the
      // bare token totals and the L1 both come from one tiny aggregate
      // each over the cached per-item counts; no extra corpus scan, no
      // tally join — the pivot already aligned the two snapshots per
      // item with 0 weights where absent, exactly what the old
      // full-outer join's coalesce(0) reconstructed)
      val perItem = tokCounts.groupBy(col("item"))
        .agg(sum(col("graft_wa")).as("ca"), sum(col("graft_wb")).as("cb"))
        .persist()
      val totals = perItem.agg(
          coalesce(sum(col("ca")), lit(0L)),
          coalesce(sum(col("cb")), lit(0L))).collect().head
      val na = totals.getLong(0).toDouble
      val nb = totals.getLong(1).toDouble
      val exactL1 = perItem
        .agg(sum(abs(col("ca").cast(DoubleType) / na -
          col("cb").cast(DoubleType) / nb)))
        .collect().head.getDouble(0)
      perItem.unpersist(blocking = false)
      val exactP50A = snapA.select(length(col("text")).cast(DoubleType).as("l"))
        .agg(expr("percentile(l, 0.5)")).collect().head.getDouble(0)
      val exactP50B = snapB.select(length(col("text")).cast(DoubleType).as("l"))
        .agg(expr("percentile(l, 0.5)")).collect().head.getDouble(0)
      val exactShift = exactP50B - exactP50A
      val shiftOk = math.abs(shift - exactShift) <=
        math.max(2.0, 0.02 * math.max(math.abs(exactP50A), math.abs(exactP50B)))
      val checkOk = VerificationSuite().onData(joined)
        .addCheck(Check(CheckLevel.Error, "snapshot drift")
          .hasItemFrequencyDrift("mg_a", "mg_b", _ <= 0.5)
          .hasQuantileShift("kll_a", "kll_b", 0.5,
            d => math.abs(d) <= math.max(20.0, 0.2 * math.abs(exactP50A)))
          .hasDistinctCountRatio("hll_a", "hll_b",
            r => r >= 0.5 && r <= 2.0))
        .run().status == CheckStatus.Success
      val dqdlOk = graft.dqdl.EvaluateDataQuality.process(joined,
          """Rules = [ ItemFrequencyDrift "mg_a" "mg_b" <= 0.5, QuantileShift "kll_a" "kll_b" "0.5" between -100 and 100, DistinctCountRatio "hll_a" "hll_b" between 0.5 and 2.0 ]""")
        .where(col("outcome") === "Passed").count() == 3L
      joined.unpersist(blocking = false)
      tokCounts.unpersist(blocking = false)
      metricRow(s, Seq(
        "l1_exact" -> BigDecimal(l1)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        "l1_is_exact" -> flag(math.abs(l1 - exactL1) <= 1e-9),
        "shift_ok" -> flag(shiftOk),
        "check_ok" -> flag(checkOk),
        "dqdl_ok" -> flag(dqdlOk)))
      }
    }),

    // q154: the drift-ALARM loop end to end — four daily snapshots'
    // corpus-level MG states, consecutive-day drift metrics recorded
    // into a metrics repository, and isNewestPointNonAnomalous judging
    // the newest drift against history: days 1-3 drift mildly (subset
    // resampling noise), day 4 carries a DETERMINISTIC injected token
    // shift (every text gains a marker token — the q39 injection
    // convention) that the absolute-change strategy must flag. All L1
    // values are exact (exact-mode MG), so every outcome is pinned.
    "q154_drift_alarm" -> ((s, dir) => {
      import graft.anomaly.AbsoluteChangeStrategy
      import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
      import graft.operators.ItemFrequencyDrift
      import graft.repository.{InMemoryMetricsRepository, ResultKey}
      import graft.sketch.FreqItems
      val docs = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      import s.implicits._
      // ONE tokenize pass (the q152/q153 pivot trim): per-item counts
      // with one weight column per daily snapshot out of a single
      // codegen aggregation; each snapshot's exact-mode MG state folds
      // from its weighted column, with the injected day-i>=3 marker
      // entering as one weighted row (2 tokens per snapshot doc —
      // exactly what the per-text concat appended). Each pair is ONE
      // ROW — persist them: pair2 alone was previously re-tokenizing
      // two snapshots for each of its three consumers (the drift value,
      // the clean-day suite run, the repository save).
      val graftR = pmod(col("doc_id"), lit(5))
      val tokCounts = docs.select(graftR.as("graft_r"),
          explode(graft.pipeline.TextAnalysis.tokens(lower(col("text"))))
            .as("item"))
        .groupBy(col("item"))
        .agg(
          sum(when(col("graft_r") =!= 0, 1L).otherwise(0L)).as("graft_w0"),
          (1 to 4).map(i =>
            sum(when(col("graft_r") =!= i, 1L).otherwise(0L))
              .as(s"graft_w$i")): _*)
        .persist()
      val resDocs = docs
        .groupBy(graftR.as("graft_r"))
        .agg(count(lit(1)).as("nd")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val totalDocs = resDocs.values.sum
      def state(i: Int): DataFrame = {
        val base = tokCounts
          .select(col("item"), col(s"graft_w$i").as("graft_w"))
        val withMarker =
          if (i < 3) base
          else base.unionByName(Seq(("driftmarker",
            2L * (totalDocs - resDocs.getOrElse(i.toLong, 0L))))
            .toDF("item", "graft_w"))
        FreqItems.freqStateWeighted(
          withMarker.select(lit(1).as("g"), col("item"), col("graft_w")),
          Seq("g"), "item", "graft_w", 64)
      }
      def pairFrame(prev: Int, cur: Int): DataFrame =
        state(prev).withColumnRenamed("mg", "mg_a")
          .join(state(cur).withColumnRenamed("mg", "mg_b"), Seq("g"))
          .persist()
      val drift = ItemFrequencyDrift("mg_a", "mg_b")
      val pair1 = pairFrame(0, 1)
      val pair2 = pairFrame(1, 2)
      val pair3 = pairFrame(2, 3)
      val d1 = drift.calculate(pair1).value.get
      val d2 = drift.calculate(pair2).value.get
      val d3 = drift.calculate(pair3).value.get
      val repo = new InMemoryMetricsRepository
      repo.save(ResultKey(1L),
        graft.runners.AnalysisRunner.run(pair1, Seq(drift)))
      val strategy = AbsoluteChangeStrategy(Some(-0.015), Some(0.015))
      // clean day: day-2 drift vs day-1 history — within the band
      val cleanOk = VerificationSuite().onData(pair2)
        .addCheck(Check(CheckLevel.Error, "drift history")
          .isNewestPointNonAnomalous(repo, strategy, drift))
        .run().status == CheckStatus.Success
      // record day 2, then the injected day must alarm
      repo.save(ResultKey(2L),
        graft.runners.AnalysisRunner.run(pair2, Seq(drift)))
      val alarmOk = VerificationSuite().onData(pair3)
        .addCheck(Check(CheckLevel.Error, "drift history")
          .isNewestPointNonAnomalous(repo, strategy, drift))
        .run().status == CheckStatus.Error
      Seq(pair1, pair2, pair3, tokCounts)
        .foreach(_.unpersist(blocking = false))
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      metricRow(s, Seq(
        "l1_d1" -> r6(d1), "l1_d2" -> r6(d2), "l1_d3" -> r6(d3),
        "clean_ok" -> flag(cleanOk),
        "alarm_ok" -> flag(alarmOk)))
    }),

    // q155: the weighted frequent-items build — the shape an upstream
    // tokenize-and-count batch hands over. A state built from
    // PRE-AGGREGATED (source, item, count) rows must equal one built
    // from the raw token stream (exact mode), and the two BUILD PATHS
    // must interoperate under the fold: a weighted half merged with a
    // raw-built half equals the full build count-for-count.
    "q155_weighted_freq_state" -> ((s, dir) => {
      import graft.sketch.FreqItems
      val toks = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          explode(graft.pipeline.TextAnalysis.tokens(lower(col("text"))))
            .as("item"))
        .persist()
      val kBig = 64
      val even = toks.where(pmod(col("doc_id"), lit(2)) === 0)
      val odd = toks.where(pmod(col("doc_id"), lit(2)) =!= 0)
      // weighted build from pre-aggregated tallies of the even half
      val evenTallies = even.groupBy(col("source"), col("item"))
        .agg(count(lit(1)).as("w"))
      val weightedHalf = FreqItems.freqStateWeighted(
        evenTallies, Seq("source"), "item", "w", kBig)
      val mixed = FreqItems.mergeStates(weightedHalf,
        FreqItems.freqState(odd, Seq("source"), "item", kBig), kBig)
      val full = FreqItems.freqState(toks, Seq("source"), "item", kBig)
      def explodeState(st: DataFrame, tag: String) = st.select(col("source"),
        col("mg.n").as(s"n_$tag"),
        explode(col("mg.counters")).as(Seq("item", s"est_$tag")))
      val cmp = explodeState(mixed, "m")
        .join(explodeState(full, "f"), Seq("source", "item"), "full_outer")
      val exact = toks.groupBy(col("source"), col("item"))
        .agg(count(lit(1)).as("cnt"))
      val out = cmp.join(exact, Seq("source", "item"), "full_outer")
        .groupBy(col("source")).agg(
          sum(col("cnt")).cast(DoubleType).as("n_tokens"),
          count(lit(1)).cast(DoubleType).as("vocab"),
          min(when(col("est_m") === col("cnt") &&
            col("est_f") === col("cnt"), 1.0).otherwise(0.0))
            .as("exact_ok"),
          min(when(col("n_m") === col("n_f"), 1.0).otherwise(0.0))
            .as("n_ok"))
        .orderBy(col("source"))
      collectReleasing(s, out)(toks.unpersist(blocking = false))
    }),

    // q156: streaming maintenance for the drift-state families — the
    // q147 dedup-ingest convention applied to the per-group sketch
    // states (the two state families that had no streaming twin): four
    // parity micro-batches stream through ONE foreachBatch feeding
    // three SketchStateIngest hooks (MG frequent items / KLL quantiles
    // / HLL distincts, each appending per-batch per-source state parts);
    // the read-time folds must equal one-shot full-corpus builds — MG in
    // exact mode count-for-count, KLL p50 in the store-all regime as
    // exact VALUES (the q152 pin), HLL within its estimate tolerance —
    // and the crash-safe compaction (rename-into-live-dir before any
    // delete) must preserve all three.
    "q156_streaming_sketch_ingest" -> ((s, dir) => {
      import graft.sketch.{FreqItems, HllState, KllGroupState}
      import graft.streaming.StreamingOps
      val docs = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("source"), col("doc_id"), col("text"))
      withTempDir("graft-q156") { tmp =>
      def toks(d: DataFrame) = d.select(col("source"),
        explode(graft.pipeline.TextAnalysis.tokens(lower(col("text"))))
          .as("item"))
      def lens(d: DataFrame) = d.select(col("source"),
        length(col("text")).cast(DoubleType).as("len"))
      val kMg = 64 // exact mode: capacity >= per-source vocabulary (q152)
      val mgIngest = new StreamingOps.SketchStateIngest(s"$tmp/mg",
        b => FreqItems.freqState(toks(b), Seq("source"), "item", kMg),
        parts => FreqItems.foldState(parts, kMg))
      val kllIngest = new StreamingOps.SketchStateIngest(s"$tmp/kll",
        b => KllGroupState.quantileState(lens(b), Seq("source"), "len"),
        parts => KllGroupState.foldState(parts))
      val hllIngest = new StreamingOps.SketchStateIngest(s"$tmp/hll",
        b => HllState.distinctState(b, Seq("source"), Seq("text")),
        parts => HllState.foldState(parts))
      // 4 files (see q147: folds are batch-agnostic)
      streamStaged(s, docs, 4, tmp) { (b, id) =>
        mgIngest.processBatch(b, id)
        kllIngest.processBatch(b, id)
        hllIngest.processBatch(b, id)
      }

      def mgCells(st: DataFrame, tag: String) = st.select(col("source"),
        col("mg.n").as(s"n_$tag"),
        explode(col("mg.counters")).as(Seq("item", s"est_$tag")))
      // one-shot comparison frames are ~20 rows each and probed twice
      // (pre- and post-compaction) — build them once and cache
      val oneShot = FreqItems.freqState(toks(docs), Seq("source"), "item", kMg)
        .persist()
      def mgParity(folded: DataFrame): Boolean =
        mgCells(folded, "a").join(mgCells(oneShot, "b"),
            Seq("source", "item"), "full_outer")
          .where(!(col("est_a") <=> col("est_b")) ||
            !(col("n_a") <=> col("n_b")))
          .isEmpty
      def p50Sum(folded: DataFrame): Double =
        KllGroupState.quantiles(folded, Seq(0.5), Seq("p50"))
          .agg(coalesce(sum(col("p50")), lit(0.0)))
          .collect().head.getDouble(0)
      val exactDistinct = docs.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("ex"))
        .persist()
      def hllOk(folded: DataFrame): Boolean =
        HllState.estimates(folded)
          .join(exactDistinct, Seq("source"), "full_outer")
          .where(col("distinct_est").isNull || col("ex").isNull ||
            abs(col("distinct_est") - col("ex")) >
              greatest(lit(1.0), col("ex") * 0.05))
          .isEmpty
      val foldedMg = mgIngest.state(s).persist()
      val totals = foldedMg.agg(
        coalesce(sum(col("mg.n")), lit(0L)),
        count(lit(1))).collect().head
      val totalTokens = totals.getLong(0)
      val nSources = totals.getLong(1)
      val vocab = foldedMg.select(explode(col("mg.counters"))).count()
      val mgOk = mgParity(foldedMg)
      val p50Pre = p50Sum(kllIngest.state(s))
      val hllPre = hllOk(hllIngest.state(s))
      foldedMg.unpersist(blocking = false)
      // compaction folds every part into one under the crash-safe
      // ordering; all three folded states must survive it unchanged
      mgIngest.compact(s); kllIngest.compact(s); hllIngest.compact(s)
      val postOk = mgParity(mgIngest.state(s)) &&
        p50Sum(kllIngest.state(s)) == p50Pre &&
        hllOk(hllIngest.state(s))
      oneShot.unpersist(blocking = false)
      exactDistinct.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_docs" -> docs.count().toDouble,
        "n_sources" -> nSources.toDouble,
        "total_tokens" -> totalTokens.toDouble,
        "vocab" -> vocab.toDouble,
        "p50_sum" -> p50Pre,
        "mg_parity_ok" -> flag(mgOk),
        "hll_ok" -> flag(hllPre),
        "post_compact_ok" -> flag(postOk)))
      }
    }),

    // q157: the drift-alarm HISTORY on the constraint surface — where
    // q154's isNewestPointNonAnomalous judges only today against
    // history, hasNonAnomalousDriftHistory re-judges the WHOLE recorded
    // series: five daily snapshots, days 0-2 clean, day 3 carries the
    // injected token shift (the q154 convention), day 4 clean-after-
    // anomaly. Under a one-sided increase band the newest point (day
    // 4's big NEGATIVE change) is non-anomalous — but the day-3 spike is
    // still in the window, so the history check must alarm until the
    // bar is loosened (maxAnomalies = 1) or the date window excludes
    // the spike (afterDate). The DQDL twin (NonAnomalousDriftHistory,
    // repository-fed) must alarm and clear on the same series. All L1
    // values are exact (exact-mode MG), so every outcome is pinned.
    "q157_drift_history_check" -> ((s, dir) => {
      import graft.anomaly.AbsoluteChangeStrategy
      import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
      import graft.operators.ItemFrequencyDrift
      import graft.repository.{InMemoryMetricsRepository, ResultKey}
      import graft.sketch.FreqItems
      val docs = table(s, dir, "documents")
        .where(col("doc_id").isNotNull && col("text").isNotNull)
      import s.implicits._
      // ONE tokenize pass for all five daily states (the q152/q153/q154
      // pivot trim): per-item counts with one weight column per
      // snapshot out of a single codegen aggregation; each snapshot's
      // exact-mode MG state folds from its weighted column (the day>=3
      // marker enters as one weighted row: 2 tokens per snapshot doc,
      // exactly what the per-text concat appended). The five states stay
      // ONE ROW each and cached, as before (was 5 corpus tokenize
      // passes after the r17 trim from 26).
      val graftR = pmod(col("doc_id"), lit(5))
      val tokCounts = docs.select(graftR.as("graft_r"),
          explode(graft.pipeline.TextAnalysis.tokens(lower(col("text"))))
            .as("item"))
        .groupBy(col("item"))
        .agg(
          sum(when(col("graft_r") =!= 0, 1L).otherwise(0L)).as("graft_w0"),
          (1 to 4).map(i =>
            sum(when(col("graft_r") =!= i, 1L).otherwise(0L))
              .as(s"graft_w$i")): _*)
        .persist()
      val resDocs = docs
        .groupBy(graftR.as("graft_r"))
        .agg(count(lit(1)).as("nd")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val totalDocs = resDocs.values.sum
      def state(i: Int): DataFrame = {
        val base = tokCounts
          .select(col("item"), col(s"graft_w$i").as("graft_w"))
        val withMarker =
          if (i < 3) base
          else base.unionByName(Seq(("driftmarker",
            2L * (totalDocs - resDocs.getOrElse(i.toLong, 0L))))
            .toDF("item", "graft_w"))
        FreqItems.freqStateWeighted(
          withMarker.select(lit(1).as("g"), col("item"), col("graft_w")),
          Seq("g"), "item", "graft_w", 64)
      }
      val states = (0 to 4).map(i => state(i).persist())
      states.foreach(_.count())
      tokCounts.unpersist(blocking = false)
      def pairFrame(prev: DataFrame, cur: DataFrame): DataFrame =
        prev.withColumnRenamed("mg", "mg_a")
          .join(cur.withColumnRenamed("mg", "mg_b"), Seq("g"))
      val drift = ItemFrequencyDrift("mg_a", "mg_b")
      val pairs = (1 to 4).map(i => pairFrame(states(i - 1), states(i)))
      val ctxs = (1 to 4).map(i =>
        graft.runners.AnalysisRunner.run(pairs(i - 1), Seq(drift)))
      val ds = ctxs.map(_.metric(drift).get.value.get.asInstanceOf[Double])
      val repo = new InMemoryMetricsRepository
      (1 to 3).foreach(i => repo.save(ResultKey(i.toLong), ctxs(i - 1)))
      // one-sided: only drift INCREASES beyond 0.015 are anomalous, so
      // day 4's big negative change is clean for the newest-point check
      val up = AbsoluteChangeStrategy(None, Some(0.015))
      def run(check: Check): CheckStatus =
        VerificationSuite().onData(pairs(3)).addCheck(check).run().status
      val newestOk = run(Check(CheckLevel.Error, "newest")
        .isNewestPointNonAnomalous(repo, up, drift)) == CheckStatus.Success
      val historyAlarms = run(Check(CheckLevel.Error, "history")
        .hasNonAnomalousDriftHistory(repo, up, drift)) == CheckStatus.Error
      val loosenedOk = run(Check(CheckLevel.Error, "loosened")
        .hasNonAnomalousDriftHistory(repo, up, drift, maxAnomalies = 1)) ==
        CheckStatus.Success
      val windowedOk = run(Check(CheckLevel.Error, "windowed")
        .hasNonAnomalousDriftHistory(repo, up, drift,
          afterDate = Some(4L))) == CheckStatus.Success
      val dqdlAlarm = graft.dqdl.EvaluateDataQuality.process(pairs(3),
          """Rules = [ NonAnomalousDriftHistory "mg_a" "mg_b" <= 0.015 ]""",
          repository = Some(repo))
        .where(col("outcome") === "Failed").count() == 1L
      val repoClean = new InMemoryMetricsRepository
      repoClean.save(ResultKey(1L),
        graft.runners.AnalysisRunner.run(pairs(0), Seq(drift)))
      val dqdlClean = graft.dqdl.EvaluateDataQuality.process(pairs(1),
          """Rules = [ NonAnomalousDriftHistory "mg_a" "mg_b" <= 0.015 ]""",
          repository = Some(repoClean))
        .where(col("outcome") === "Passed").count() == 1L
      states.foreach(_.unpersist(blocking = false))
      metricRow(s, Seq(
        "l1_d1" -> r6(ds(0)), "l1_d2" -> r6(ds(1)),
        "l1_d3" -> r6(ds(2)), "l1_d4" -> r6(ds(3)),
        "newest_ok" -> flag(newestOk),
        "history_alarm_ok" -> flag(historyAlarms),
        "loosened_ok" -> flag(loosenedOk),
        "windowed_ok" -> flag(windowedOk),
        "dqdl_alarm_ok" -> flag(dqdlAlarm),
        "dqdl_clean_ok" -> flag(dqdlClean)))
    }),

    // q158: streaming maintenance for the ANN index state — q148's IVF
    // postings staged by a REAL Structured Streaming query through the
    // q156 ingest machinery with an IDENTITY fold (postings are an
    // append-only bag under the frozen quantizer; the union IS the
    // index, no per-group merge). Pins: the streamed state equals the
    // one-shot build row-for-row, the model survives its parquet round
    // trip bit-exactly, serving from the streamed state keeps q148's
    // completeness/recall bars against exact brute force, and a
    // compaction cycle (crash-safe rename-before-delete) preserves the
    // index and the serve results.
    "q158_streaming_ivf_ingest" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val emb = table(s, dir, "embeddings")
      withTempDir("graft-q158") { tmp =>
      val trained = Similarity.trainIvfCentroids(emb, "embedding", nlist = 8)
      Similarity.ivfModelFrame(s, trained)
        .write.mode("overwrite").parquet(s"$tmp/model")
      val centroids = Similarity.readIvfModel(s, s"$tmp/model")
      val modelOk = trained.length == centroids.length &&
        trained.zip(centroids).forall { case (a, b) =>
          java.util.Arrays.equals(a, b) }
      val src = emb.select(col("vec_id"), col("embedding"))
      val ingest = new StreamingOps.SketchStateIngest(s"$tmp/post",
        b => Similarity.ivfIndexState(b, "vec_id", "embedding", centroids),
        parts => parts) // bag union: the fold is identity
      // 4 files (see q147: folds are batch-agnostic)
      streamStaged(s, src, 4, tmp)(ingest.asForeachBatch())
      val slimOne = Similarity
        .ivfIndexState(src, "vec_id", "embedding", centroids)
        .select(col("graft_cell"), col("neighbor_id")).persist()
      def parity(state: DataFrame): Boolean =
        bagEq(state.select(col("graft_cell"), col("neighbor_id")), slimOne)
      val state = ingest.state(s)
        .select(col("graft_cell"), col("neighbor_id"), col("graft_cv"))
        .persist()
      val parityOk = parity(state)
      val queries = emb.filter(col("vec_id") < 5)
      val nQueries = queries.count()
      val ivf = annTop4(Similarity.ivfTopKFromState(state, centroids,
        queries, "vec_id", "embedding", k = 5, nprobe = 6))
        .select("query_id", "neighbor_id").persist()
      val bf = annTop4(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5))
        .select("query_id", "neighbor_id").persist()
      val nBf = bf.count()
      val matched = bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
      val nIvf = ivf.count()
      // compaction folds the per-batch parts into one; the index and the
      // served neighbors must survive byte-for-byte
      ingest.compact(s)
      val state2 = ingest.state(s)
        .select(col("graft_cell"), col("neighbor_id"), col("graft_cv"))
      val ivf2 = annTop4(Similarity.ivfTopKFromState(state2, centroids,
        queries, "vec_id", "embedding", k = 5, nprobe = 6))
        .select("query_id", "neighbor_id")
      val postCompactOk = parity(state2) && bagEq(ivf2, ivf)
      val nVectors = emb.count()
      state.unpersist(blocking = false)
      ivf.unpersist(blocking = false)
      bf.unpersist(blocking = false)
      slimOne.unpersist(blocking = false)
      metricRow(s, Seq(
        "n_vectors" -> nVectors.toDouble,
        "n_queries" -> nQueries.toDouble,
        "model_roundtrip_ok" -> flag(modelOk),
        "state_parity_ok" -> flag(parityOk),
        "ivf_complete_ok" -> flag(nIvf == nBf),
        "ivf_recall_ok" -> flag(nBf == 0 || matched.toDouble / nBf >= 0.8),
        "post_compact_ok" -> flag(postCompactOk)))
      }
    }),

    // q159: dataset release manifest — the reproducibility primitive: a
    // per-shard (n_rows, id_sum, 60-bit-xor content fingerprint) table
    // built in ONE map-side pass, diffed release-to-release without
    // rescanning matching shards. A tampered copy (one mutated text, one
    // dropped row, one duplicated row, one text nulled — the null-vs-
    // empty sentinel canary) must flag EXACTLY its four shards as
    // changed; the self-diff must be empty. Every manifest cell is an
    // integer the DuckDB oracle reproduces bit-for-bit (md5 prefix →
    // BIGINT, XOR — no float, no overflow semantics to drift).
    "q159_dataset_manifest" -> ((s, dir) => {
      import graft.pipeline.DatasetManifest
      val base = table(s, dir, "documents")
        .where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val m1 = DatasetManifest.build(base, "doc_id", Seq("source", "text"),
        shards = 16).persist()
      val tampered = base
        .where(col("doc_id") =!= 20) // dropped row
        .withColumn("text",
          when(col("doc_id") === 7, concat(col("text"), lit("X"))) // mutation
            .when(col("doc_id") === 41, lit(null: String)) // nulled text
            .otherwise(col("text")))
        .unionByName(base.where(col("doc_id") === 33)) // duplicated row
      val m2 = DatasetManifest.build(tampered, "doc_id", Seq("source", "text"),
        shards = 16)
      val d = DatasetManifest.diff(m1, m2)
        .select(col("shard"), col("status"))
      val selfClean = DatasetManifest.diff(m1, m1).isEmpty
      val out = m1.join(d, Seq("shard"), "left_outer")
        .select(col("shard"), col("n_rows"), col("id_sum"),
          col("content_fp"),
          coalesce(col("status"), lit("ok")).as("status"),
          lit(if (selfClean) 1.0 else 0.0).as("self_diff_empty"))
        .orderBy(col("shard"))
      collectReleasing(s, out)(m1.unpersist(blocking = false))
    }),

    // q160: STREAMING manifest maintenance — q159's streaming twin,
    // completing the "every persisted-state family has a streaming
    // twin" claim for the newest family. The manifest triple is a
    // per-shard commutative monoid (Long sums + XOR), so per-micro-batch
    // manifests staged by a REAL Structured Streaming query fold at read
    // to the one-shot whole-release manifest EXACTLY; compaction
    // preserves it byte-for-byte; and the next release's diff runs
    // manifest-vs-manifest without rescanning either corpus. Every pin
    // is an exact integer (counts, id sums, XOR'd 60-bit md5
    // fingerprints) the oracle replays.
    "q160_streaming_manifest" -> ((s, dir) => {
      import graft.pipeline.DatasetManifest
      import graft.streaming.StreamingOps
      val base = table(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      withTempDir("graft-q160") { tmp =>
      val ingest = new StreamingOps.SketchStateIngest(s"$tmp/m",
        b => DatasetManifest.build(b, "doc_id", Seq("source", "text"),
          shards = 16),
        parts => DatasetManifest.foldManifests(parts))
      // 4 files (see q147: folds are batch-agnostic)
      streamStaged(s, base, 4, tmp)(ingest.asForeachBatch())
      val oneShot = DatasetManifest.build(
        base, "doc_id", Seq("source", "text"), shards = 16).persist()
      val streamed = ingest.state(s).persist()
      val streamedOk = DatasetManifest.diff(streamed, oneShot).isEmpty
      ingest.compact(s)
      val compactedOk =
        DatasetManifest.diff(ingest.state(s), oneShot).isEmpty
      // release N+1 drops a doc class; the audit is manifest-vs-manifest
      val rel2 = base.where(pmod(col("doc_id"), lit(7)) =!= 3)
      val m2 = DatasetManifest.build(
        rel2, "doc_id", Seq("source", "text"), shards = 16)
      val d = DatasetManifest.diff(streamed, m2)
        .select(col("shard"), col("status"))
      val out = streamed.join(d, Seq("shard"), "left_outer")
        .select(col("shard"), col("n_rows"), col("id_sum"),
          col("content_fp"),
          coalesce(col("status"), lit("ok")).as("status"),
          lit(if (streamedOk) 1.0 else 0.0).as("streamed_eq_oneshot"),
          lit(if (compactedOk) 1.0 else 0.0).as("compacted_eq_oneshot"))
        .orderBy(col("shard"))
      collectReleasing(s, out) {
        streamed.unpersist(blocking = false)
        oneShot.unpersist(blocking = false)
      }
      }
    }),

    // q161: dataset-release parity on the CONSTRAINT surface — the
    // ManifestParity analyzer (Check.hasManifestParity + the DQDL
    // ManifestParity rule) over two manifests joined on the shard key:
    // the self-join proves parity 1.0 and the check passes; the q159
    // tamper set (drop/mutate/null/duplicate — four distinct shards)
    // yields exactly 12/16 parity, the strict rule fails, a 0.5-floor
    // rule passes. Parity fractions are exact (n/16 is binary-exact).
    "q161_manifest_parity" -> ((s, dir) => {
      import graft.pipeline.DatasetManifest
      import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
      import graft.operators.ManifestParity
      val base = table(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val m1 = DatasetManifest.build(
        base, "doc_id", Seq("source", "text"), shards = 16).persist()
      val tampered = base
        .where(col("doc_id") =!= 20)
        .withColumn("text",
          when(col("doc_id") === 7, concat(col("text"), lit("X")))
            .when(col("doc_id") === 41, lit(null: String))
            .otherwise(col("text")))
        .unionByName(base.where(col("doc_id") === 33))
      val m2 = DatasetManifest.build(
        tampered, "doc_id", Seq("source", "text"), shards = 16)
      val selfJ = DatasetManifest.joined(m1, m1)
      val tampJ = DatasetManifest.joined(m1, m2).persist()
      val paritySelf = ManifestParity().calculate(selfJ).value.get
      val parityTamp = ManifestParity().calculate(tampJ).value.get
      val passStatus = VerificationSuite().onData(selfJ)
        .addCheck(Check(CheckLevel.Error, "release parity")
          .hasManifestParity()).run().status
      val failStatus = VerificationSuite().onData(tampJ)
        .addCheck(Check(CheckLevel.Error, "release parity")
          .hasManifestParity()).run().status
      val dqdl = graft.dqdl.EvaluateDataQuality.process(tampJ,
        """Rules = [ ManifestParity "a" "b" >= 1.0, ManifestParity "a" "b" >= 0.5 ]""")
        .persist()
      val dqdlFail = dqdl.where(col("outcome") === "Failed").count()
      val dqdlPass = dqdl.where(col("outcome") === "Passed").count()
      dqdl.unpersist(blocking = false)
      tampJ.unpersist(blocking = false)
      m1.unpersist(blocking = false)
      metricRow(s, Seq(
        "parity_self" -> paritySelf,
        "parity_tampered" -> parityTamp,
        "self_check_pass" -> flag(passStatus == CheckStatus.Success),
        "tampered_check_fails" -> flag(failStatus == CheckStatus.Error),
        "dqdl_strict_fails" -> flag(dqdlFail == 1L),
        "dqdl_floor_passes" -> flag(dqdlPass == 1L)))
    }),

    // q162: the full release-audit LOOP at row granularity — the diff
    // names drifted shards from KB-sized manifests (q159), then
    // DatasetManifest.drillDown scans ONLY those shards of the two
    // releases and names the exact rows that differ (the 100-TB story:
    // matching shards' bytes are never re-read; the shard predicate
    // prunes them at the scan). The q159 tamper set resolves to its four
    // row-level verdicts — doc 20 removed, docs 7/41 changed (mutation /
    // nulled text), doc 33 changed (duplicated occurrence) — and a
    // completeness flag pins drilldown-over-named-shards ==
    // drilldown-over-all-shards (nothing outside the named shards
    // drifted, by the manifest's own construction).
    "q162_manifest_drilldown" -> ((s, dir) => {
      import graft.pipeline.DatasetManifest
      val base = table(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val tampered = base
        .where(col("doc_id") =!= 20)
        .withColumn("text",
          when(col("doc_id") === 7, concat(col("text"), lit("X")))
            .when(col("doc_id") === 41, lit(null: String))
            .otherwise(col("text")))
        .unionByName(base.where(col("doc_id") === 33))
      val m1 = DatasetManifest.build(
        base, "doc_id", Seq("source", "text"), shards = 16)
      val m2 = DatasetManifest.build(
        tampered, "doc_id", Seq("source", "text"), shards = 16)
      val drifted = DatasetManifest.diff(m1, m2)
        .select(col("shard")).collect().map(_.getLong(0)).toSeq
      val named = DatasetManifest.drillDown(base, tampered,
        "doc_id", Seq("source", "text"), 16, drifted).persist()
      val everywhere = DatasetManifest.drillDown(base, tampered,
        "doc_id", Seq("source", "text"), 16, 0L until 16L)
      val completeOk = bagEq(named, everywhere)
      val out = named
        .select(col("id"), col("status"),
          lit(if (completeOk) 1.0 else 0.0).as("complete_ok"))
        .orderBy(col("id"))
      collectReleasing(s, out)(named.unpersist(blocking = false))
    }),

    // q163: the release audit with PHYSICAL pruning — both releases ship
    // shard-partitioned (DatasetManifest.writeSharded: path/shard=<s>/),
    // so the row-level drill-down opens ONLY the drifted shards'
    // directories (drillDownSharded reads explicit subdir paths — the
    // deterministic pruning no optimizer has to prove; at 100 TB the
    // matching shards' files are never listed or read). Pins: the q162
    // row verdicts, a pruning audit (every input file of the pruned read
    // lives under a drifted shard=<s>/ dir), and parity with the
    // in-memory drillDown.
    "q163_sharded_release_audit" -> ((s, dir) => {
      import graft.pipeline.DatasetManifest
      val base = table(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val tampered = base
        .where(col("doc_id") =!= 20)
        .withColumn("text",
          when(col("doc_id") === 7, concat(col("text"), lit("X")))
            .when(col("doc_id") === 41, lit(null: String))
            .otherwise(col("text")))
        .unionByName(base.where(col("doc_id") === 33))
      withTempDir("graft-q163") { tmp =>
      DatasetManifest.writeSharded(base, s"$tmp/rel1", "doc_id", 16)
      DatasetManifest.writeSharded(tampered, s"$tmp/rel2", "doc_id", 16)
      val r1 = s.read.parquet(s"$tmp/rel1")
      val r2 = s.read.parquet(s"$tmp/rel2")
      val m1 = DatasetManifest.build(r1, "doc_id", Seq("source", "text"), 16)
      val m2 = DatasetManifest.build(r2, "doc_id", Seq("source", "text"), 16)
      val drifted = DatasetManifest.diff(m1, m2)
        .select(col("shard")).collect().map(_.getLong(0)).toSeq
      val named = DatasetManifest.drillDownSharded(s,
        s"$tmp/rel1", s"$tmp/rel2", "doc_id", Seq("source", "text"),
        drifted).persist()
      val prunedFiles =
        DatasetManifest.readShards(s, s"$tmp/rel1", drifted).inputFiles
      val prunedOk = prunedFiles.nonEmpty && prunedFiles.forall(f =>
        drifted.exists(sh => f.contains(s"shard=$sh/")))
      val mem = DatasetManifest.drillDown(base, tampered,
        "doc_id", Seq("source", "text"), 16, drifted)
      val sameOk = bagEq(named, mem)
      val out = named
        .select(col("id"), col("status"),
          lit(if (prunedOk) 1.0 else 0.0).as("pruned_ok"),
          lit(if (sameOk) 1.0 else 0.0).as("matches_unsharded"))
        .orderBy(col("id"))
      collectReleasing(s, out)(named.unpersist(blocking = false))
      }
    }),

    // q164: COLUMN-level drift localization from KB manifests — the
    // columnar manifest carries one XOR'd fingerprint lane per content
    // column, so the release diff names shard AND field without touching
    // rows (the shard → column → row pyramid: q159 diff → q164 column
    // lanes → q162/q163 drill-down). The q159 tamper resolves exactly:
    // text mutation / nulled text drift the text lane alone; a removed
    // or odd-multiplicity-duplicated row drifts both lanes plus the
    // membership census. All pins exact integers/strings.
    "q164_columnar_manifest" -> ((s, dir) => {
      import graft.pipeline.DatasetManifest
      val base = table(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val tampered = base
        .where(col("doc_id") =!= 20)
        .withColumn("text",
          when(col("doc_id") === 7, concat(col("text"), lit("X")))
            .when(col("doc_id") === 41, lit(null: String))
            .otherwise(col("text")))
        .unionByName(base.where(col("doc_id") === 33))
      val cols = Seq("source", "text")
      val m1 = DatasetManifest.buildColumnar(base, "doc_id", cols, 16)
        .persist()
      val m2 = DatasetManifest.buildColumnar(tampered, "doc_id", cols, 16)
      val d = DatasetManifest.diffColumnar(m1, m2, cols)
      val selfClean = DatasetManifest.diffColumnar(m1, m1, cols).isEmpty
      val out = m1.join(d, Seq("shard"), "left_outer")
        .select(col("shard"), col("n_rows"), col("id_sum"),
          col("content_fp"), col("fp_source"), col("fp_text"),
          coalesce(col("status"), lit("ok")).as("status"),
          coalesce(col("drifted_columns"), lit("")).as("drifted_columns"),
          lit(if (selfClean) 1.0 else 0.0).as("self_diff_empty"))
        .orderBy(col("shard"))
      collectReleasing(s, out)(m1.unpersist(blocking = false))
    }),

    // q165: streaming twin for the LAST persisted-state family without
    // one — k-means cell states (q107's exact-integer monoid). A live
    // 4-trigger Structured Streaming ingest maintains per-batch
    // cellStateQuantized parts under fixed centroids (the generic
    // SketchStateIngest shape of q156); the read-time fold
    // (foldCellStatesQuantized — integer addition end to end) must equal
    // the one-shot full-corpus state with EXACT equality (the monoid law
    // on the integer grid: no tolerance machinery), survive the
    // crash-safe compaction unchanged (cell counts SUM — non-idempotent,
    // so the supersession manifest is load-bearing here), and re-derive
    // the same floorDiv centroids. Hashed columns replicate the q107
    // oracle exactly; the streaming/compaction parity rides as pinned
    // 0/1 flags.
    "q165_streaming_kmeans_state" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      val emb = table(s, dir, "embeddings")
      val init = Clustering.initMinIdQuantized(emb, "vec_id", "embedding", 4)
      val valid = emb.where(col("embedding").isNotNull)
      withTempDir("graft-q165") { tmp =>
      val ingest = new StreamingOps.SketchStateIngest(s"$tmp/cells",
        b => Clustering.cellStateQuantized(b, "embedding", init),
        parts => Clustering.foldCellStatesQuantized(parts))
      // 4 files (see q147: folds are batch-agnostic)
      streamStaged(s, valid, 4, tmp)(ingest.asForeachBatch())

      def snapshot(st: org.apache.spark.sql.DataFrame) = st.collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
          r.getSeq[Long](3).toArray))).toMap
      def sameState(
          a: Map[Int, (Long, Long, Array[Long])],
          b: Map[Int, (Long, Long, Array[Long])]): Boolean =
        a.keySet == b.keySet && a.forall { case (c, (n, sq, sm)) =>
          val (bn, bsq, bsm) = b(c)
          n == bn && sq == bsq && sm.sameElements(bsm)
        }
      val oneShot = snapshot(
        Clustering.cellStateQuantized(valid, "embedding", init))
      val streamed = snapshot(ingest.state(s))
      val streamOk = sameState(streamed, oneShot)
      // compaction folds the 4 per-trigger parts into one; the folded
      // state (and the centroids derived from it) must be unchanged
      ingest.compact(s)
      val compacted = snapshot(ingest.state(s))
      val postOk = sameState(compacted, oneShot)
      val cents = Clustering.centroidsFromStateQuantized(
        ingest.state(s), init)
      import s.implicits._
      (0 until 4).map { cell =>
        val (n, sq, sm) = compacted.getOrElse(cell, (0L, 0L, Array.empty[Long]))
        val c = cents(cell)
        (cell, n, sm.foldLeft(0L)(_ + _), sq,
          c.foldLeft(0L)((a, x) => a + x * x),
          if (streamOk) 1L else 0L, if (postOk) 1L else 0L)
      }.toDF("cell", "n_docs", "sum_all", "sum_sq", "c_norm2",
        "stream_ok", "post_compact_ok")
      }
    }),

    // q166: cross-release manifest LINEAGE — "which release introduced
    // this shard's drift", answered from the manifest chain ALONE
    // (DatasetManifest.lineage): four staged releases of the documents
    // table (r1 base; r2 mutates doc 7's text — shard 7 content-only;
    // r3 removes doc 20 and duplicates doc 33 — shards 4 and 1, census
    // AND content; r4 mutates doc 23 — shard 7 drifts AGAIN), each
    // release reduced to its 16-shard manifest, and the lineage window
    // names every (shard, release) transition with the cause split into
    // census vs content lanes. No corpus bytes are read after the four
    // manifest builds — the 100 TB story is that release archaeology
    // costs KB, and the oracle replays the same md5/XOR integer
    // arithmetic plus three pairwise manifest diffs.
    "q166_manifest_lineage" -> ((s, dir) => {
      import graft.pipeline.DatasetManifest
      val base = table(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val r2 = base.withColumn("text",
        when(col("doc_id") === 7, concat(col("text"), lit("X")))
          .otherwise(col("text")))
      val r3 = r2.where(col("doc_id") =!= 20)
        .unionByName(r2.where(col("doc_id") === 33))
      val r4 = r3.withColumn("text",
        when(col("doc_id") === 23, concat(lit("Y"), col("text")))
          .otherwise(col("text")))
      val cols = Seq("source", "text")
      def m(df: DataFrame) = DatasetManifest.build(df, "doc_id", cols, 16)
      DatasetManifest
        .lineage(Seq(1L -> m(base), 2L -> m(r2), 3L -> m(r3), 4L -> m(r4)))
        .orderBy(col("shard"), col("release"))
    }),

    // q167: embedding-space drift as a persisted-state CHECK — q107's
    // integer cell states composed with the q152 drift-report shape.
    // Snapshot A = the whole corpus; snapshot B = the half-space with
    // non-positive first grid coordinate (floor(v1*1000+0.5) <= 0 — the
    // only floor form embedding oracles may use), both reduced to
    // parquet-staged cellStateQuantized frames under the SAME min-id
    // centroids. Clustering.cellPopulationDrift joins the two k-row
    // states into exact integer lanes (n_a, n_b, l1_num = |n_a·tot_b −
    // n_b·tot_a|), the drift ALARM is the cross-multiplied integer
    // decision 20·Σl1_num >= tot_a·tot_b (L1 >= 0.05 — exact integer
    // comparison in both engines, no float threshold to sit on), and
    // the constraint surface rides as pinned flags:
    // Check.hasCellPopulationDrift / DQDL CellPopulationDrift must
    // alarm at a 0.02 ceiling and clear at 1.0 (the measured L1 is
    // 0.09-0.16 across the three SFs — >= 1.8x margin on every
    // decision). No corpus bytes are read after the two state builds.
    "q167_embedding_drift_state" -> ((s, dir) => {
      import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
      val emb = table(s, dir, "embeddings")
      val init = Clustering.initMinIdQuantized(emb, "vec_id", "embedding", 4)
      val valid = emb.where(col("embedding").isNotNull)
      val half = valid.where(
        floor(element_at(col("embedding"), 1).cast(DoubleType) * 1000 + 0.5)
          <= 0)
      withTempDir("graft-q167") { tmp =>
      Clustering.writeCellState(
        Clustering.cellStateQuantized(valid, "embedding", init), s"$tmp/a")
      Clustering.writeCellState(
        Clustering.cellStateQuantized(half, "embedding", init), s"$tmp/b")
      val drift = Clustering.cellPopulationDrift(
        Clustering.readCellState(s, s"$tmp/a"),
        Clustering.readCellState(s, s"$tmp/b")).persist()
      val t = drift.agg(
        coalesce(sum(col("l1_num")), lit(0L)),
        max(col("tot_a")), max(col("tot_b"))).collect().head
      val (l1Sum, totA, totB) = (t.getLong(0), t.getLong(1), t.getLong(2))
      val alarm = 20L * l1Sum >= totA * totB
      def gate(ceiling: Double): CheckStatus =
        VerificationSuite().onData(drift)
          .addCheck(Check(CheckLevel.Error, "embedding drift")
            .hasCellPopulationDrift()(_ <= ceiling))
          .run().status
      val checkGate = gate(0.02) == CheckStatus.Error &&
        gate(1.0) == CheckStatus.Success
      val dq = graft.dqdl.EvaluateDataQuality.process(drift,
        """Rules = [ CellPopulationDrift "cell" "n_a" "n_b" <= 0.02,
          |          CellPopulationDrift "cell" "n_a" "n_b" <= 1.0 ]"""
          .stripMargin)
      val dqdlGate =
        dq.where(col("outcome") === "Failed").count() == 1L &&
          dq.where(col("outcome") === "Passed").count() == 1L
      val out = drift
        .select(col("cell").cast(LongType).as("cell"), col("n_a"),
          col("n_b"), col("l1_num"), col("tot_a"), col("tot_b"),
          lit(if (alarm) 1L else 0L).as("alarm"),
          lit(if (checkGate) 1L else 0L).as("check_gate"),
          lit(if (dqdlGate) 1L else 0L).as("dqdl_gate"))
        .orderBy(col("cell"))
      collectReleasing(s, out)(drift.unpersist(blocking = false))
      }
    }),

    // q168: the embedding-drift ALARM LOOP — q154's repository pattern
    // composed with q167's cell-population drift: four daily embedding
    // snapshots (drop vec_id%31 == day — resample noise), each reduced
    // to a cell state under FIXED shared centroids; consecutive-day
    // CellPopulationDrift metrics recorded into a metrics repository;
    // isNewestPointNonAnomalous judges the newest drift against
    // history. Day 3 carries a deterministic SIGN-FLIP corruption
    // (every embedding negated — the "upstream normalization flipped
    // its convention" pipeline bug), which scatters vectors to opposite
    // cells and must alarm under a ±0.012 absolute-change band
    // (measured day-over-day change: clean <= 0.004, injected >= 0.029
    // across the three SFs — >= 2.4x margins both sides). Hashed lanes
    // are the exact integer L1 numerators and totals per pair; the
    // float L1 values live only in engine-side flags.
    "q168_embedding_drift_alarm" -> ((s, dir) => {
      import graft.anomaly.AbsoluteChangeStrategy
      import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
      import graft.operators.CellPopulationDrift
      import graft.repository.{InMemoryMetricsRepository, ResultKey}
      val emb = table(s, dir, "embeddings")
      val init = Clustering.initMinIdQuantized(emb, "vec_id", "embedding", 4)
      val valid = emb.where(col("embedding").isNotNull)
      def day(i: Int): DataFrame = {
        val base = valid.where(pmod(col("vec_id"), lit(31)) =!= i)
        if (i < 3) base
        else base.withColumn("embedding",
          transform(col("embedding"), x => -x))
      }
      def st(i: Int): DataFrame =
        Clustering.cellStateQuantized(day(i), "embedding", init)
      val pairs = (0 until 3).map(i =>
        Clustering.cellPopulationDrift(st(i), st(i + 1)).persist())
      val lanes = pairs.zipWithIndex.map { case (p, i) =>
        val t = p.agg(
          coalesce(sum(col("l1_num")), lit(0L)),
          max(col("tot_a")), max(col("tot_b"))).collect().head
        (i + 1L, t.getLong(0), t.getLong(1), t.getLong(2))
      }
      val drift = CellPopulationDrift()
      val repo = new InMemoryMetricsRepository
      val strategy = AbsoluteChangeStrategy(Some(-0.012), Some(0.012))
      repo.save(ResultKey(1L),
        graft.runners.AnalysisRunner.run(pairs(0), Seq(drift)))
      val cleanOk = VerificationSuite().onData(pairs(1))
        .addCheck(Check(CheckLevel.Error, "embedding drift history")
          .isNewestPointNonAnomalous(repo, strategy, drift))
        .run().status == CheckStatus.Success
      repo.save(ResultKey(2L),
        graft.runners.AnalysisRunner.run(pairs(1), Seq(drift)))
      val alarmOk = VerificationSuite().onData(pairs(2))
        .addCheck(Check(CheckLevel.Error, "embedding drift history")
          .isNewestPointNonAnomalous(repo, strategy, drift))
        .run().status == CheckStatus.Error
      pairs.foreach(_.unpersist(blocking = false))
      import s.implicits._
      lanes.map { case (pair, l1Num, totA, totB) =>
        (pair, l1Num, totA, totB,
          if (cleanOk) 1L else 0L, if (alarmOk) 1L else 0L)
      }.toDF("pair", "l1_num_sum", "tot_a", "tot_b",
        "clean_ok", "alarm_ok")
        .orderBy(col("pair"))
    }),

    // q169: deterministic training-order CURRICULUM — per-epoch document
    // order derived from (id, epoch) alone (xorshift pre-mix + per-epoch
    // affine keys mod the Mersenne prime 2^31−1 with MINSTD-power
    // multipliers, shard = high key bits, total order = key·2^31 +
    // id-residue), so any worker reconstructs any slice of any epoch
    // with no RNG state and no partition-order dependence.
    // The audit is the release gate's view: per (epoch, shard, source)
    // — exact doc counts (every shard a representative mix, every
    // epoch), the exact key span, and the ord-minimal first_doc as a
    // hash-pinnable witness that the ORDER itself reproduces. One
    // corpus scan (epoch fan-out is a narrow explode), map-side partial
    // aggregation, output rows corpus-size-independent.
    "q169_curriculum_order" -> ((s, dir) => {
      import graft.pipeline.Mixing
      Mixing.curriculumAudit(
        table(s, dir, "documents"), "doc_id", "source",
        epochs = 2, nShards = 8)
        .select(col("epoch"), col("shard"), col("source"),
          col("n_docs"), col("min_key"), col("max_key"), col("first_doc"))
        .orderBy(col("epoch"), col("shard"), col("source"))
    }),

    // q170: the lineage family's STREAMING twin — the q166 release
    // chain arriving as a live multi-release stream. Six input files
    // each slice ALL FOUR releases by doc_id residue, so every trigger
    // carries fragments of several releases at once; the per-batch
    // state is the keyed (release, shard) manifest monoid
    // (DatasetManifest.buildKeyed), parts fold at read
    // (foldKeyedManifests), and lineageFromKeyed answers "which release
    // introduced this shard's drift" from the folded state alone —
    // corpus scanned exactly once, at ingest. The engine pins streamed
    // == one-shot lineage AND post-compaction == one-shot as set
    // equality (exact integer/string lanes — no tolerance), surfaced as
    // the two flag columns the oracle expects at 1.
    "q170_streaming_lineage" -> ((s, dir) => {
      import graft.pipeline.DatasetManifest
      import graft.streaming.StreamingOps
      val base = table(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val r2 = base.withColumn("text",
        when(col("doc_id") === 7, concat(col("text"), lit("X")))
          .otherwise(col("text")))
      val r3 = r2.where(col("doc_id") =!= 20)
        .unionByName(r2.where(col("doc_id") === 33))
      val r4 = r3.withColumn("text",
        when(col("doc_id") === 23, concat(lit("Y"), col("text")))
          .otherwise(col("text")))
      val chain = Seq(1L -> base, 2L -> r2, 3L -> r3, 4L -> r4)
      val tagged = chain.map { case (rid, df) =>
        df.withColumn("release", lit(rid))
      }.reduce(_ unionByName _)
      withTempDir("graft-q170") { tmp =>
        val ingest = new StreamingOps.SketchStateIngest(s"$tmp/m",
          b => DatasetManifest.buildKeyed(
            b, "release", "doc_id", Seq("source", "text"), shards = 16),
          parts => DatasetManifest.foldKeyedManifests(parts))
        // 6 files (see q147: the keyed-manifest fold is batch-agnostic;
        // batches slice several releases at once)
        streamStaged(s, tagged, 6, tmp)(ingest.asForeachBatch())
        val streamed = DatasetManifest
          .lineageFromKeyed(ingest.state(s)).persist()
        val oneShot = DatasetManifest.lineage(chain.map { case (rid, df) =>
          rid -> DatasetManifest.build(
            df, "doc_id", Seq("source", "text"), shards = 16)
        }).persist()
        val streamedOk = bagEq(streamed, oneShot)
        ingest.compact(s)
        val compactedOk =
          bagEq(DatasetManifest.lineageFromKeyed(ingest.state(s)), oneShot)
        val out = streamed
          .withColumn("streamed_eq_oneshot",
            lit(if (streamedOk) 1L else 0L))
          .withColumn("compacted_eq_oneshot",
            lit(if (compactedOk) 1L else 0L))
          .orderBy(col("shard"), col("release"))
        collectReleasing(s, out) {
          streamed.unpersist(blocking = false)
          oneShot.unpersist(blocking = false)
        }
      }
    }),

    // q171: eval-suite x shard contamination census from PERSISTED
    // per-shard gram-bloom states — the manifest family's two-stage
    // discipline applied to decontamination: stage 1 probes the KB-per-
    // shard bloom state table with each suite's gram hashes (corpus
    // never read; no false negatives by the bloom guarantee), stage 2
    // runs the exact gram join over ONLY the flagged shards. The query
    // also runs the full-corpus exact census as the proof pass and pins
    // three properties as flags: every truly contaminated pair was
    // flagged, the false-positive pair count is bounded, and the
    // restricted stage-2 census equals the full one. Suites follow the
    // q110 convention (13-token probe windows sliced from named docs →
    // one gram per probe, so the hash census IS the string census the
    // oracle replays); suite 3 is a synthetic absent probe.
    "q171_shard_contamination" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{concat_ws, size => fsize, slice => fslice, greatest => fgreatest}
      import s.implicits._
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
      val ntoks = TextAnalysis.normalizedTokens(col("text"))
      def suiteProbes(ids: Seq[Long]): DataFrame =
        docs.filter(col("doc_id").isin(ids: _*))
          .filter(fsize(ntoks) >= 18)
          .select(concat_ws(" ", fslice(ntoks, 6, 13)).as("probe"))
          .distinct()
      val suites = Seq(
        1L -> suiteProbes(Seq(20L, 30L, 45L)),
        2L -> suiteProbes(Seq(8L, 15L, 62L)),
        3L -> Seq((1 to 13).map(i => s"qq$i").mkString(" "))
          .toDF("probe"))
      val suiteGramsDf = suites.map { case (sid, p) =>
        TextAnalysis.probeGramHashes(p, "probe", n = 13)
          .select(lit(sid).as("suite"), col("graft_gram"))
      }.reduce(_ unionByName _).persist()
      val suiteGramLists = suiteGramsDf.collect()
        .groupBy(_.getLong(0))
        .map { case (sid, rows) => sid -> rows.map(_.getLong(1)).toSeq }
        .toSeq.sortBy(_._1)
      val shards = 16
      val corpusGrams = docs
        .agg(coalesce(sum(fgreatest(fsize(ntoks) - lit(12), lit(1))),
          lit(0L))).collect().head.getLong(0)
      val (bits, k) = graft.sketch.Bloom.sizeFor(
        math.max(64L, corpusGrams / shards), 0.01)
      withTempDir("graft-q171") { tmp =>
        TextAnalysis.shardGramBloomStates(
          docs, "doc_id", "text", shards, bits, k)
          .write.parquet(s"$tmp/st")
        val states = s.read.parquet(s"$tmp/st")
        val cand = TextAnalysis.shardContaminationCandidates(
          states, suiteGramLists, bits, k).persist()
        val flaggedShards = cand.where(col("cand_hits") > 0)
          .select(col("shard")).distinct().collect()
          .map(_.getLong(0)).toSeq
        val full = TextAnalysis.shardContaminationCensus(
          docs, "doc_id", "text", suiteGramsDf, "suite", shards).persist()
        val restricted = TextAnalysis.shardContaminationCensus(
          docs.where(pmod(col("doc_id"), lit(shards))
            .isin(flaggedShards: _*)),
          "doc_id", "text", suiteGramsDf, "suite", shards)
        val flaggedPairs = cand.where(col("cand_hits") > 0)
          .select(col("shard"), col("suite"))
        val exactPairs = full.select(col("shard"), col("suite"))
        // ONE signed-count job yields BOTH pins: rows the exact census
        // has beyond the flags (false negatives) and the flagged excess
        // (false positives) are the two sides of the same bag diff
        val (falseNegPairs, fpPairs) = bagDiffCounts(exactPairs, flaggedPairs)
        val noFalseNeg = falseNegPairs == 0L
        val restrictedOk = bagEq(restricted, full)
        val grid = (for { sh <- 0 until shards; su <- 1 to 3 }
          yield (sh.toLong, su.toLong)).toDF("shard", "suite")
        val out = grid.join(full, Seq("shard", "suite"), "left_outer")
          .select(col("shard"), col("suite"),
            coalesce(col("matched_grams"), lit(0L)).as("matched_grams"),
            coalesce(col("contaminated_docs"), lit(0L))
              .as("contaminated_docs"),
            lit(if (noFalseNeg) 1L else 0L).as("no_false_neg"),
            lit(if (fpPairs <= shards) 1L else 0L).as("fp_bounded"),
            lit(if (restrictedOk) 1L else 0L).as("restricted_eq_full"))
          .orderBy(col("shard"), col("suite"))
        collectReleasing(s, out) {
          suiteGramsDf.unpersist(blocking = false)
          cand.unpersist(blocking = false)
          full.unpersist(blocking = false)
        }
      }
    }),

    // q172: the bloom-state family's STREAMING twin, closing the loop
    // q171 opened: per-micro-batch shard bloom states staged by a live
    // foreachBatch ingest fold at read (count lanes add, bitsets OR) to
    // BYTE-FOR-BYTE the one-shot whole-release state — the bitset is a
    // pure function of the key set, so streamed == one-shot ==
    // post-compaction is EXACT equality, and the candidate matrix
    // served off the streamed state must match the one-shot serve
    // row-for-row. The oracle replays the per-shard distinct-gram
    // census (dedup within doc, whole-text fallback under 13 tokens)
    // and pins the three parities at 1.
    "q172_streaming_bloom_states" -> ((s, dir) => {
      import graft.streaming.StreamingOps
      import org.apache.spark.sql.functions.{concat_ws, size => fsize, slice => fslice, greatest => fgreatest}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("text"))
      val ntoks = TextAnalysis.normalizedTokens(col("text"))
      val shards = 16
      val corpusGrams = docs
        .agg(coalesce(sum(fgreatest(fsize(ntoks) - lit(12), lit(1))),
          lit(0L))).collect().head.getLong(0)
      val (bits, k) = graft.sketch.Bloom.sizeFor(
        math.max(64L, corpusGrams / shards), 0.01)
      withTempDir("graft-q172") { tmp =>
        val ingest = new StreamingOps.SketchStateIngest(s"$tmp/st",
          b => TextAnalysis.shardGramBloomStates(
            b, "doc_id", "text", shards, bits, k),
          parts => TextAnalysis.foldShardGramBlooms(parts))
        // 4 files (see q147: the bloom OR-fold is batch-agnostic)
        streamStaged(s, docs, 4, tmp)(ingest.asForeachBatch())
        val streamed = ingest.state(s).persist()
        val oneShot = TextAnalysis.shardGramBloomStates(
          docs, "doc_id", "text", shards, bits, k).persist()
        // materialize the streamed rows BEFORE compaction rewrites parts
        val streamedRows = streamed
          .select(col("shard"), col("n_gram_rows"))
          .orderBy(col("shard")).collect()
        val streamedOk = bagEq(streamed, oneShot)
        val probes = docs
          .filter(col("doc_id").isin(20L, 30L, 45L))
          .filter(fsize(ntoks) >= 18)
          .select(concat_ws(" ", fslice(ntoks, 6, 13)).as("probe"))
          .distinct()
        val grams = TextAnalysis.probeGramHashes(probes, "probe", n = 13)
          .collect().map(_.getLong(0)).toSeq
        def cands(st: DataFrame) = TextAnalysis
          .shardContaminationCandidates(st, Seq(1L -> grams), bits, k)
        val serveOk = bagEq(cands(streamed), cands(oneShot))
        ingest.compact(s)
        val compactedOk = bagEq(ingest.state(s), oneShot)
        import s.implicits._
        val out = streamedRows.map(r => (r.getLong(0), r.getLong(1),
            if (streamedOk) 1L else 0L,
            if (compactedOk) 1L else 0L,
            if (serveOk) 1L else 0L))
          .toSeq.toDF("shard", "n_gram_rows", "streamed_eq_oneshot",
            "compacted_eq_oneshot", "serve_parity")
          .orderBy(col("shard"))
        streamed.unpersist(blocking = false)
        oneShot.unpersist(blocking = false)
        collectReleasing(s, out)(())
      }
    }),

    // q173: the curriculum RELEASE — q169's deterministic epoch order
    // shipped as a physical artifact and pinned by the manifest family:
    // epoch 1's assignment is written shard-partitioned (the curriculum
    // shard IS the layout, so a training loader addresses
    // path/shard=s/ directly), read back, and reduced to (a) the
    // round-trip parity pin, (b) a DatasetManifest.buildAt manifest
    // KEYED BY THE CURRICULUM SHARD over the written bytes — the
    // reproducibility receipt a release ships with — and (c) per-shard
    // order witnesses (ord-minimal/maximal docs, exact key span). Every
    // lane is exact integer/fingerprint math the oracle replays from
    // the same curriculumConstants + md5/XOR arithmetic; nothing about
    // the release needs the corpus re-read once the receipt exists.
    "q173_curriculum_release" -> ((s, dir) => {
      import graft.pipeline.{DatasetManifest, Mixing}
      import org.apache.spark.sql.functions.{min_by => fminBy, max_by => fmaxBy}
      val docs = table(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val assigned = Mixing
        .curriculumAssign(docs, "doc_id", epochs = 1, nShards = 8)
        .persist()
      withTempDir("graft-q173") { tmp =>
        assigned.write.partitionBy("shard").mode("overwrite")
          .parquet(s"$tmp/rel")
        val back = s.read.parquet(s"$tmp/rel").persist()
        def key(df: DataFrame) = df.select(
          col("shard").cast(LongType), col("doc_id"), col("sort_key"),
          col("ord"))
        val roundtripOk = bagEq(key(back), key(assigned))
        val manifest = DatasetManifest.buildAt(
          back, col("shard"), "doc_id", Seq("source", "text"))
        val witness = back
          .groupBy(col("shard").cast(LongType).as("shard"))
          .agg(
            fminBy(col("doc_id"), col("ord")).as("first_doc"),
            fmaxBy(col("doc_id"), col("ord")).as("last_doc"),
            min(col("sort_key")).as("min_key"),
            max(col("sort_key")).as("max_key"))
        val out = manifest.join(witness, Seq("shard"))
          .withColumn("roundtrip_ok", lit(if (roundtripOk) 1L else 0L))
          .orderBy(col("shard"))
        collectReleasing(s, out) {
          assigned.unpersist(blocking = false)
          back.unpersist(blocking = false)
        }
      }
    })
  )

  /** The shared BPE-segmentation CTE chain (w/dw/init/bpe/seg), generated
    * from [[BpeDemoMerges]] — `seg` maps every distinct corpus word to its
    * BPE token count under the demo vocab. Used by the q77 and q81
    * oracles so the replay cannot drift between them.
    */
  /** The q94 oracle, GENERATED from [[UnigramDemoPieces]]: the Viterbi
    * DP unrolled into one CTE per word position (words longer than
    * `maxLen` are excluded by BOTH engines and counted). Per position
    * the argmax over candidate last-piece lengths orders by
    * (score DESC, length ASC) — exactly the engine's strictly-greater /
    * shortest-last-piece rule; single-char gaps LEFT JOIN to the UNK
    * score, multi-char gaps INNER JOIN away.
    */
  /** The generated Viterbi-DP CTE chain shared by the q94 and q95
    * oracles: given an upstream CTE `w` with a `word` column (distinct
    * words), appends `lp`, `b0..b<maxLen>` and `useg(word, s, np)` —
    * best score and piece count per word of length <= maxLen (longer
    * words are excluded; q94 pins their count at 0 on this corpus).
    */
  private val UnigramMaxWordLen = 12
  private def unigramDpChain: String = {
    val maxLen = UnigramMaxWordLen
    val maxP = 4
    val vals = UnigramDemoPieces
      .map { case (p, l) => s"('$p', ($l)::DOUBLE)" }
      .mkString(", ")
    val steps = (1 to maxLen).map { j =>
      val cands = (1 to math.min(maxP, j)).map { l =>
        val prev = s"b${j - l}"
        val piece = s"substr($prev.word, ${j - l + 1}, $l)"
        if (l == 1)
          s"SELECT $prev.word, $prev.s + coalesce(lp.logp, " +
            s"($UnigramDemoUnk)::DOUBLE) AS s, $prev.np + 1 AS np, 1 AS l " +
            s"FROM $prev LEFT JOIN lp ON lp.piece = $piece " +
            s"WHERE len($prev.word) >= $j"
        else
          s"SELECT $prev.word, $prev.s + lp.logp AS s, $prev.np + 1 AS np, " +
            s"$l AS l FROM $prev JOIN lp ON lp.piece = $piece " +
            s"WHERE len($prev.word) >= $j"
      }.mkString(" UNION ALL ")
      s"b$j AS MATERIALIZED (SELECT word, s, np FROM (SELECT word, s, np, " +
        "row_number() OVER (PARTITION BY word ORDER BY s DESC, l ASC) " +
        s"AS rn FROM ($cands) cand) rk WHERE rn = 1)"
    }.mkString(",\n")
    val segUnion = (1 to maxLen)
      .map(j => s"SELECT word, s, np FROM b$j WHERE len(word) = $j")
      .mkString(" UNION ALL ")
    s"lp AS MATERIALIZED (\n  SELECT * FROM (VALUES $vals) AS t(piece, logp)\n" +
      s"), b0 AS MATERIALIZED (\n  SELECT word, 0.0::DOUBLE AS s, 0 AS np FROM w " +
      s"WHERE len(word) <= $maxLen\n),\n" +
      s"$steps,\nuseg AS MATERIALIZED ($segUnion)"
  }

  private def unigramOracleSql: String = {
    val maxLen = UnigramMaxWordLen
    "WITH tkn AS MATERIALIZED (\n" +
      "  SELECT unnest(list_filter(string_split_regex(lower(text), '" +
      "\\s+" +
      "'), x -> x <> '')) AS word\n" +
      "  FROM documents WHERE doc_id IS NOT NULL\n" +
      "), w AS MATERIALIZED (\n" +
      "  SELECT word, count(*) AS tf FROM tkn GROUP BY 1\n" +
      s"), $unigramDpChain\n" +
      "SELECT count(*)::DOUBLE AS n_words,\n" +
      "  sum(w.tf * useg.np)::DOUBLE AS corpus_pieces,\n" +
      "  sum(useg.np)::DOUBLE AS word_piece_sum,\n" +
      "  max(useg.np)::DOUBLE AS max_pieces,\n" +
      "  round(sum(useg.s), 6) AS score_sum,\n" +
      "  coalesce(max(CASE WHEN word = 'customer' THEN useg.np END), 0)" +
      "::DOUBLE AS customer_pieces,\n" +
      "  coalesce(max(CASE WHEN word = 'row' THEN useg.np END), 0)" +
      "::DOUBLE AS row_pieces,\n" +
      "  coalesce(max(CASE WHEN word = 'part' THEN useg.np END), 0)" +
      "::DOUBLE AS part_pieces,\n" +
      s"  (SELECT count(*) FROM w WHERE len(word) > $maxLen)::DOUBLE " +
      "AS n_long_words\n" +
      "FROM useg JOIN w USING (word)"
  }

  /** The q95 oracle: the q70/q81 temperature-mixture replay with
    * per-doc token counts from the unigram Viterbi DP (the q94 chain
    * composed in — the two oracles cannot drift).
    */
  private def unigramMixtureOracleSql: String =
    "WITH dtf AS MATERIALIZED (\n" +
      "  SELECT doc_id, word, count(*) AS tf FROM (\n" +
      "    SELECT doc_id, unnest(list_filter(string_split_regex(" +
      "lower(text), '" + "\\s+" + "'), x -> x <> '')) AS word\n" +
      "    FROM documents WHERE doc_id IS NOT NULL) t GROUP BY 1, 2\n" +
      "), w AS MATERIALIZED (\n" +
      "  SELECT DISTINCT word FROM dtf\n" +
      s"), $unigramDpChain,\n" +
      """dc AS (
        |  SELECT dtf.doc_id, sum(dtf.tf * useg.np) AS toks
        |  FROM dtf JOIN useg USING (word) GROUP BY 1),
        |h AS (
        |  SELECT d.doc_id, d.source,
        |         substring(md5('graft:' || d.doc_id::VARCHAR), 1, 8) AS hh,
        |         coalesce(dc.toks, 0) AS toks
        |  FROM documents d LEFT JOIN dc ON d.doc_id = dc.doc_id
        |  WHERE d.doc_id IS NOT NULL),
        |ns AS (SELECT source, sum(toks) AS n FROM h
        |       WHERE source IS NOT NULL GROUP BY 1),
        |z AS (SELECT sum(sqrt(n)) AS z FROM ns),
        |b AS (SELECT source,
        |        floor(10000 * sqrt(n) / (SELECT z FROM z))::BIGINT AS budget
        |      FROM ns),
        |tb AS (
        |  SELECT * FROM (
        |    SELECT h.doc_id, h.source, h.toks, b.budget,
        |           sum(h.toks) OVER (PARTITION BY h.source
        |             ORDER BY h.hh, h.doc_id
        |             ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM h JOIN b USING (source))
        |  WHERE cum <= budget)
        |SELECT b.source, b.budget::DOUBLE AS budget,
        |       coalesce(t.k, 0)::DOUBLE AS kept_docs,
        |       coalesce(t.tk, 0)::DOUBLE AS kept_unigram_tokens,
        |       coalesce(t.ids, 0)::DOUBLE AS id_sum
        |FROM b LEFT JOIN (
        |  SELECT source, count(*) AS k, sum(toks) AS tk,
        |         sum(doc_id) AS ids
        |  FROM tb GROUP BY 1) t USING (source)
        |ORDER BY b.source""".stripMargin

  private def bpeSegCtes: String = {
    val n = BpeDemoMerges.length
    val caseExpr = BpeDemoMerges.zipWithIndex.map { case ((a, b), i) =>
      s"WHEN $i THEN replace(seg, ' $a $b ', ' $a$b ')"
    }.mkString("CASE mi ", " ", " ELSE seg END")
    s"""w AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(text, '\\s+'), x -> x <> '')) AS w
       |  FROM documents WHERE text IS NOT NULL),
       |dw AS (SELECT DISTINCT w FROM w),
       |init AS (
       |  SELECT w, ' ' || array_to_string(list_transform(range(length(w)),
       |    i -> substring(w, (i + 1)::INT, 1)), ' ') || ' ' AS seg, 0 AS mi
       |  FROM dw),
       |bpe AS (
       |  SELECT w, seg, mi FROM init
       |  UNION ALL
       |  SELECT w, nseg,
       |         CASE WHEN nseg <> seg THEN mi ELSE mi + 1 END AS mi
       |  FROM (SELECT w, seg, mi, $caseExpr AS nseg
       |        FROM bpe WHERE mi < $n)),
       |seg AS (SELECT w, len(string_split(trim(seg), ' ')) AS c
       |        FROM bpe WHERE mi = $n)""".stripMargin
  }

  /** The q134/q135 segmentation chain, generated from
    * [[ByteBpeDemoMerges]] — byte-for-byte: `hex(encode(w))` spells each
    * word's UTF-8 bytes as the same 2-char lowercase hex symbols the
    * engine uses, then the per-merge fixpoint replace chain replays the
    * rank-priority application (the BpeSpec/ByteBpeSpec-pinned
    * equivalence for well-formed lists).
    */
  private def byteBpeSegCtes: String = {
    val n = ByteBpeDemoMerges.length
    val caseExpr = ByteBpeDemoMerges.zipWithIndex.map { case ((a, b), i) =>
      s"WHEN $i THEN replace(seg, ' $a $b ', ' $a$b ')"
    }.mkString("CASE mi ", " ", " ELSE seg END")
    s"""w AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(concat_ws(' ', text, '$ByteBpeInjectTail'),
       |      '\\s+'), x -> x <> '')) AS w
       |  FROM documents),
       |dw AS (SELECT DISTINCT w FROM w),
       |init AS (
       |  SELECT w, ' ' || array_to_string(list_transform(
       |    range(octet_length(encode(w))),
       |    i -> lower(substring(hex(encode(w)), (2 * i + 1)::INT, 2))),
       |    ' ') || ' ' AS seg, 0 AS mi
       |  FROM dw),
       |bpe AS (
       |  SELECT w, seg, mi FROM init
       |  UNION ALL
       |  SELECT w, nseg,
       |         CASE WHEN nseg <> seg THEN mi ELSE mi + 1 END AS mi
       |  FROM (SELECT w, seg, mi, $caseExpr AS nseg
       |        FROM bpe WHERE mi < $n)),
       |seg AS (SELECT w, len(string_split(trim(seg), ' ')) AS c
       |        FROM bpe WHERE mi = $n)""".stripMargin
  }

  /** The q77 oracle, generated from [[BpeDemoMerges]]. */
  private def bpeOracleSql: String = {
    s"""WITH RECURSIVE $bpeSegCtes,
       |pc AS (
       |  SELECT substring(w, (i + 1)::INT, 1) AS a,
       |         substring(w, (i + 2)::INT, 1) AS b, count(*) AS c
       |  FROM (SELECT w, unnest(range(length(w) - 1)) AS i
       |        FROM w WHERE length(w) >= 2)
       |  GROUP BY 1, 2),
       |fm AS (SELECT a || ' ' || b AS m FROM pc ORDER BY c DESC, a, b LIMIT 1)
       |SELECT (SELECT count(*) FROM w)::DOUBLE AS ws_tokens,
       |       (SELECT sum(s.c) FROM w JOIN seg s USING (w))::DOUBLE
       |         AS bpe_tokens,
       |       (SELECT sum(w.doc_id * s.c)
       |        FROM w JOIN seg s USING (w))::DOUBLE AS bpe_id_weighted,
       |       (SELECT m FROM fm) AS first_merge""".stripMargin
  }

  // -------------------------------------------------------------------------
  // DuckDB oracles (ANSI SQL on the same parquet tables)
  // -------------------------------------------------------------------------

  /** The q102 oracle, GENERATED per iteration: DuckDB replays the exact
    * quantized Lloyd trajectory in BORING SCALAR SQL — one unnest into
    * explicit (vec_id, i, x) rows up front (no zip-unnest, no
    * generate_subscripts), dots via SUM(x*c) GROUP BY joins (no
    * list_inner_product), argmax via a plain row_number window (no
    * correlated ORDER-BY-LIMIT subquery) — and, because the vectors are
    * snapped to the 1/1000 integer grid inside the query definition,
    * every downstream decision (assignment keys 2M·(vq·cq) − |cq|²,
    * floor-division centroid updates, the inertia numerator) is exact
    * integer math no engine version can flip. Mirrors
    * Clustering.lloydQuantized / assignQuantized bit-for-bit.
    */
  private def kmeansCtes(k: Int, iterations: Int): String = {
    // floorDiv(a, b) for b > 0 via the canonical non-negative modulo —
    // identical semantics in every SQL engine and in Math.floorDiv
    def floorDiv(a: String, b: String): String =
      s"CAST(($a - ((($a) % ($b) + ($b)) % ($b))) / ($b) AS BIGINT)"
    val iters = (1 to iterations).map { t =>
      s"""s$t AS (
         |  SELECT ex.vec_id, c.cell,
         |    2000 * sum(ex.x * c.c) - sum(c.c * c.c) AS key
         |  FROM ex JOIN c${t - 1} c USING (i)
         |  GROUP BY ex.vec_id, c.cell
         |), a$t AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY key DESC, cell DESC) AS rn
         |    FROM s$t) rk
         |  WHERE rn = 1
         |), m$t AS (
         |  SELECT a.cell, ex.i,
         |    ${floorDiv("1000 * sum(ex.x)", "count(*)")} AS c
         |  FROM a$t a JOIN ex USING (vec_id)
         |  GROUP BY a.cell, ex.i
         |), c$t AS MATERIALIZED (
         |  SELECT p.cell, p.i, coalesce(n.c, p.c) AS c
         |  FROM c${t - 1} p LEFT JOIN m$t n ON n.cell = p.cell AND n.i = p.i
         |)""".stripMargin
    }.mkString(",\n")
    s"""ex AS MATERIALIZED (
       |  SELECT vec_id, (u).i AS i, (u).x AS x FROM (
       |    SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
       |      j -> {'i': j, 'x': CAST(floor(v[j] * 1000 + 0.5) AS BIGINT)}))
       |      AS u
       |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |          WHERE embedding IS NOT NULL) vv)
       |), el AS (
       |  SELECT vec_id, label FROM embeddings WHERE embedding IS NOT NULL
       |), ids0 AS (
       |  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::INT
       |    AS cell
       |  FROM (SELECT vec_id FROM el ORDER BY vec_id LIMIT $k) kk
       |), c0 AS MATERIALIZED (
       |  SELECT ids0.cell, ex.i, ex.x * 1000 AS c
       |  FROM ids0 JOIN ex USING (vec_id)
       |),
       |$iters,
       |sfin AS (
       |  SELECT ex.vec_id, c.cell,
       |    2000 * sum(ex.x * c.c) - sum(c.c * c.c) AS key
       |  FROM ex JOIN c$iterations c USING (i)
       |  GROUP BY ex.vec_id, c.cell
       |), afin AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY key DESC, cell DESC) AS rn
       |    FROM sfin) rk
       |  WHERE rn = 1
       |), ad AS (
       |  SELECT a.vec_id, a.cell,
       |    sum((1000 * ex.x - c.c) * (1000 * ex.x - c.c)) AS d2
       |  FROM afin a JOIN ex USING (vec_id)
       |  JOIN c$iterations c ON c.cell = a.cell AND c.i = ex.i
       |  GROUP BY a.vec_id, a.cell
       |), af AS MATERIALIZED (
       |  SELECT ad.vec_id, el.label, ad.cell, ad.d2
       |  FROM ad JOIN el ON el.vec_id = ad.vec_id
       |)""".stripMargin
  }

  private def kmeansOracleSql(k: Int, iterations: Int): String = {
    // every pin is exact integer math on the quantized grid — sizes,
    // id sums, the inertia NUMERATOR Σ|M·vq − cq|² (back in the hash
    // after two rounds out: integers have no rounding boundary for an
    // oracle-engine version to sit on the other side of), and the
    // majority label (ties cnt DESC, label ASC)
    s"""WITH ${kmeansCtes(k, iterations)}, pc AS (
       |  SELECT cell, count(*) AS n, sum(vec_id)::BIGINT AS id_sum,
       |    sum(d2)::BIGINT AS inertia_num
       |  FROM af GROUP BY cell
       |), lt AS (
       |  SELECT cell, label, count(*) AS cnt FROM af GROUP BY cell, label
       |), tp AS (
       |  SELECT cell, label AS top_label, cnt AS top_label_n
       |  FROM (SELECT cell, label, cnt, row_number() OVER (
       |          PARTITION BY cell ORDER BY cnt DESC, label ASC) AS rn
       |        FROM lt) rk
       |  WHERE rn = 1
       |)
       |SELECT pc.cell, pc.n, pc.id_sum, pc.inertia_num,
       |  tp.top_label, tp.top_label_n
       |FROM pc JOIN tp USING (cell)""".stripMargin
  }

  /** The q166/q170 lineage oracle: the four staged releases rebuilt in
    * SQL, each reduced to the same md5/XOR 16-shard manifest as the
    * engine, then three pairwise FULL-OUTER manifest diffs tagged with
    * the introducing release — the SQL form of the lineage window
    * (equivalent because a dense per-shard timeline's consecutive-row
    * comparison IS the chain of pairwise release diffs). q170 adds the
    * two streaming-parity flag lanes, pinned 1: the engine asserts
    * streamed == one-shot == post-compaction set equality itself.
    */
  private def lineageOracleSql(withStreamFlags: Boolean): String = {
    def manifestCte(name: String, src: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT doc_id % 16 AS shard, count(*) AS n_rows,
         |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |    bit_xor(CAST(('0x' || substr(md5(concat_ws(chr(31),
         |      CAST(doc_id AS VARCHAR),
         |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
         |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT))
         |      AS content_fp
         |  FROM $src GROUP BY shard
         |)""".stripMargin
    def transitionSelect(a: String, b: String, rel: Int): String =
      s"""SELECT coalesce(a.shard, b.shard) AS shard,
         |    $rel::BIGINT AS release,
         |    CASE WHEN b.shard IS NULL THEN 'removed'
         |         WHEN a.shard IS NULL THEN 'added'
         |         WHEN a.n_rows IS DISTINCT FROM b.n_rows
         |           OR a.id_sum IS DISTINCT FROM b.id_sum
         |           OR a.content_fp IS DISTINCT FROM b.content_fp
         |           THEN 'changed' END AS status,
         |    CASE WHEN a.shard IS NOT NULL AND b.shard IS NOT NULL
         |           AND (a.n_rows IS DISTINCT FROM b.n_rows
         |                OR a.id_sum IS DISTINCT FROM b.id_sum)
         |         THEN 1 ELSE 0 END::BIGINT AS census_changed,
         |    CASE WHEN a.shard IS NOT NULL AND b.shard IS NOT NULL
         |           AND a.content_fp IS DISTINCT FROM b.content_fp
         |         THEN 1 ELSE 0 END::BIGINT AS content_changed
         |  FROM $a a FULL JOIN $b b ON a.shard = b.shard""".stripMargin
    val flagCols =
      if (withStreamFlags)
        ",\n  1::BIGINT AS streamed_eq_oneshot," +
          "\n  1::BIGINT AS compacted_eq_oneshot"
      else ""
    s"""WITH d AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE doc_id IS NOT NULL
       |), r2 AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id = 7 THEN text || 'X' ELSE text END AS text
       |  FROM d
       |), r3 AS (
       |  SELECT * FROM r2 WHERE doc_id <> 20
       |  UNION ALL SELECT * FROM r2 WHERE doc_id = 33
       |), r4 AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id = 23 THEN 'Y' || text ELSE text END AS text
       |  FROM r3
       |), ${manifestCte("m1", "d")},
       |${manifestCte("m2", "r2")},
       |${manifestCte("m3", "r3")},
       |${manifestCte("m4", "r4")},
       |tr AS (
       |  ${transitionSelect("m1", "m2", 2)}
       |  UNION ALL
       |  ${transitionSelect("m2", "m3", 3)}
       |  UNION ALL
       |  ${transitionSelect("m3", "m4", 4)}
       |)
       |SELECT shard, release, status, census_changed, content_changed$flagCols
       |FROM tr WHERE status IS NOT NULL
       |ORDER BY shard, release""".stripMargin
  }

  // q136 runs q96's body (curationV2) under the builder's name, so it
  // pins against the identical oracle string.
  def oracleSql: Map[String, String] =
    oracleBase + ("q136_curation_builder" -> oracleBase("q96_curation_v2"))

  private lazy val oracleBase: Map[String, String] = Map(

    // the dialect canary: one integer pin per exotic construct — a
    // driver-environment engine skew reds THIS query and the differing
    // row names the construct (see the q000 query comment)
    "q000_dialect_canary" ->
      raw"""WITH lst AS (SELECT [3,1,4,1,5]::BIGINT[] AS v),
        |fix(id, s, v) AS (VALUES (1, 10, 100), (2, 10, 200), (3, 5, 300))
        |SELECT 'zip_unnest_pair' AS construct,
        |  (SELECT sum(i * x)::BIGINT FROM (
        |     SELECT generate_subscripts(v, 1) AS i, unnest(v) AS x
        |     FROM lst) z) AS value
        |UNION ALL SELECT 'struct_unnest_pair',
        |  (SELECT sum((u).i * (u).x)::BIGINT FROM (
        |     SELECT unnest(list_transform(range(1, len(v) + 1),
        |        j -> {'i': j, 'x': v[j]})) AS u FROM lst) z)
        |UNION ALL SELECT 'inner_product_2pow30',
        |  CAST(floor(list_inner_product([0.1,0.2,0.3]::DOUBLE[],
        |     [0.4,0.5,0.6]::DOUBLE[]) * 1073741824 + 0.5) AS BIGINT)
        |UNION ALL SELECT 'corr_limit_subquery',
        |  (SELECT v FROM fix ORDER BY s DESC, v DESC LIMIT 1)::BIGINT
        |UNION ALL SELECT 'win_rownum_ties',
        |  (SELECT sum(id * rn)::BIGINT FROM (
        |     SELECT id, row_number() OVER (ORDER BY s DESC, id DESC) AS rn
        |     FROM fix) w)
        |UNION ALL SELECT 'round_half_pos',
        |  CAST(round(2.5) + round(3.5) AS BIGINT)
        |UNION ALL SELECT 'round_half_neg', CAST(round(-2.5) AS BIGINT)
        |UNION ALL SELECT 'floor_quant_half',
        |  CAST(floor(CAST(0.0625::FLOAT AS DOUBLE) * 1000 + 0.5) AS BIGINT)
        |UNION ALL SELECT 'neg_mod', CAST(-7 % 3 AS BIGINT)
        |UNION ALL SELECT 'pmod_canon', CAST(((-7 % 3) + 3) % 3 AS BIGINT)
        |UNION ALL SELECT 'intdiv_nonneg',
        |  CAST((46 * 46 * 1000) // 999 AS BIGINT)
        |UNION ALL SELECT 'sum_bigint',
        |  (SELECT sum(x)::BIGINT
        |   FROM (SELECT unnest([1,2,3]::BIGINT[]) AS x) s1)
        |UNION ALL SELECT 'split_regex_len',
        |  CAST(len(string_split_regex('a  b c', '\s+')) AS BIGINT)
        |UNION ALL SELECT 'split_regex_empty',
        |  CAST(len(string_split_regex('', '\n+')) AS BIGINT)
        |UNION ALL SELECT 'split_regex_edges',
        |  CAST(len(string_split_regex(
        |    chr(10) || chr(10) || 'x' || chr(10) || 'y' || chr(10),
        |    '\n+')) AS BIGINT)
        |UNION ALL SELECT 'floordiv_neg_canon',
        |  CAST((-7 - ((-7 % 3) + 3) % 3) / 3 AS BIGINT)
        |UNION ALL SELECT 'intdiv_double_envelope',
        |  CAST((9007199254740991 - 9007199254740991 % 999) / 999 AS BIGINT)
        |UNION ALL SELECT 'xorshift_mix',
        |  CAST(xor(1234567891, 1234567891 >> 15) AS BIGINT)""".stripMargin,

    "q01_size" ->
      """SELECT count(*)::DOUBLE AS size_all,
        |       sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::DOUBLE AS size_filtered
        |FROM lineitem""".stripMargin,

    "q02_completeness" ->
      """SELECT count(l_orderkey)::DOUBLE / count(*) AS completeness_orderkey,
        |       sum(CASE WHEN l_quantity > 25 AND l_quantity IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |         / sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS completeness_qty_filtered
        |FROM lineitem""".stripMargin,

    "q03_compliance" ->
      """SELECT sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS qty_in_range,
        |       sum(CASE WHEN l_discount <= 0.06 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS low_discount,
        |       sum(CASE WHEN l_tax < l_discount THEN 1 ELSE 0 END)::DOUBLE / count(*) AS tax_lt_discount
        |FROM lineitem""".stripMargin,

    "q04_minmax" ->
      """SELECT min(l_extendedprice)::DOUBLE AS min_price,
        |       max(l_extendedprice)::DOUBLE AS max_price,
        |       (max(l_extendedprice) - min(l_extendedprice))::DOUBLE AS range_price,
        |       min(CASE WHEN l_discount > 0.05 THEN l_quantity END)::DOUBLE AS min_qty_filtered
        |FROM lineitem""".stripMargin,

    "q05_sum_mean" ->
      """SELECT sum(l_quantity)::DOUBLE AS sum_qty,
        |       sum(l_quantity)::DOUBLE / count(l_quantity) AS mean_qty,
        |       sum(l_quantity)::DOUBLE / sum(l_linenumber)::DOUBLE AS ratio_qty_linenumber
        |FROM lineitem""".stripMargin,

    "q06_moments" ->
      """WITH m AS (SELECT avg(l_quantity) AS mu FROM lineitem),
        |     t AS (SELECT count(*)::DOUBLE AS n,
        |                  sum(pow(l_quantity - m.mu, 2)) AS m2,
        |                  sum(pow(l_quantity - m.mu, 3)) AS m3,
        |                  sum(pow(l_quantity - m.mu, 4)) AS m4
        |           FROM lineitem, m)
        |SELECT round(sqrt(m2 / n), 6) AS stddev_qty,
        |       round(m2 / n, 6) AS var_qty,
        |       round(sqrt(n) * m3 / pow(m2, 1.5), 6) AS skew_qty,
        |       round(n * m4 / (m2 * m2) - 3.0, 6) AS kurt_qty
        |FROM t""".stripMargin,

    "q07_corr" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
        |FROM lineitem""".stripMargin,

    "q08_quantiles" ->
      """SELECT round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        |       round(quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25), 6) AS iqr_qty
        |FROM lineitem""".stripMargin,

    // q09: exact values reproduced by DuckDB; the sketch-tolerance flags are
    // asserted true — a sketch drifting outside its error bound turns the
    // Spark-side flag to 0.0 and the hash compare catches it
    "q09_approx" ->
      """SELECT count(DISTINCT l_partkey)::DOUBLE AS exact_distinct_partkey,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS exact_median_qty,
        |       1.0::DOUBLE AS approx_distinct_ok,
        |       1.0::DOUBLE AS approx_median_ok
        |FROM lineitem""".stripMargin,

    "q10_zeros_lengths" ->
      """SELECT (SELECT sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END)::DOUBLE FROM lineitem) AS zeros_discount,
        |       (SELECT min(length(p_name))::DOUBLE FROM part) AS min_name_len,
        |       (SELECT max(length(p_name))::DOUBLE FROM part) AS max_name_len""".stripMargin,

    "q11_pattern" ->
      """SELECT (SELECT sum(CASE WHEN regexp_matches(c_name, '^Customer#[0-9]+$') THEN 1 ELSE 0 END)::DOUBLE
        |          / count(*) FROM customer) AS customer_name_pattern,
        |       (SELECT sum(CASE WHEN regexp_matches(p_type, '^(ECONOMY|SMALL)$') THEN 1 ELSE 0 END)::DOUBLE
        |          / count(*) FROM part) AS part_type_pattern""".stripMargin,

    "q12_datatype" ->
      """SELECT (SELECT sum(CASE WHEN regexp_matches(CAST(p_size AS VARCHAR), '^(-|\+)?[0-9]+$') THEN 1 ELSE 0 END)::DOUBLE FROM part) AS size_integral,
        |       (SELECT sum(CASE WHEN NOT regexp_matches(CAST(p_size AS VARCHAR), '^(-|\+)?[0-9]+$') THEN 1 ELSE 0 END)::DOUBLE FROM part) AS size_string,
        |       (SELECT sum(CASE WHEN NOT (regexp_matches(p_brand, '^(true|false)$') OR regexp_matches(p_brand, '^(-|\+)?[0-9]+$') OR regexp_matches(p_brand, '^(-|\+)?([0-9]+(\.[0-9]*)?|\.[0-9]+)$')) THEN 1 ELSE 0 END)::DOUBLE FROM part) AS brand_string,
        |       (SELECT sum(CASE WHEN regexp_matches(p_brand, '^(-|\+)?[0-9]+$') THEN 1 ELSE 0 END)::DOUBLE FROM part) AS brand_integral""".stripMargin,

    "q13_uniqueness" ->
      """WITH f AS (SELECT l_orderkey, l_linenumber, count(*) AS c
        |           FROM lineitem GROUP BY 1, 2),
        |     n AS (SELECT count(*)::DOUBLE AS numrows FROM lineitem)
        |SELECT (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE FROM f) / n.numrows AS uniq_pair,
        |       (SELECT count(*)::DOUBLE FROM f) / n.numrows AS distinctness_pair,
        |       (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE FROM f)
        |         / (SELECT count(*)::DOUBLE FROM f) AS uvr_pair,
        |       (SELECT count(DISTINCT l_partkey)::DOUBLE FROM lineitem) AS distinct_partkeys
        |FROM n""".stripMargin,

    "q14_entropy_mi" ->
      """WITH n AS (SELECT count(*)::DOUBLE AS nr FROM lineitem),
        |     e AS (SELECT sum(-(c / n.nr) * ln(c / n.nr)) AS entropy
        |           FROM (SELECT count(*)::DOUBLE AS c FROM lineitem GROUP BY l_returnflag), n),
        |     joint AS (SELECT l_returnflag AS a, l_linestatus AS b, count(*)::DOUBLE AS c
        |               FROM lineitem GROUP BY 1, 2),
        |     ma AS (SELECT a, sum(c) AS ca FROM joint GROUP BY a),
        |     mb AS (SELECT b, sum(c) AS cb FROM joint GROUP BY b),
        |     mi AS (SELECT sum((j.c / n.nr) * ln((j.c / n.nr) / ((ma.ca / n.nr) * (mb.cb / n.nr)))) AS mi
        |            FROM joint j JOIN ma ON j.a = ma.a JOIN mb ON j.b = mb.b, n)
        |SELECT round(e.entropy, 6) AS entropy_returnflag,
        |       round(mi.mi, 6) AS mi_flag_status
        |FROM e, mi""".stripMargin,

    "q15_duprows" ->
      """SELECT sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE AS dup_rows_pair
        |FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)""".stripMargin,

    "q16_histogram" ->
      """SELECT o_orderpriority AS value,
        |       count(*) AS absolute,
        |       count(*)::DOUBLE / (SELECT count(*) FROM orders) AS ratio
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY absolute DESC, value ASC
        |LIMIT 5""".stripMargin,

    "q17_referential_integrity" ->
      """SELECT (SELECT count(*)::DOUBLE FROM part
        |          WHERE p_partkey IN (SELECT l_partkey FROM lineitem))
        |         / (SELECT count(*) FROM part) AS parts_referenced,
        |       (SELECT count(*)::DOUBLE FROM orders
        |          WHERE o_custkey IN (SELECT c_custkey FROM customer))
        |         / (SELECT count(*) FROM orders) AS orders_have_customers""".stripMargin,

    "q18_rowcount_match" ->
      """SELECT (SELECT count(*) FROM orders)::DOUBLE
        |         / (SELECT count(*) FROM lineitem) AS orders_vs_lineitem""".stripMargin,

    "q19_dataset_match" ->
      """SELECT sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)
        |         AS lineitem_in_big_orders
        |FROM lineitem l
        |LEFT JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 30000.0) o
        |  ON l.l_orderkey = o.o_orderkey""".stripMargin,

    "q20_text_stats" ->
      """WITH t AS (
        |  SELECT len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ntok,
        |         length(text) AS nchars,
        |         length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
        |           / greatest(length(text), 1) AS alpha_ratio,
        |         (length(text) - length(regexp_replace(text, '[\s]', '', 'g')))::DOUBLE
        |           / greatest(length(text), 1) AS ws_ratio,
        |         CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) > 0
        |              THEN list_sum(list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''), x -> length(x)))::DOUBLE
        |                / len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |              ELSE 0.0 END AS mean_tok_len
        |  FROM documents)
        |SELECT sum(ntok)::DOUBLE AS total_tokens,
        |       max(ntok)::DOUBLE AS max_tokens,
        |       sum(nchars)::DOUBLE AS total_chars,
        |       round(sum(alpha_ratio), 6) AS sum_alpha_ratio,
        |       round(sum(ws_ratio), 6) AS sum_ws_ratio,
        |       round(sum(mean_tok_len), 6) AS sum_mean_token_len
        |FROM t""".stripMargin,

    "q21_dedup_exact" ->
      """WITH k AS (SELECT count(DISTINCT (l_orderkey, l_linenumber)) AS kept,
        |                  count(*) AS total
        |           FROM lineitem)
        |SELECT kept::DOUBLE AS rows_kept,
        |       (total - kept)::DOUBLE AS rows_dropped,
        |       kept::DOUBLE AS survivors
        |FROM k""".stripMargin,

    "q22_lang_id" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts,
        |         length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk
        |  FROM documents),
        |scored AS (
        |  SELECT cjk,
        |    len(list_filter(ts, x -> x IN ('der','die','das','und','ist','von','ein','eine','mit','zu'))) AS c_de,
        |    len(list_filter(ts, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS c_en,
        |    len(list_filter(ts, x -> x IN ('el','la','de','que','y','en','un','una','los','las'))) AS c_es,
        |    len(list_filter(ts, x -> x IN ('le','la','les','des','et','est','une','dans','pour','que'))) AS c_fr,
        |    len(list_filter(ts, x -> x IN ('的','是','在','了','和','有','我','不','这','他'))) AS c_zh
        |  FROM toks),
        |pred AS (
        |  SELECT CASE
        |    WHEN cjk > 0 THEN 'zh'
        |    WHEN greatest(c_de, c_en, c_es, c_fr, c_zh) = 0 THEN 'und'
        |    WHEN c_de = greatest(c_de, c_en, c_es, c_fr, c_zh) THEN 'de'
        |    WHEN c_en = greatest(c_de, c_en, c_es, c_fr, c_zh) THEN 'en'
        |    WHEN c_es = greatest(c_de, c_en, c_es, c_fr, c_zh) THEN 'es'
        |    WHEN c_fr = greatest(c_de, c_en, c_es, c_fr, c_zh) THEN 'fr'
        |    ELSE 'zh' END AS lang_pred
        |  FROM scored)
        |SELECT sum(CASE WHEN lang_pred = 'de' THEN 1 ELSE 0 END)::DOUBLE AS pred_de,
        |       sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END)::DOUBLE AS pred_en,
        |       sum(CASE WHEN lang_pred = 'es' THEN 1 ELSE 0 END)::DOUBLE AS pred_es,
        |       sum(CASE WHEN lang_pred = 'fr' THEN 1 ELSE 0 END)::DOUBLE AS pred_fr,
        |       sum(CASE WHEN lang_pred = 'und' THEN 1 ELSE 0 END)::DOUBLE AS pred_und,
        |       sum(CASE WHEN lang_pred = 'zh' THEN 1 ELSE 0 END)::DOUBLE AS pred_zh
        |FROM pred""".stripMargin,

    "q23_fingerprint" ->
      """SELECT count(DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g')))::DOUBLE AS fp_distinct
        |FROM documents""".stripMargin,

    // q24: DuckDB reproduces the exact all-pairs Jaccard ground truth with
    // string shingles (same tokenization; the engine's 64-bit shingle hashes
    // preserve set identity) on doc_id < 500 — the COMPLETE table at
    // sf0.01. Recall flags asserted true.
    "q24_near_dup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents WHERE doc_id < 500),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) >= 3 THEN
        |      list_distinct(list_transform(range(len(ts) - 2),
        |        i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
        |    WHEN len(ts) > 0 THEN [array_to_string(ts, ' ')]
        |    ELSE []::VARCHAR[] END AS sh
        |  FROM d),
        |p AS (
        |  SELECT len(list_intersect(a.sh, b.sh))::DOUBLE
        |           / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT (SELECT count(*) FROM p WHERE j >= 0.5)::DOUBLE AS exact_jaccard_pairs,
        |       1.0::DOUBLE AS minhash_recall_ok,
        |       1.0::DOUBLE AS simhash_recall_ok""".stripMargin,

    // q25: fully exact — cosine ranking recomputed from the raw embeddings
    "q25_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |p AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) = 0
        |           OR sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) = 0
        |         THEN 0.0
        |         ELSE list_sum(list_transform(range(len(q.qv)),
        |                i -> q.qv[i+1]::DOUBLE * e.embedding[i+1]::DOUBLE))
        |           / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
        |              * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))))
        |    END AS cos
        |  FROM q CROSS JOIN embeddings e
        |  WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 4
        |ORDER BY query_id, rank""".stripMargin,

    // q34: exact min/max/count/quantiles reproduced by DuckDB; KLL bucket
    // and percentile_approx accuracy asserted as flags
    "q34_kll" ->
      """SELECT min(l_quantity)::DOUBLE AS kll_min,
        |       max(l_quantity)::DOUBLE AS kll_max,
        |       count(l_quantity)::DOUBLE AS kll_n,
        |       1.0::DOUBLE AS kll_buckets_ok,
        |       round(quantile_cont(l_quantity, 0.25), 6) AS exact_p25,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS exact_p50,
        |       round(quantile_cont(l_quantity, 0.75), 6) AS exact_p75,
        |       1.0::DOUBLE AS approx_p25_ok,
        |       1.0::DOUBLE AS approx_p50_ok,
        |       1.0::DOUBLE AS approx_p75_ok
        |FROM lineitem""".stripMargin,

    // q35: metadata + custom-SQL/custom-aggregator analyzers, all exact
    "q35_custom" ->
      """SELECT (SELECT count(*)::DOUBLE FROM (DESCRIBE lineitem)) AS column_count_lineitem,
        |       1.0::DOUBLE AS column_exists_qty,
        |       (SELECT round(avg(o_totalprice), 6) FROM orders) AS custom_sql_avg_price,
        |       (SELECT round(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::DOUBLE
        |          / count(*), 6) FROM orders) AS share_f,
        |       (SELECT round(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::DOUBLE
        |          / count(*), 6) FROM orders) AS share_o""".stripMargin,

    // q36: row-level match outcome is exactly "o_orderkey is even"
    "q36_match_rowlevel" ->
      """SELECT 1.0::DOUBLE AS schema_match_self,
        |       1.0::DOUBLE AS schema_cross_differs,
        |       sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::DOUBLE AS rows_matched,
        |       count(*)::DOUBLE AS rows_total
        |FROM orders""".stripMargin,

    // q37: hourly tumbling windows align to the epoch in both engines
    "q37_windowed_events" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       count(*) AS n_events,
        |       round(sum(value), 6) AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY win_start""".stripMargin,

    // q40: count + exact integer-grid norm mass (the q102 convention);
    // mean-norm / quantization fidelity flags asserted true
    "q40_embedding_quant" ->
      """SELECT count(*)::DOUBLE AS n_vectors,
        |       coalesce(sum(list_sum(list_transform(embedding::DOUBLE[],
        |         x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)
        |              * CAST(floor(x * 1000 + 0.5) AS BIGINT)))), 0)::DOUBLE
        |         AS norm2_grid_sum,
        |       1.0::DOUBLE AS mean_norm_ok,
        |       1.0::DOUBLE AS quant_cos_ok,
        |       1.0::DOUBLE AS codes_in_range_ok
        |FROM embeddings""".stripMargin,

    // q39: identical injection + RE2-compatible patterns reproduce the
    // counts; redaction leaves zero residual matches
    "q39_pii_scrub" ->
      """WITH d AS (
        |  SELECT text || CASE WHEN doc_id % 10 = 0
        |    THEN ' contact user@example.com or http://example.org/a and host 10.0.0.1'
        |    ELSE '' END AS t
        |  FROM documents),
        |m AS (
        |  SELECT
        |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |    len(regexp_extract_all(t, 'https?://[^\s]+')) AS nu,
        |    len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      'https?://[^\s]+', '[URL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS red,
        |    t
        |  FROM d)
        |SELECT sum(ne)::DOUBLE AS n_emails,
        |       sum(nu)::DOUBLE AS n_urls,
        |       sum(ni)::DOUBLE AS n_ips,
        |       sum(CASE WHEN ne + nu + ni > 0 THEN 1 ELSE 0 END)::DOUBLE AS docs_with_pii,
        |       sum(CASE WHEN red <> t THEN 1 ELSE 0 END)::DOUBLE AS docs_redacted,
        |       sum(CASE WHEN regexp_matches(red,
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
        |           OR regexp_matches(red, 'https?://[^\s]+')
        |           OR regexp_matches(red,
        |             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')
        |           THEN 1 ELSE 0 END)::DOUBLE AS pii_after_redaction
        |FROM m""".stripMargin,

    // q38: Spark session_window semantics — a new session starts when the
    // gap from the previous event is >= the gap duration (session extends
    // to last_event + gap, exclusive)
    "q38_sessionized_events" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL '10 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT count(*)::DOUBLE AS n_sessions,
        |       max(n)::DOUBLE AS max_session_events,
        |       sum(n)::DOUBLE AS total_events
        |FROM g""".stripMargin,

    // q27: exact query count; IVF completeness/recall flags asserted true
    "q27_ann_ivf" ->
      """SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 5)::DOUBLE AS n_queries,
        |       1.0::DOUBLE AS ivf_complete_ok,
        |       1.0::DOUBLE AS ivf_recall_ok""".stripMargin,

    // q32: exact cosine pair census at tau = 0.42 on vec_id < 500, on
    // the INTEGER GRID (tau^2 = 441/2500 exactly; quantize then the
    // cross-multiplied-squares test — no float threshold decision
    // remains anywhere in the embedding oracles); LSH recall flag
    // asserted true
    "q32_embedding_neardup" ->
      """WITH ce AS MATERIALIZED (
        |  SELECT vec_id, (u).i AS i, (u).x AS x FROM (
        |    SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
        |      j -> {'i': j, 'x': CAST(floor(v[j] * 1000 + 0.5) AS BIGINT)}))
        |      AS u
        |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |          WHERE vec_id < 500 AND embedding IS NOT NULL) vv)
        |), n2 AS (
        |  SELECT vec_id, sum(x * x)::BIGINT AS n2 FROM ce GROUP BY vec_id
        |), d AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    sum(a.x * b.x)::BIGINT AS dq
        |  FROM ce a JOIN ce b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2
        |)
        |SELECT (SELECT count(*)
        |        FROM d
        |        JOIN n2 na ON na.vec_id = d.id_a
        |        JOIN n2 nb ON nb.vec_id = d.id_b
        |        WHERE d.dq > 0
        |          AND 2500 * d.dq * d.dq >= 441 * na.n2 * nb.n2)::DOUBLE
        |         AS exact_cos_pairs,
        |       1.0::DOUBLE AS lsh_recall_ok""".stripMargin,

    "q26_dqdl" ->
      """WITH u AS (SELECT count(*) AS groups,
        |                  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS singles
        |           FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey))
        |SELECT (SELECT CASE WHEN count(*) > 100 THEN 1 ELSE 0 END::DOUBLE FROM orders) AS rowcount,
        |       (SELECT CASE WHEN count(o_orderkey) = count(*) THEN 1 ELSE 0 END::DOUBLE FROM orders) AS iscomplete,
        |       (SELECT CASE WHEN sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) = count(*) THEN 1 ELSE 0 END::DOUBLE FROM orders) AS in_set,
        |       (SELECT CASE WHEN sum(CASE WHEN o_totalprice > 0 AND o_totalprice < 1000000 THEN 1 ELSE 0 END) = count(*) THEN 1 ELSE 0 END::DOUBLE FROM orders) AS between,
        |       (SELECT CASE WHEN avg(o_totalprice) > 1000 AND avg(o_totalprice) < 500000 THEN 1 ELSE 0 END::DOUBLE FROM orders) AS mean,
        |       (SELECT CASE WHEN u.singles::DOUBLE / (SELECT count(*) FROM orders) = 1.0 THEN 1 ELSE 0 END::DOUBLE FROM u) AS uniqueness,
        |       (SELECT CASE WHEN sum(CASE WHEN o_totalprice = 0 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END::DOUBLE FROM orders) AS zeros,
        |       (SELECT CASE WHEN count(DISTINCT o_orderpriority) = 5 THEN 1 ELSE 0 END::DOUBLE FROM orders) AS distinct_count,
        |       (SELECT CASE WHEN count(*) > 0.9 * count(*) AND count(*) < 1.1 * count(*) THEN 1 ELSE 0 END::DOUBLE FROM orders) AS dynamic_rowcount,
        |       (SELECT CASE WHEN avg(o_totalprice) <= 1.5 * avg(o_totalprice) THEN 1 ELSE 0 END::DOUBLE FROM orders) AS dynamic_mean,
        |       (SELECT CASE WHEN count(*) = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
        |          FROM (DESCRIBE SELECT * FROM orders)
        |          WHERE NOT regexp_matches(column_name, 'o_')) AS colnames_contains,
        |       (SELECT CASE WHEN count(*) = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
        |          FROM (DESCRIBE SELECT * FROM orders)
        |          WHERE NOT regexp_matches(column_name, '^nope$')) AS colnames_nomatch""".stripMargin,

    "q28_histogram_binned" ->
      """WITH b AS (SELECT least(greatest(floor(l_quantity / 10)::INT + 1, 1), 5) AS bin
        |           FROM lineitem WHERE l_quantity IS NOT NULL),
        |     n AS (SELECT count(*)::DOUBLE AS total FROM b),
        |     bins AS (SELECT unnest([1,2,3,4,5]) AS bin)
        |SELECT bins.bin::DOUBLE AS bin,
        |       coalesce(cnt, 0)::DOUBLE AS absolute,
        |       round(coalesce(cnt, 0)::DOUBLE / n.total, 6) AS ratio
        |FROM bins
        |LEFT JOIN (SELECT bin, count(*) AS cnt FROM b GROUP BY bin) g ON bins.bin = g.bin, n
        |ORDER BY bin""".stripMargin,

    "q29_rowlevel" ->
      """WITH r AS (
        |  SELECT coalesce(l_quantity <= 30, TRUE)
        |         AND coalesce(l_orderkey IS NOT NULL, TRUE)
        |         AND coalesce(count(*) OVER (PARTITION BY l_orderkey, l_linenumber) = 1, TRUE)
        |           AS ok
        |  FROM lineitem)
        |SELECT sum(CASE WHEN ok THEN 1 ELSE 0 END)::DOUBLE AS rows_passing,
        |       count(*)::DOUBLE AS rows_total
        |FROM r""".stripMargin,

    "q33_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) >= 3 THEN
        |      list_distinct(list_transform(range(len(ts) - 2),
        |        i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
        |    WHEN len(ts) > 0 THEN [array_to_string(ts, ' ')]
        |    ELSE []::VARCHAR[] END AS sh
        |  FROM d)
        |SELECT a.doc_id AS id_a,
        |       round(len(list_intersect(a.sh, b.sh))::DOUBLE
        |         / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin,

    "q31_quality_score" ->
      """WITH t AS (
        |  SELECT text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS lts,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |s AS (
        |  SELECT least(length(text) / 200.0, 1.0) AS len_score,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
        |      / greatest(length(text), 1) AS alpha,
        |    least(CASE WHEN len(lts) > 0
        |          THEN len(list_filter(lts, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE / len(lts)
        |          ELSE 0.0 END * 5.0, 1.0) AS stop_score,
        |    CASE WHEN len(ts) > 0
        |         THEN list_sum(list_transform(ts, x -> length(x)))::DOUBLE / len(ts)
        |         ELSE 0.0 END AS tok_len
        |  FROM t),
        |q AS (SELECT len_score * 0.3 + alpha * 0.3 + stop_score * 0.2 +
        |             (CASE WHEN tok_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2
        |        AS quality FROM s)
        |SELECT round(sum(quality), 6) AS sum_quality,
        |       sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)::DOUBLE AS docs_above_half
        |FROM q""".stripMargin,

    "q30_schema_validation" ->
      """WITH v AS (
        |  SELECT (doc_id IS NOT NULL AND doc_id >= 0)
        |         AND (lang IS NOT NULL AND length(lang) <= 2)
        |         AND (n_chars IS NOT NULL AND n_chars >= 1) AS ok
        |  FROM documents)
        |SELECT sum(CASE WHEN ok THEN 1 ELSE 0 END)::DOUBLE AS valid_rows,
        |       sum(CASE WHEN ok THEN 0 ELSE 1 END)::DOUBLE AS invalid_rows
        |FROM v""".stripMargin,

    // Suggestion flags mirror each rule's trigger condition on exact data:
    // unique-if-approximately-unique (|distinct - nonnull|/nonnull < 0.08),
    // complete-if-complete, categorical range (<=10 categories, no nulls),
    // non-negative (min >= 0), has-min / has-max-length (column non-empty).
    // orderkey_approx_ok is the q09-style HLL tolerance flag.
    "q41_profile_suggest" ->
      """WITH a AS (
        |  SELECT count(*)::DOUBLE AS num_records,
        |         count(o_custkey)::DOUBLE / count(*) AS custkey_completeness,
        |         min(o_totalprice) AS totalprice_min,
        |         max(o_totalprice) AS totalprice_max,
        |         round(avg(o_totalprice), 3) AS totalprice_mean_r3,
        |         round(stddev_pop(o_totalprice), 3) AS totalprice_stddev_r3,
        |         count(DISTINCT o_orderstatus)::DOUBLE AS status_hist_bins,
        |         min(length(o_orderpriority))::DOUBLE AS prio_min_len,
        |         max(length(o_orderpriority))::DOUBLE AS prio_max_len,
        |         CASE WHEN count(try_cast(o_orderkey::VARCHAR AS BIGINT)) = count(o_orderkey)
        |              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS okeystr_inferred_integral,
        |         min(o_orderkey)::DOUBLE AS okeystr_num_min,
        |         count(DISTINCT o_orderkey)::DOUBLE AS orderkey_exact_distinct,
        |         1.0::DOUBLE AS orderkey_approx_ok,
        |         CASE WHEN abs(count(DISTINCT o_orderkey) - count(o_orderkey))::DOUBLE
        |                   / count(o_orderkey) < 0.08
        |              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS sugg_orderkey_unique,
        |         CASE WHEN abs(count(DISTINCT o_custkey) - count(o_custkey))::DOUBLE
        |                   / count(o_custkey) < 0.08
        |              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS sugg_custkey_unique,
        |         CASE WHEN count(o_custkey) = count(*)
        |              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS sugg_custkey_complete,
        |         CASE WHEN count(DISTINCT o_orderstatus) BETWEEN 1 AND 10
        |                   AND count(o_orderstatus) = count(*)
        |              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS sugg_status_range,
        |         CASE WHEN min(o_totalprice) >= 0
        |              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS sugg_totalprice_nonneg,
        |         CASE WHEN count(o_totalprice) > 0
        |              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS sugg_totalprice_min,
        |         CASE WHEN count(o_orderpriority) > 0
        |              THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS sugg_prio_maxlen
        |  FROM orders),
        |b AS (SELECT max(cnt)::DOUBLE / sum(cnt) AS tr
        |      FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderstatus))
        |SELECT a.*, round(b.tr, 6) AS status_top_ratio_r6 FROM a, b""".stripMargin,

    // Window-function mirrors of the driver-side strategies: prefix
    // avg/var_pop over ROWS UNBOUNDED PRECEDING..1 PRECEDING replicates
    // Welford with ignoreAnomalies=false (numIgnored = ceil(0.1*n),
    // count>1 <=> i>=2); lag() replicates the order-1 change strategies;
    // whole-training aggregates replicate BatchNormal. HoltWinters flags
    // are literal 1.0 (BOBYQA parameter fitting is not SQL-expressible);
    // the addAnomalyCheck flag equals "last index is OnlineNormal-flagged".
    "q42_anomaly" ->
      """WITH mc AS (
        |  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS c
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT row_number() OVER (ORDER BY m) - 1 AS i,
        |         c::DOUBLE * (CASE WHEN strftime(m, '%Y-%m') = '2000-10'
        |                           THEN 3 ELSE 1 END) AS v
        |  FROM mc),
        |w AS (
        |  SELECT i, v,
        |         avg(v) OVER (ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp,
        |         var_pop(v) OVER (ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vp,
        |         lag(v) OVER (ORDER BY i) AS pv,
        |         count(*) OVER () AS n
        |  FROM s),
        |onl AS (
        |  SELECT i FROM w
        |  WHERE i >= ceil(0.1 * n) AND i >= 2
        |    AND (v > mp + 3 * sqrt(vp) OR v < mp - 3 * sqrt(vp))),
        |rr AS (
        |  SELECT i FROM w
        |  WHERE i >= 1 AND (v / pv < 0.5 OR v / pv > 2.0)),
        |ab AS (
        |  SELECT i FROM w
        |  WHERE i >= 1 AND (v - pv < -60.0 OR v - pv > 60.0)),
        |bt AS (
        |  SELECT avg(v) AS bm, sqrt(var_pop(v)) AS bs
        |  FROM w WHERE i < (SELECT n - 10 FROM w LIMIT 1)),
        |bn AS (
        |  SELECT w.i FROM w, bt
        |  WHERE w.i >= w.n - 10
        |    AND (w.v > bt.bm + 3 * bt.bs OR w.v < bt.bm - 3 * bt.bs))
        |SELECT (SELECT max(n) FROM w)::DOUBLE AS n_months,
        |       (SELECT count(*) FROM onl)::DOUBLE AS onl_n,
        |       (SELECT coalesce(sum(i), 0) FROM onl)::DOUBLE AS onl_sum_idx,
        |       (SELECT count(*) FROM rr)::DOUBLE AS rr_n,
        |       (SELECT coalesce(sum(i), 0) FROM rr)::DOUBLE AS rr_sum_idx,
        |       (SELECT count(*) FROM ab)::DOUBLE AS abs_n,
        |       (SELECT coalesce(sum(i), 0) FROM ab)::DOUBLE AS abs_sum_idx,
        |       (SELECT count(*) FROM bn)::DOUBLE AS bn_n,
        |       (SELECT coalesce(sum(i), 0) FROM bn)::DOUBLE AS bn_sum_idx,
        |       1.0::DOUBLE AS hw_spike_ok,
        |       1.0::DOUBLE AS hw_last_ok,
        |       CASE WHEN EXISTS (SELECT 1 FROM onl, w
        |                         WHERE onl.i = w.n - 1)
        |            THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS anomaly_check_flagged""".stripMargin,

    // Every *_reloaded column passed through persist -> reload -> re-render
    // with no data scan on the Spark side; DuckDB computes the same values
    // straight from the parquet. The repo-match and loader-count flags are
    // Spark-side assertions (serde round-trip equality is not
    // SQL-expressible) mirrored as literals — a failed round trip flips
    // them to 0/!= and the hash compare catches it.
    "q43_repo_roundtrip" ->
      """WITH n AS (SELECT count(*)::DOUBLE AS nr FROM orders),
        |     f AS (SELECT count(*)::DOUBLE AS c FROM orders GROUP BY o_orderstatus),
        |     e AS (SELECT sum(-(f.c / n.nr) * ln(f.c / n.nr)) AS ent,
        |                  sum(CASE WHEN f.c = 1 THEN 1 ELSE 0 END)::DOUBLE AS uniq_vals
        |           FROM f, n)
        |SELECT (SELECT count(*)::DOUBLE FROM orders) AS size_reloaded,
        |       (SELECT count(o_custkey)::DOUBLE / count(*) FROM orders)
        |         AS completeness_custkey_reloaded,
        |       (SELECT round(avg(o_totalprice), 3) FROM orders)
        |         AS mean_totalprice_reloaded_r3,
        |       (SELECT round(stddev_pop(o_totalprice), 3) FROM orders)
        |         AS stddev_totalprice_reloaded_r3,
        |       (SELECT min(o_totalprice) FROM orders) AS min_totalprice_reloaded,
        |       (SELECT max(o_totalprice) FROM orders) AS max_totalprice_reloaded,
        |       round(e.uniq_vals / n.nr, 6) AS uniq_status_reloaded_r6,
        |       round(e.ent, 6) AS entropy_status_reloaded_r6,
        |       (SELECT count(o_totalprice)::DOUBLE FROM orders) AS kll_n_reloaded,
        |       (SELECT min(o_totalprice) FROM orders) AS kll_min_reloaded,
        |       (SELECT max(o_totalprice) FROM orders) AS kll_max_reloaded,
        |       1.0::DOUBLE AS fs_repo_match,
        |       1.0::DOUBLE AS spark_repo_match,
        |       1.0::DOUBLE AS mem_repo_match,
        |       1.0::DOUBLE AS mem_state_match,
        |       2.0::DOUBLE AS loader_window_count,
        |       2.0::DOUBLE AS loader_tag_count,
        |       (SELECT count(*)::DOUBLE FROM orders) AS merged_size,
        |       (SELECT round(avg(o_totalprice), 3) FROM orders) AS merged_mean_r3,
        |       round(e.uniq_vals / n.nr, 6) AS merged_uniq_status_r6,
        |       round(e.ent, 6) AS merged_entropy_status_r6,
        |       (SELECT count(o_totalprice)::DOUBLE FROM orders) AS merged_kll_n,
        |       (SELECT min(o_totalprice) FROM orders) AS merged_kll_min,
        |       (SELECT max(o_totalprice) FROM orders) AS merged_kll_max
        |FROM e, n""".stripMargin,

    // Distances recomputed from exact frequency tables; KS via running-CDF
    // window over distinct values. The sketch-KS flag is a Spark-side
    // assertion (KLL error bound), mirrored as a literal.
    "q44_distance" ->
      """WITH f1 AS (SELECT o_orderpriority AS k, count(*)::DOUBLE AS c
        |            FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |     f2 AS (SELECT o_orderpriority AS k, count(*)::DOUBLE AS c
        |            FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
        |     j AS (SELECT coalesce(f1.k, f2.k) AS k,
        |                  coalesce(f1.c, 0) AS c1, coalesce(f2.c, 0) AS c2
        |           FROM f1 FULL OUTER JOIN f2 ON f1.k = f2.k),
        |     t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM j),
        |     r AS (SELECT k, c1, c2, c1 / t.n1 AS r1, c2 / t.n2 AS r2 FROM j, t),
        |     cat AS (SELECT max(abs(r1 - r2)) AS v FROM r),
        |     chi AS (SELECT sum(CASE WHEN r2 * t.n1 = 0 AND c1 = 0 THEN 0
        |                             ELSE pow(abs(c1 - greatest(r2 * t.n1, 0.5)), 2)
        |                                  / greatest(r2 * t.n1, 0.5) END) AS v
        |             FROM r, t),
        |     psi AS (SELECT sum((greatest(r1, 0.0001) - greatest(r2, 0.0001))
        |                        * ln(greatest(r1, 0.0001) / greatest(r2, 0.0001))) AS v
        |             FROM r),
        |     g1 AS (SELECT CASE WHEN o_totalprice > 150000 THEN 'high' ELSE 'low' END AS k,
        |                   count(*)::DOUBLE AS c
        |            FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |     g2 AS (SELECT CASE WHEN o_totalprice > 150000 THEN 'high' ELSE 'low' END AS k,
        |                   count(*)::DOUBLE AS c
        |            FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
        |     gj AS (SELECT coalesce(g1.k, g2.k) AS k,
        |                   coalesce(g1.c, 0) AS c1, coalesce(g2.c, 0) AS c2
        |            FROM g1 FULL OUTER JOIN g2 ON g1.k = g2.k),
        |     gt AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM gj),
        |     chy AS (SELECT sum(CASE WHEN (c2 / gt.n2) * gt.n1 = 0 AND c1 = 0 THEN 0
        |                             ELSE pow(abs(c1 - greatest((c2 / gt.n2) * gt.n1, 0.5)) - 0.5, 2)
        |                                  / greatest((c2 / gt.n2) * gt.n1, 0.5) END) AS v
        |             FROM gj, gt),
        |     n AS (SELECT sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::DOUBLE AS na,
        |                  sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::DOUBLE AS nb
        |           FROM orders),
        |     pts AS (SELECT o_totalprice AS v,
        |                    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::DOUBLE AS ca,
        |                    sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::DOUBLE AS cb
        |             FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1),
        |     kd AS (SELECT abs(sum(ca) OVER (ORDER BY v) / n.na
        |                     - sum(cb) OVER (ORDER BY v) / n.nb) AS d FROM pts, n),
        |     ks AS (SELECT max(d) AS v FROM kd)
        |SELECT round(cat.v, 6) AS cat_linf_r6,
        |       round(chi.v, 6) AS chi2_r6,
        |       round(chy.v, 6) AS chi2_yates_r6,
        |       round(psi.v, 6) AS psi_r6,
        |       round(ks.v, 6) AS ks_exact_r6,
        |       1.0::DOUBLE AS ks_sketch_ok
        |FROM cat, chi, chy, psi, ks""".stripMargin,

    // Brute-force top-10 ground truth (self included, ties by neighbor id)
    // exactly as Similarity.bruteForceTopK ranks; LSH flags are Spark-side
    "q45_ann_lsh" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |p AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) = 0
        |           OR sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) = 0
        |         THEN 0.0
        |         ELSE list_sum(list_transform(range(len(q.qv)),
        |                i -> q.qv[i+1]::DOUBLE * e.embedding[i+1]::DOUBLE))
        |           / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
        |              * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))))
        |    END AS cos
        |  FROM q CROSS JOIN embeddings e),
        |r AS (SELECT query_id, neighbor_id,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT (SELECT count(*) FROM r WHERE rank <= 10)::DOUBLE AS n_bf_rows,
        |       (SELECT sum(neighbor_id) FROM r WHERE rank <= 10)::DOUBLE AS bf_id_sum,
        |       1.0::DOUBLE AS lsh_rows_ok,
        |       1.0::DOUBLE AS lsh_recall_ok""".stripMargin,

    // Applicability is a schema-only dry run (no parquet table touched):
    // of the 8 constraints, 6 are applicable; Mean on a string column and
    // a missing column are not. Of the 3 raw analyzers, Maximum("nope")
    // fails. The counts are structural — a behavior change in the
    // dry-run/precondition machinery flips a literal and the hash catches it
    "q46_applicability" ->
      """SELECT 8.0::DOUBLE AS n_constraints,
        |       6.0::DOUBLE AS n_applicable,
        |       2.0::DOUBLE AS n_failures,
        |       0.0::DOUBLE AS check_applicable,
        |       1.0::DOUBLE AS n_analyzer_failures,
        |       0.0::DOUBLE AS analyzers_applicable""".stripMargin,

    // q47: the in-query binary corpus is deterministic (fixed rasters, a
    // constant-amplitude PCM buffer, byte-built AVI trees), so every exact
    // decoded quantity is a literal: PNG/BMP luma from the ITU-R 601
    // weights ((.299r+.587g+.114b)/255 in float), WAV duration/RMS
    // (4000 frames @8kHz, constant 16384/32768 samples -> RMS .5), DIB
    // frame luma, AVI duration (2 frames x 33333us), and the sentinel's
    // true chunk count. Lossy JPEG luma and format-string checks are
    // Spark-side tolerance/equality flags mirrored as 1.0.
    "q47_multimodal" ->
      """SELECT 8.0::DOUBLE AS png_w,
        |       6.0::DOUBLE AS png_h,
        |       0.299::DOUBLE AS png_luma_r6,
        |       1.0::DOUBLE AS png_fmt_ok,
        |       0.353255::DOUBLE AS bmp_luma_r6,
        |       1.0::DOUBLE AS jpeg_dims_ok,
        |       1.0::DOUBLE AS jpeg_luma_ok,
        |       1.0::DOUBLE AS junk_stub_ok,
        |       8000.0::DOUBLE AS wav_rate,
        |       1.0::DOUBLE AS wav_channels,
        |       4000.0::DOUBLE AS wav_frames,
        |       500.0::DOUBLE AS wav_dur_ms,
        |       0.5::DOUBLE AS wav_rms_r6,
        |       2.0::DOUBLE AS dib_frames,
        |       6.0::DOUBLE AS dib_w,
        |       4.0::DOUBLE AS dib_h,
        |       0.071176::DOUBLE AS dib_luma_r6,
        |       2.0::DOUBLE AS mjpg_frames,
        |       1.0::DOUBLE AS mjpg_png_fmt_ok,
        |       1.0::DOUBLE AS mjpg_jpeg_fmt_ok,
        |       1.0::DOUBLE AS h264_sentinel_rows,
        |       5.0::DOUBLE AS h264_chunks,
        |       1.0::DOUBLE AS h264_fmt_ok,
        |       66.666::DOUBLE AS avi_dur_ms_r3,
        |       1.0::DOUBLE AS avi_codec_ok""".stripMargin,

    // q48: connected components of the bipartite order-part incidence
    // graph (orderkey < 300; partkeys offset by 1,000,000 into a disjoint
    // id space) via recursive transitive closure — component label = min
    // reachable node, matching the engine's min-label contract. The
    // near-dup clustering audits are Spark-side flags mirrored as 1.0
    // (the pair relation is engine-specific; the flags assert label
    // consistency and the keep-one-per-cluster counting identity).
    "q48_components" ->
      """WITH RECURSIVE base AS (
        |  SELECT DISTINCT l_orderkey AS a, 1000000 + l_partkey AS b
        |  FROM lineitem WHERE l_orderkey < 300
        |), edges AS (
        |  SELECT a, b FROM base UNION SELECT b, a FROM base
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |), comp AS (
        |  SELECT a AS node, least(min(b), a) AS component FROM reach GROUP BY a
        |)
        |SELECT count(*)::DOUBLE AS cc_nodes,
        |       count(DISTINCT component)::DOUBLE AS cc_components,
        |       (SELECT max(c) FROM (SELECT count(*) AS c FROM comp
        |                            GROUP BY component) t)::DOUBLE AS cc_max_cluster,
        |       sum(component)::DOUBLE AS cc_sum_labels,
        |       1.0::DOUBLE AS nd_pairs_consistent,
        |       1.0::DOUBLE AS nd_accounting_ok,
        |       1.0::DOUBLE AS nd_kept_identity_ok
        |FROM comp""".stripMargin,

    // q49: token-13-gram decontamination — DuckDB rebuilds the identical
    // normalized probe strings and tests space-padded substring
    // containment (contains(), not LIKE: probe text could carry LIKE
    // wildcards) of the single-space-normalized lowercase text, which is
    // exactly token-n-gram containment. The anti-join identity flag is
    // mirrored as 1.0.
    "q49_decontamination" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |         array_to_string(list_filter(string_split_regex(lower(text),
        |           '\s+'), x -> x <> ''), ' ') AS ntext
        |  FROM documents
        |), probes AS (
        |  SELECT DISTINCT array_to_string(
        |    (list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))[6:18], ' ') AS probe
        |  FROM documents
        |  WHERE doc_id IN (20, 30, 45)
        |    AND len(list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> x <> '')) >= 18
        |), m AS (
        |  SELECT n.doc_id, count(DISTINCT p.probe) AS matches
        |  FROM norm n JOIN probes p
        |    ON contains(' ' || n.ntext || ' ', ' ' || p.probe || ' ')
        |  GROUP BY n.doc_id
        |)
        |SELECT (SELECT count(*) FROM probes)::DOUBLE AS n_probes,
        |       count(*)::DOUBLE AS contaminated_docs,
        |       sum(matches)::DOUBLE AS matched_ngrams,
        |       (SELECT count(*) FROM norm)::DOUBLE - count(*)::DOUBLE
        |         AS kept_docs,
        |       1.0::DOUBLE AS kept_identity_ok
        |FROM m""".stripMargin,

    // q50: Gopher repetition rules — DuckDB replays the exact per-doc
    // definitions: positional token n-grams over normalized lowercase
    // text (one cross-joined n table covers n=2..10), line/paragraph
    // duplicate groups after regex-whitespace trim, fractions as one
    // IEEE division of exact integers (guarded to 0 when the denominator
    // is 0, matching fracOf). The filter identity flag is mirrored as 1.0.
    "q50_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks,
        |         text
        |  FROM documents
        |), tot AS (
        |  SELECT doc_id,
        |         coalesce(len(array_to_string(toks, ' ')), 0) AS total_chars
        |  FROM base
        |), gstat AS (
        |  SELECT doc_id, n, max(cnt * l) AS top,
        |         sum(CASE WHEN cnt >= 2 THEN cnt * l ELSE 0 END) AS dup
        |  FROM (
        |    SELECT doc_id, n, g, count(*) AS cnt, len(g) AS l
        |    FROM (
        |      SELECT b.doc_id, nn.n,
        |             unnest(list_transform(range(1, len(b.toks) - nn.n + 2),
        |               i -> array_to_string(b.toks[i : i + nn.n - 1], ' ')))
        |               AS g
        |      FROM base b, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) nn
        |      WHERE len(b.toks) >= nn.n
        |    ) GROUP BY doc_id, n, g
        |  ) GROUP BY doc_id, n
        |), gpiv AS (
        |  SELECT doc_id,
        |         max(CASE WHEN n = 2 THEN top END) AS top2,
        |         max(CASE WHEN n = 3 THEN top END) AS top3,
        |         max(CASE WHEN n = 4 THEN top END) AS top4,
        |         max(CASE WHEN n = 5 THEN dup END) AS dup5,
        |         max(CASE WHEN n = 6 THEN dup END) AS dup6,
        |         max(CASE WHEN n = 7 THEN dup END) AS dup7,
        |         max(CASE WHEN n = 8 THEN dup END) AS dup8,
        |         max(CASE WHEN n = 9 THEN dup END) AS dup9,
        |         max(CASE WHEN n = 10 THEN dup END) AS dup10
        |  FROM gstat GROUP BY doc_id
        |), lstat AS (
        |  SELECT doc_id, sum(c) AS n_items,
        |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_items,
        |         sum(c * l) AS t_chars,
        |         sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup_chars
        |  FROM (
        |    SELECT doc_id, item, count(*) AS c, len(item) AS l
        |    FROM (
        |      SELECT doc_id, unnest(list_filter(list_transform(
        |        string_split(text, chr(10)),
        |        x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
        |        x -> x <> '')) AS item
        |      FROM base
        |    ) GROUP BY doc_id, item
        |  ) GROUP BY doc_id
        |), pstat AS (
        |  SELECT doc_id, sum(c) AS n_items,
        |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_items,
        |         sum(c * l) AS t_chars,
        |         sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup_chars
        |  FROM (
        |    SELECT doc_id, item, count(*) AS c, len(item) AS l
        |    FROM (
        |      SELECT doc_id, unnest(list_filter(list_transform(
        |        string_split_regex(text, '\n\s*\n'),
        |        x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
        |        x -> x <> '')) AS item
        |      FROM base
        |    ) GROUP BY doc_id, item
        |  ) GROUP BY doc_id
        |), per AS (
        |  SELECT t.doc_id, t.total_chars,
        |         coalesce(l.n_items, 0) AS n_lines,
        |         CASE WHEN coalesce(l.n_items, 0) > 0
        |           THEN l.dup_items::DOUBLE / l.n_items ELSE 0 END AS dlf,
        |         CASE WHEN coalesce(l.t_chars, 0) > 0
        |           THEN l.dup_chars::DOUBLE / l.t_chars ELSE 0 END AS dlcf,
        |         CASE WHEN coalesce(p.n_items, 0) > 0
        |           THEN p.dup_items::DOUBLE / p.n_items ELSE 0 END AS dpf,
        |         CASE WHEN coalesce(p.t_chars, 0) > 0
        |           THEN p.dup_chars::DOUBLE / p.t_chars ELSE 0 END AS dpcf,
        |         coalesce(g.top2, 0) AS top2, coalesce(g.top3, 0) AS top3,
        |         coalesce(g.top4, 0) AS top4, coalesce(g.dup5, 0) AS dup5,
        |         coalesce(g.dup6, 0) AS dup6, coalesce(g.dup7, 0) AS dup7,
        |         coalesce(g.dup8, 0) AS dup8, coalesce(g.dup9, 0) AS dup9,
        |         coalesce(g.dup10, 0) AS dup10
        |  FROM tot t
        |  LEFT JOIN lstat l USING (doc_id)
        |  LEFT JOIN pstat p USING (doc_id)
        |  LEFT JOIN gpiv g USING (doc_id)
        |), fr AS (
        |  SELECT *,
        |    CASE WHEN total_chars > 0 THEN top2::DOUBLE / total_chars ELSE 0 END AS ftop2,
        |    CASE WHEN total_chars > 0 THEN top3::DOUBLE / total_chars ELSE 0 END AS ftop3,
        |    CASE WHEN total_chars > 0 THEN top4::DOUBLE / total_chars ELSE 0 END AS ftop4,
        |    CASE WHEN total_chars > 0 THEN dup5::DOUBLE / total_chars ELSE 0 END AS fdup5,
        |    CASE WHEN total_chars > 0 THEN dup6::DOUBLE / total_chars ELSE 0 END AS fdup6,
        |    CASE WHEN total_chars > 0 THEN dup7::DOUBLE / total_chars ELSE 0 END AS fdup7,
        |    CASE WHEN total_chars > 0 THEN dup8::DOUBLE / total_chars ELSE 0 END AS fdup8,
        |    CASE WHEN total_chars > 0 THEN dup9::DOUBLE / total_chars ELSE 0 END AS fdup9,
        |    CASE WHEN total_chars > 0 THEN dup10::DOUBLE / total_chars ELSE 0 END AS fdup10
        |  FROM per
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |       sum(total_chars)::DOUBLE AS sum_total_chars,
        |       sum(n_lines)::DOUBLE AS sum_n_lines,
        |       sum(top2)::DOUBLE AS sum_top_cover_2,
        |       sum(top3)::DOUBLE AS sum_top_cover_3,
        |       sum(top4)::DOUBLE AS sum_top_cover_4,
        |       sum(dup5)::DOUBLE AS sum_dup_chars_5,
        |       sum(dup6)::DOUBLE AS sum_dup_chars_6,
        |       sum(dup7)::DOUBLE AS sum_dup_chars_7,
        |       sum(dup8)::DOUBLE AS sum_dup_chars_8,
        |       sum(dup9)::DOUBLE AS sum_dup_chars_9,
        |       sum(dup10)::DOUBLE AS sum_dup_chars_10,
        |       count(CASE WHEN dlf <= 0.30 AND dpf <= 0.30
        |         AND dlcf <= 0.20 AND dpcf <= 0.20
        |         AND ftop2 <= 0.20 AND ftop3 <= 0.18 AND ftop4 <= 0.16
        |         AND fdup5 <= 0.15 AND fdup6 <= 0.14 AND fdup7 <= 0.13
        |         AND fdup8 <= 0.12 AND fdup9 <= 0.11 AND fdup10 <= 0.10
        |         THEN 1 END)::DOUBLE AS kept_docs,
        |       count(CASE WHEN ftop2 > 0.20 THEN 1 END)::DOUBLE AS fail_top_2,
        |       count(CASE WHEN fdup5 > 0.15 THEN 1 END)::DOUBLE AS fail_dup_5,
        |       1.0::DOUBLE AS filter_identity_ok
        |FROM fr""".stripMargin,

    // q51: deterministic mixture sampling — DuckDB recomputes the same
    // md5("graft:<doc_id>") 8-hex rank and compares it against the same
    // threshold literals (emitted by Mixing.hexThreshold so engine and
    // oracle share one definition); the token-budget prefix is the window
    // form of the engine's distributed prefix-sum. Identity flags mirrored
    // as 1.0.
    "q51_data_mix" -> {
      import graft.pipeline.Mixing.hexThreshold
      val (t25, t50, t30, t20, t10) =
        (hexThreshold(0.25), hexThreshold(0.5), hexThreshold(0.3),
          hexThreshold(0.2), hexThreshold(0.1))
      raw"""WITH h AS (
        |  SELECT doc_id, lang,
        |         substring(md5('graft:' || doc_id::VARCHAR), 1, 8) AS hh,
        |         coalesce(len(list_filter(string_split_regex(text, '\s+'),
        |           x -> x <> '')), 0) AS toks
        |  FROM documents
        |), strat AS (
        |  SELECT * FROM h
        |  WHERE hh < CASE lang WHEN 'en' THEN '$t50' WHEN 'zh' THEN '$t10'
        |                       WHEN 'de' THEN '$t30' ELSE '$t20' END
        |), tb AS (
        |  SELECT * FROM (
        |    SELECT doc_id, lang, toks,
        |           sum(toks) OVER (PARTITION BY lang ORDER BY hh, doc_id
        |             ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM h WHERE lang IN ('en', 'de', 'zh')
        |  ) WHERE cum <= CASE lang WHEN 'en' THEN 3000
        |                           WHEN 'de' THEN 1200 ELSE 600 END
        |)
        |SELECT
        |  (SELECT count(*) FROM h WHERE hh < '$t25')::DOUBLE AS plain_kept,
        |  (SELECT coalesce(sum(doc_id), 0) FROM h WHERE hh < '$t25')::DOUBLE
        |    AS plain_id_sum,
        |  (SELECT count(*) FROM strat)::DOUBLE AS strat_kept,
        |  (SELECT coalesce(sum(doc_id), 0) FROM strat)::DOUBLE AS strat_id_sum,
        |  (SELECT count(*) FROM strat WHERE lang = 'en')::DOUBLE AS strat_en,
        |  (SELECT count(*) FROM strat WHERE lang = 'zh')::DOUBLE AS strat_zh,
        |  (SELECT count(*) FROM tb WHERE lang = 'en')::DOUBLE AS budget_kept_en,
        |  (SELECT count(*) FROM tb WHERE lang = 'de')::DOUBLE AS budget_kept_de,
        |  (SELECT count(*) FROM tb WHERE lang = 'zh')::DOUBLE AS budget_kept_zh,
        |  (SELECT coalesce(sum(toks), 0) FROM tb WHERE lang = 'en')::DOUBLE
        |    AS budget_toks_en,
        |  (SELECT coalesce(sum(toks), 0) FROM tb WHERE lang = 'de')::DOUBLE
        |    AS budget_toks_de,
        |  (SELECT coalesce(sum(toks), 0) FROM tb WHERE lang = 'zh')::DOUBLE
        |    AS budget_toks_zh,
        |  (SELECT coalesce(sum(doc_id), 0) FROM tb)::DOUBLE AS budget_id_sum,
        |  1.0::DOUBLE AS within_budget_ok,
        |  1.0::DOUBLE AS recipe_groups_ok""".stripMargin
    },

    // q52: sliding-window chunking — DuckDB replays the window starts
    // (k*stride while start < n_tokens, emitted iff first or adding a new
    // token), the 1-based inclusive token slices, and per-doc window
    // ordering via row_number. The count identity flag is mirrored as 1.0.
    "q52_chunking" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, toks, coalesce(len(toks), 0) AS nt FROM base
        |), st AS (
        |  SELECT doc_id, toks, nt,
        |         unnest(list_filter(
        |           list_transform(range(0, ((nt - 1) // 48) + 1),
        |             k -> k * 48),
        |           s -> s = 0 OR s + 16 < nt)) AS strt
        |  FROM t WHERE nt > 0
        |), ch AS (
        |  SELECT doc_id, strt,
        |         least(64, nt - strt) AS ctoks,
        |         len(array_to_string(toks[strt + 1 : strt + 64], ' '))
        |           AS cchars,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY strt) - 1
        |           AS cidx
        |  FROM st
        |)
        |SELECT count(*)::DOUBLE AS n_chunks,
        |       sum(ctoks)::DOUBLE AS sum_chunk_tokens,
        |       sum(cchars)::DOUBLE AS sum_chunk_chars,
        |       sum(cidx)::DOUBLE AS sum_chunk_idx,
        |       count(DISTINCT doc_id)::DOUBLE AS docs_with_chunks,
        |       count(CASE WHEN ctoks < 64 THEN 1 END)::DOUBLE
        |         AS short_chunks,
        |       1.0::DOUBLE AS count_identity_ok
        |FROM ch""".stripMargin,

    // q53: end-to-end curation — ONE DuckDB query chaining the q50
    // (repetition keep), q21-style (min-id exact dedup), q49
    // (decontamination), q51 (md5 stratified sample), and q52 (chunking)
    // replays. Built in three concatenated parts so the repetition trim
    // regex (which contains a literal $) stays out of the interpolated
    // threshold segment.
    "q53_curation" -> {
      import graft.pipeline.Mixing.hexThreshold
      val (t80, t60, t40, t50) =
        (hexThreshold(0.8), hexThreshold(0.6), hexThreshold(0.4),
          hexThreshold(0.5))
      """WITH base AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks,
        |         text
        |  FROM documents
        |), tot AS (
        |  SELECT doc_id,
        |         coalesce(len(array_to_string(toks, ' ')), 0) AS total_chars
        |  FROM base
        |), gstat AS (
        |  SELECT doc_id, n, max(cnt * l) AS top,
        |         sum(CASE WHEN cnt >= 2 THEN cnt * l ELSE 0 END) AS dup
        |  FROM (
        |    SELECT doc_id, n, g, count(*) AS cnt, len(g) AS l
        |    FROM (
        |      SELECT b.doc_id, nn.n,
        |             unnest(list_transform(range(1, len(b.toks) - nn.n + 2),
        |               i -> array_to_string(b.toks[i : i + nn.n - 1], ' ')))
        |               AS g
        |      FROM base b, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) nn
        |      WHERE len(b.toks) >= nn.n
        |    ) GROUP BY doc_id, n, g
        |  ) GROUP BY doc_id, n
        |), gpiv AS (
        |  SELECT doc_id,
        |         max(CASE WHEN n = 2 THEN top END) AS top2,
        |         max(CASE WHEN n = 3 THEN top END) AS top3,
        |         max(CASE WHEN n = 4 THEN top END) AS top4,
        |         max(CASE WHEN n = 5 THEN dup END) AS dup5,
        |         max(CASE WHEN n = 6 THEN dup END) AS dup6,
        |         max(CASE WHEN n = 7 THEN dup END) AS dup7,
        |         max(CASE WHEN n = 8 THEN dup END) AS dup8,
        |         max(CASE WHEN n = 9 THEN dup END) AS dup9,
        |         max(CASE WHEN n = 10 THEN dup END) AS dup10
        |  FROM gstat GROUP BY doc_id
        |), lstat AS (
        |  SELECT doc_id, sum(c) AS n_items,
        |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_items,
        |         sum(c * l) AS t_chars,
        |         sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup_chars
        |  FROM (
        |    SELECT doc_id, item, count(*) AS c, len(item) AS l
        |    FROM (
        |      SELECT doc_id, unnest(list_filter(list_transform(
        |        string_split(text, chr(10)),
        |        x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
        |        x -> x <> '')) AS item
        |      FROM base
        |    ) GROUP BY doc_id, item
        |  ) GROUP BY doc_id
        |), pstat AS (
        |  SELECT doc_id, sum(c) AS n_items,
        |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_items,
        |         sum(c * l) AS t_chars,
        |         sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup_chars
        |  FROM (
        |    SELECT doc_id, item, count(*) AS c, len(item) AS l
        |    FROM (
        |      SELECT doc_id, unnest(list_filter(list_transform(
        |        string_split_regex(text, '\n\s*\n'),
        |        x -> regexp_replace(x, '^\s+|\s+$', '', 'g')),
        |        x -> x <> '')) AS item
        |      FROM base
        |    ) GROUP BY doc_id, item
        |  ) GROUP BY doc_id
        |), per AS (
        |  SELECT t.doc_id, t.total_chars,
        |         CASE WHEN coalesce(l.n_items, 0) > 0
        |           THEN l.dup_items::DOUBLE / l.n_items ELSE 0 END AS dlf,
        |         CASE WHEN coalesce(l.t_chars, 0) > 0
        |           THEN l.dup_chars::DOUBLE / l.t_chars ELSE 0 END AS dlcf,
        |         CASE WHEN coalesce(p.n_items, 0) > 0
        |           THEN p.dup_items::DOUBLE / p.n_items ELSE 0 END AS dpf,
        |         CASE WHEN coalesce(p.t_chars, 0) > 0
        |           THEN p.dup_chars::DOUBLE / p.t_chars ELSE 0 END AS dpcf,
        |         coalesce(g.top2, 0) AS top2, coalesce(g.top3, 0) AS top3,
        |         coalesce(g.top4, 0) AS top4, coalesce(g.dup5, 0) AS dup5,
        |         coalesce(g.dup6, 0) AS dup6, coalesce(g.dup7, 0) AS dup7,
        |         coalesce(g.dup8, 0) AS dup8, coalesce(g.dup9, 0) AS dup9,
        |         coalesce(g.dup10, 0) AS dup10
        |  FROM tot t
        |  LEFT JOIN lstat l USING (doc_id)
        |  LEFT JOIN pstat p USING (doc_id)
        |  LEFT JOIN gpiv g USING (doc_id)
        |), rep AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, dlf, dpf, dlcf, dpcf,
        |      CASE WHEN total_chars > 0 THEN top2::DOUBLE / total_chars ELSE 0 END AS ftop2,
        |      CASE WHEN total_chars > 0 THEN top3::DOUBLE / total_chars ELSE 0 END AS ftop3,
        |      CASE WHEN total_chars > 0 THEN top4::DOUBLE / total_chars ELSE 0 END AS ftop4,
        |      CASE WHEN total_chars > 0 THEN dup5::DOUBLE / total_chars ELSE 0 END AS fdup5,
        |      CASE WHEN total_chars > 0 THEN dup6::DOUBLE / total_chars ELSE 0 END AS fdup6,
        |      CASE WHEN total_chars > 0 THEN dup7::DOUBLE / total_chars ELSE 0 END AS fdup7,
        |      CASE WHEN total_chars > 0 THEN dup8::DOUBLE / total_chars ELSE 0 END AS fdup8,
        |      CASE WHEN total_chars > 0 THEN dup9::DOUBLE / total_chars ELSE 0 END AS fdup9,
        |      CASE WHEN total_chars > 0 THEN dup10::DOUBLE / total_chars ELSE 0 END AS fdup10
        |    FROM per
        |  ) WHERE dlf <= 0.30 AND dpf <= 0.30 AND dlcf <= 0.20 AND dpcf <= 0.20
        |      AND ftop2 <= 0.20 AND ftop3 <= 0.18 AND ftop4 <= 0.16
        |      AND fdup5 <= 0.15 AND fdup6 <= 0.14 AND fdup7 <= 0.13
        |      AND fdup8 <= 0.12 AND fdup9 <= 0.11 AND fdup10 <= 0.10
        |), s1 AS (
        |  SELECT d.* FROM documents d JOIN rep USING (doc_id)
        |), s2 AS (
        |  SELECT * FROM s1
        |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
        |), probes AS (
        |  SELECT DISTINCT array_to_string(
        |    (list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))[6:18], ' ') AS probe
        |  FROM documents
        |  WHERE doc_id IN (20, 30, 45)
        |    AND len(list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> x <> '')) >= 18
        |), norm2 AS (
        |  SELECT doc_id, lang, text,
        |         array_to_string(list_filter(string_split_regex(lower(text),
        |           '\s+'), x -> x <> ''), ' ') AS ntext
        |  FROM s2
        |), s3 AS (
        |  SELECT doc_id, lang, text FROM norm2 n
        |  WHERE NOT EXISTS (SELECT 1 FROM probes p
        |    WHERE contains(' ' || n.ntext || ' ', ' ' || p.probe || ' '))
        |)""".stripMargin +
        raw""", s4 AS (
        |  SELECT * FROM s3
        |  WHERE substring(md5('graft:' || doc_id::VARCHAR), 1, 8) <
        |    CASE lang WHEN 'en' THEN '$t80' WHEN 'de' THEN '$t60'
        |              WHEN 'fr' THEN '$t60' WHEN 'es' THEN '$t60'
        |              WHEN 'zh' THEN '$t40' ELSE '$t50' END
        |)""".stripMargin +
        """, cb AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'),
        |           x -> x <> '') AS toks
        |  FROM s4
        |), ct AS (
        |  SELECT doc_id, toks, coalesce(len(toks), 0) AS nt FROM cb
        |), cst AS (
        |  SELECT doc_id, nt,
        |         unnest(list_filter(
        |           list_transform(range(0, ((nt - 1) // 48) + 1),
        |             k -> k * 48),
        |           s -> s = 0 OR s + 16 < nt)) AS strt
        |  FROM ct WHERE nt > 0
        |), ch AS (
        |  SELECT least(64, nt - strt) AS ctoks FROM cst
        |)
        |SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
        |       (SELECT count(*) FROM s1)::DOUBLE AS kept_repetition,
        |       (SELECT count(*) FROM s2)::DOUBLE AS kept_dedup,
        |       (SELECT count(*) FROM s3)::DOUBLE AS kept_decontam,
        |       (SELECT count(*) FROM s4)::DOUBLE AS kept_mix,
        |       (SELECT coalesce(sum(doc_id), 0) FROM s4)::DOUBLE AS mix_id_sum,
        |       (SELECT count(*) FROM ch)::DOUBLE AS n_chunks,
        |       (SELECT coalesce(sum(ctoks), 0) FROM ch)::DOUBLE
        |         AS sum_chunk_tokens,
        |       1.0::DOUBLE AS monotone_ok""".stripMargin
    },

    // q54: paragraph-level exact dedup — DuckDB injects the identical
    // paragraph breaks (same regex, \1 + chr(10) replacement), replays
    // winner election as row_number over (doc_id, pos) per paragraph, and
    // recomputes the reassembled character volume as kept paragraph chars
    // plus (n_kept - 1) one-char separators. distinct_identity_ok is
    // asserted engine-side and mirrored as the constant 1.0.
    "q54_paragraph_dedup" ->
      """WITH pdocs AS (
        |  SELECT doc_id, string_split_regex(
        |           regexp_replace(text, '((?:[^ \t\n\x0B\f\r]+ ){3}[^ \t\n\x0B\f\r]+) ',
        |             '\1' || chr(10), 'g'), '\n+') AS ps
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id, (u).pos AS pos, (u).para AS para FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
        |      i -> {'pos': i, 'para': trim(ps[i])})) AS u
        |    FROM pdocs)
        |  WHERE (u).para <> ''
        |), ranked AS (
        |  SELECT doc_id, len(para) AS l,
        |         row_number() OVER (PARTITION BY para
        |                            ORDER BY doc_id, pos) AS rn
        |  FROM occ
        |), perdoc AS (
        |  SELECT doc_id, count(*) AS n_paras,
        |         sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
        |         sum(CASE WHEN rn = 1 THEN l ELSE 0 END) AS kept_chars
        |  FROM ranked GROUP BY doc_id
        |), alld AS (
        |  SELECT d.doc_id, coalesce(p.n_paras, 0) AS n_paras,
        |         coalesce(p.n_kept, 0) AS n_kept,
        |         coalesce(p.kept_chars, 0) AS kept_chars
        |  FROM pdocs d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |       coalesce(sum(n_paras), 0)::DOUBLE AS total_paras,
        |       coalesce(sum(n_kept), 0)::DOUBLE AS kept_paras,
        |       coalesce(sum(n_paras - n_kept), 0)::DOUBLE AS removed_paras,
        |       coalesce(sum(CASE WHEN n_paras > n_kept THEN 1 ELSE 0 END),
        |         0)::DOUBLE AS docs_affected,
        |       coalesce(sum(CASE WHEN n_kept = 0 AND n_paras > 0
        |                         THEN 1 ELSE 0 END), 0)::DOUBLE
        |         AS docs_emptied,
        |       coalesce(sum(kept_chars + CASE WHEN n_kept > 0
        |                    THEN n_kept - 1 ELSE 0 END), 0)::DOUBLE
        |         AS chars_clean,
        |       1.0::DOUBLE AS distinct_identity_ok
        |FROM alld""".stripMargin,

    // q55: sequence packing — DuckDB rebuilds the identical id-ordered
    // token stream with a global token index, assigns every token to
    // sequence gi // 128, and recomputes per-sequence token counts, the
    // full-sequence character volume (token chars + nt-1 single-space
    // separators — exactly the engine's piece reassembly), contributing
    // document counts, and per-doc boundary crossings from token-span
    // minima/maxima. seq_count_ok is asserted engine-side, mirrored 1.0.
    "q55_seq_packing" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tk AS (
        |  SELECT doc_id, unnest(toks) AS tok,
        |         generate_subscripts(toks, 1) AS pos
        |  FROM base
        |), g AS (
        |  SELECT doc_id, tok,
        |         row_number() OVER (ORDER BY doc_id, pos) - 1 AS gi
        |  FROM tk
        |), sq AS (
        |  SELECT gi // 128 AS seq_id, count(*) AS nt,
        |         sum(len(tok)) + count(*) - 1 AS chars,
        |         count(DISTINCT doc_id) AS nd
        |  FROM g GROUP BY 1
        |), dspan AS (
        |  SELECT doc_id, min(gi) // 128 AS s0, max(gi) // 128 AS s1
        |  FROM g GROUP BY 1
        |)
        |SELECT (SELECT count(*) FROM sq)::DOUBLE AS n_seqs,
        |       (SELECT count(*) FROM sq WHERE nt = 128)::DOUBLE AS n_full,
        |       (SELECT coalesce(sum(nt), 0) FROM sq)::DOUBLE AS sum_tokens,
        |       (SELECT coalesce(sum(chars), 0) FROM sq WHERE nt = 128)::DOUBLE
        |         AS full_chars,
        |       (SELECT coalesce(sum(nd), 0) FROM sq)::DOUBLE AS sum_pieces,
        |       (SELECT coalesce(max(nd), 0) FROM sq)::DOUBLE
        |         AS max_docs_in_seq,
        |       (SELECT count(*) FROM dspan WHERE s0 <> s1)::DOUBLE
        |         AS docs_crossing,
        |       1.0::DOUBLE AS seq_count_ok""".stripMargin,

    // q56: TF-IDF top-3 terms — DuckDB rebuilds the identical lowercase
    // token stream, (doc, term) counts, document frequencies, the same
    // smoothed-idf score, and the same (score DESC, term ASC) ranking;
    // every pinned column is an exact integer so cross-engine float noise
    // in ln() cannot leak into the compare (a 1-ulp ln difference could
    // only flip a rank if two UNEQUAL (tf, df) pairs scored within ~2e-16
    // relative — not constructible from small-integer counts).
    "q56_tfidf" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tkn AS (
        |  SELECT doc_id, unnest(toks) AS term FROM base
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tkn GROUP BY 1, 2
        |), dfc AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), nn AS (
        |  SELECT count(*) AS nd FROM base WHERE len(toks) > 0
        |), scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |         t.tf * (ln(((SELECT nd FROM nn) + 1.0) / (d.df + 1.0))
        |           + 1.0) AS score
        |  FROM tf t JOIN dfc d USING (term)
        |), topk AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY score DESC, term) AS rn
        |  FROM scored
        |)
        |SELECT (SELECT count(*) FROM dfc)::DOUBLE AS vocab_size,
        |       (SELECT coalesce(sum(df), 0) FROM dfc)::DOUBLE AS n_pairs,
        |       (SELECT coalesce(max(df), 0) FROM dfc)::DOUBLE AS max_df,
        |       (SELECT coalesce(sum(tf), 0) FROM tf)::DOUBLE AS sum_tf,
        |       (SELECT count(*) FROM topk WHERE rn <= 3)::DOUBLE AS emitted,
        |       (SELECT count(DISTINCT doc_id) FROM topk WHERE rn <= 3)::DOUBLE
        |         AS docs_ranked,
        |       (SELECT coalesce(sum(tf), 0) FROM topk WHERE rn <= 3)::DOUBLE
        |         AS sum_emitted_tf,
        |       (SELECT coalesce(sum(df), 0) FROM topk WHERE rn <= 3)::DOUBLE
        |         AS sum_emitted_df,
        |       (SELECT count(*) FROM topk WHERE rn = 1 AND df = 1)::DOUBLE
        |         AS unique_top1""".stripMargin,

    // q57: C4 heuristic filters — DuckDB injects the identical line breaks
    // (the q54 regex) and terminal dots (length % 3), replays the three
    // line rules (terminal punctuation, >= 4 words, "vector" blocklist)
    // and the three document rules (>= 3 kept lines, "customer query"
    // phrase, curly brace) over the same strings.
    "q57_c4_filters" ->
      """WITH prep AS (
        |  SELECT doc_id,
        |    array_to_string(
        |      list_transform(
        |        string_split(regexp_replace(text,
        |          '((?:[^ \t\n\x0B\f\r]+ ){3}[^ \t\n\x0B\f\r]+) ',
        |          '\1' || chr(10), 'g'), chr(10)),
        |        l -> CASE WHEN length(l) % 3 = 0 THEN l || '.' ELSE l END),
        |      chr(10)) AS text
        |  FROM documents
        |), per AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split(text, chr(10)),
        |      x -> trim(x)), x -> x <> '') AS lt
        |  FROM prep
        |), kl AS (
        |  SELECT doc_id, text, len(lt) AS n_lines,
        |    list_filter(lt, l -> regexp_matches(l, '[.!?"]$')
        |      AND len(list_filter(string_split_regex(l, '\s+'),
        |            x -> x <> '')) >= 4
        |      AND NOT contains(lower(l), 'vector')) AS kls
        |  FROM per
        |), d AS (
        |  SELECT doc_id, n_lines, len(kls) AS n_kept,
        |    array_to_string(kls, chr(10)) AS text_clean,
        |    (len(kls) >= 3 AND NOT contains(lower(text), 'customer query')
        |      AND NOT contains(text, '{')) AS kept
        |  FROM kl
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |  coalesce(sum(n_lines), 0)::DOUBLE AS total_lines,
        |  coalesce(sum(n_kept), 0)::DOUBLE AS kept_lines,
        |  coalesce(sum(CASE WHEN kept THEN 1 ELSE 0 END), 0)::DOUBLE
        |    AS docs_kept,
        |  coalesce(sum(CASE WHEN kept THEN length(text_clean) ELSE 0 END),
        |    0)::DOUBLE AS chars_kept,
        |  coalesce(sum(CASE WHEN kept THEN doc_id ELSE 0 END), 0)::DOUBLE
        |    AS sum_kept_ids,
        |  coalesce(sum(CASE WHEN n_kept >= 3 AND NOT kept THEN 1 ELSE 0 END),
        |    0)::DOUBLE AS docs_blocked
        |FROM d""".stripMargin,

    // q58: unigram-LM cross-entropy — DuckDB retrains the identical
    // Laplace-smoothed unigram model (same lowercase-whitespace tokens,
    // same (c+1)/(T+V) smoothing) and rescores every document with the
    // same -(1/|d|) sum tf*ln p formula; float outputs rounded to the
    // grids justified in the query comment.
    "q58_unigram_lm" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tkn AS (
        |  SELECT doc_id, unnest(toks) AS term FROM base
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tkn GROUP BY 1, 2
        |), tc AS (
        |  SELECT term, sum(tf) AS c FROM tf GROUP BY 1
        |), tot AS (
        |  SELECT sum(c) AS t, count(*) AS v FROM tc
        |), doc AS (
        |  SELECT f.doc_id, sum(f.tf) AS n_tokens,
        |    sum(-f.tf * (ln(tc.c + 1.0) - ln((SELECT t + v FROM tot)))) AS nll
        |  FROM tf f JOIN tc USING (term) GROUP BY 1
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |  (SELECT t FROM tot)::DOUBLE AS total_tokens,
        |  round(sum(nll), 3)::DOUBLE AS sum_nll,
        |  round(avg(nll / n_tokens), 6)::DOUBLE AS avg_h,
        |  round(min(nll / n_tokens), 6)::DOUBLE AS min_h,
        |  round(max(nll / n_tokens), 6)::DOUBLE AS max_h,
        |  sum(CASE WHEN nll / n_tokens < 3.402 THEN 1 ELSE 0 END)::DOUBLE
        |    AS docs_low
        |FROM doc""".stripMargin,

    // q59: SemDeDup — DuckDB replays the cluster assignment against the
    // same 8 lowest-vec_id centroids (argmax cosine, ties to the HIGHER
    // centroid id — the engine's array_max struct semantics) and the
    // within-cluster lowest-id-survives dedup at tau = 0.4, computing
    // cosine in double exactly like the engine's verify pass.
    "q59_semdedup" ->
      """WITH c AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  WHERE vec_id < 8 AND embedding IS NOT NULL
        |), ranked AS (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |        CAST(c.cvec AS DOUBLE[])) DESC, c.cid DESC) AS rn
        |  FROM embeddings e CROSS JOIN c
        |  WHERE e.embedding IS NOT NULL AND len(e.embedding) > 0
        |), a AS (
        |  SELECT vec_id, embedding, cid AS cell FROM ranked WHERE rn = 1
        |), dropped AS (
        |  SELECT DISTINCT y.vec_id FROM a x JOIN a y
        |    ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |          CAST(y.embedding AS DOUBLE[])) >= 0.4
        |)
        |SELECT (SELECT count(*) FROM a)::DOUBLE AS n_vecs,
        |  (SELECT count(DISTINCT cell) FROM a)::DOUBLE AS n_cells,
        |  (SELECT count(*) FROM dropped)::DOUBLE AS dropped,
        |  ((SELECT count(*) FROM a) - (SELECT count(*) FROM dropped))::DOUBLE
        |    AS kept,
        |  ((SELECT coalesce(sum(vec_id), 0) FROM a)
        |    - (SELECT coalesce(sum(vec_id), 0) FROM dropped))::DOUBLE
        |    AS sum_kept_ids,
        |  (SELECT coalesce(sum(vec_id), 0) FROM dropped)::DOUBLE
        |    AS sum_dropped_ids,
        |  (SELECT max(cnt) FROM (SELECT count(*) AS cnt FROM a GROUP BY cell))
        |    ::DOUBLE AS max_cluster""".stripMargin,

    // q60: bigram-LM cross-entropy — DuckDB rebuilds the identical
    // adjacent-pair stream (list_zip of the token list with its tail),
    // the same (c(w1,w2)+1)/(c(w1.)+V) smoothing, and the same per-doc
    // rollup; docs with < 2 tokens are absent in both engines.
    "q60_bigram_lm" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), bgu AS (
        |  SELECT doc_id,
        |    unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS t
        |  FROM base WHERE len(toks) >= 2
        |), bf AS (
        |  SELECT doc_id, t[1] AS w1, t[2] AS w2, count(*) AS tf
        |  FROM bgu GROUP BY 1, 2, 3
        |), pairc AS (
        |  SELECT w1, w2, sum(tf) AS c FROM bf GROUP BY 1, 2
        |), headc AS (
        |  SELECT w1, sum(tf) AS ch FROM bf GROUP BY 1
        |), vv AS (
        |  SELECT count(DISTINCT w1) AS v FROM bf
        |), doc AS (
        |  SELECT b.doc_id, sum(b.tf) AS nb,
        |    sum(-b.tf * (ln(p.c + 1.0)
        |      - ln(h.ch + (SELECT v FROM vv)))) AS nll
        |  FROM bf b JOIN pairc p USING (w1, w2) JOIN headc h USING (w1)
        |  GROUP BY 1
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |  coalesce(sum(nb), 0)::DOUBLE AS total_bigrams,
        |  round(sum(nll), 3)::DOUBLE AS sum_nll,
        |  round(avg(nll / nb), 6)::DOUBLE AS avg_h,
        |  round(min(nll / nb), 6)::DOUBLE AS min_h,
        |  round(max(nll / nb), 6)::DOUBLE AS max_h,
        |  sum(CASE WHEN nll / nb < 3.39 THEN 1 ELSE 0 END)::DOUBLE
        |    AS docs_low
        |FROM doc""".stripMargin,

    // q61: DSIR importance weights — DuckDB retrains both smoothed
    // unigram models (raw corpus + lang='en' target) over the shared
    // vocabulary and rescores with the same log-ratio; the kept set is
    // pinned exactly by its id sum.
    "q61_dsir" ->
      """WITH base AS (
        |  SELECT doc_id, (lang = 'en') AS tgt,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tkn AS (
        |  SELECT doc_id, tgt, unnest(toks) AS term FROM base
        |), tf AS (
        |  SELECT doc_id, tgt, term, count(*) AS tf FROM tkn GROUP BY 1, 2, 3
        |), tc AS (
        |  SELECT term, sum(tf) AS cr,
        |    sum(CASE WHEN tgt THEN tf ELSE 0 END) AS ct
        |  FROM tf GROUP BY 1
        |), tot AS (
        |  SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM tc
        |), doc AS (
        |  SELECT f.doc_id, sum(f.tf) AS n_tokens,
        |    sum(f.tf * ((ln(tc.ct + 1.0) - ln((SELECT tt + v FROM tot)))
        |      - (ln(tc.cr + 1.0) - ln((SELECT tr + v FROM tot))))) AS lw
        |  FROM tf f JOIN tc USING (term) GROUP BY 1
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |  coalesce(sum(n_tokens), 0)::DOUBLE AS total_tokens,
        |  round(sum(lw), 6)::DOUBLE AS sum_lw,
        |  round(min(lw), 6)::DOUBLE AS min_lw,
        |  round(max(lw), 6)::DOUBLE AS max_lw,
        |  sum(CASE WHEN lw > 0.05 THEN 1 ELSE 0 END)::DOUBLE AS kept,
        |  coalesce(sum(CASE WHEN lw > 0.05 THEN doc_id ELSE 0 END),
        |    0)::DOUBLE AS sum_kept_ids
        |FROM doc""".stripMargin,

    // q62: per-probe contamination report — DuckDB generates every
    // positional 13-gram of each probe doc (distinct per probe) and
    // replays containment as space-padded substring search over the
    // single-space-normalized corpus, exactly the q49 convention.
    "q62_contamination_report" ->
      """WITH norm AS (
        |  SELECT doc_id, array_to_string(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> ''), ' ')
        |    AS ntext
        |  FROM documents
        |), ptoks AS (
        |  SELECT doc_id AS probe_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IN (20, 30, 45)
        |), pg AS (
        |  SELECT DISTINCT probe_id, array_to_string(toks[i:i+12], ' ')
        |    AS gram
        |  FROM ptoks, unnest(range(1, len(toks) - 11)) AS t(i)
        |  WHERE len(toks) >= 13
        |), m AS (
        |  SELECT n.doc_id, p.probe_id, p.gram
        |  FROM norm n JOIN pg p
        |    ON contains(' ' || n.ntext || ' ', ' ' || p.gram || ' ')
        |)
        |SELECT probe_id::DOUBLE AS probe_id,
        |  count(DISTINCT doc_id)::DOUBLE AS contaminated_docs,
        |  count(*)::DOUBLE AS matched_pairs
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q63_substring_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(ts[i:i+12], ' ')
        |    AS gram
        |  FROM toks, unnest(range(1, len(ts) - 11)) AS t(i)
        |  WHERE len(ts) >= 13
        |), ranked AS (
        |  SELECT doc_id, pos,
        |         count(*) OVER (PARTITION BY gram) AS cnt,
        |         row_number() OVER (PARTITION BY gram
        |                            ORDER BY doc_id, pos) AS rn
        |  FROM occ
        |), cov AS (
        |  SELECT DISTINCT doc_id, pos + j AS cp
        |  FROM ranked, unnest(range(0, 13)) AS u(j)
        |  WHERE cnt > 1 AND rn > 1
        |), tok AS (
        |  SELECT doc_id, i - 1 AS p, ts[i] AS tok, len(ts) AS total
        |  FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)
        |), joined AS (
        |  SELECT t.doc_id, t.p, t.tok, t.total,
        |         (c.cp IS NOT NULL) AS covered
        |  FROM tok t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.p = c.cp
        |), agg AS (
        |  SELECT doc_id, any_value(total) AS total_tokens,
        |         sum(CASE WHEN covered THEN 1 ELSE 0 END)
        |           AS removed_tokens,
        |         md5(string_agg(CASE WHEN NOT covered THEN tok END,
        |                        ' ' ORDER BY p)) AS kept_md5
        |  FROM joined GROUP BY 1
        |)
        |SELECT doc_id::DOUBLE AS doc_id,
        |       total_tokens::DOUBLE AS total_tokens,
        |       removed_tokens::DOUBLE AS removed_tokens,
        |       kept_md5
        |FROM agg WHERE removed_tokens > 0 ORDER BY doc_id""".stripMargin,

    "q64_fuzzy_decontamination" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) >= 3 THEN
        |      list_distinct(list_transform(range(len(ts) - 2),
        |        i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
        |    WHEN len(ts) > 0 THEN [array_to_string(ts, ' ')]
        |    ELSE []::VARCHAR[] END AS sh
        |  FROM d),
        |pt AS (
        |  SELECT doc_id AS probe_id,
        |    list_concat(ts, ['zq1','zq2','zq3','zq4','zq5','zq6','zq7','zq8']) AS ts
        |  FROM d WHERE doc_id IN (0, 8, 26)),
        |psh AS (
        |  SELECT probe_id,
        |    CASE WHEN len(ts) >= 3 THEN
        |      list_distinct(list_transform(range(len(ts) - 2),
        |        i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
        |    ELSE []::VARCHAR[] END AS psh
        |  FROM pt),
        |j AS (
        |  SELECT s.doc_id AS corpus_id, p.probe_id,
        |    len(list_intersect(s.sh, p.psh))::DOUBLE
        |      / greatest(len(s.sh) + len(p.psh)
        |                 - len(list_intersect(s.sh, p.psh)), 1) AS jac
        |  FROM sh s CROSS JOIN psh p
        |  WHERE len(s.sh) > 0 AND len(p.psh) > 0)
        |SELECT probe_id::DOUBLE AS probe_id,
        |       coalesce(count(*) FILTER (jac >= 0.5), 0)::DOUBLE AS n_matched,
        |       coalesce(sum(corpus_id) FILTER (jac >= 0.5), 0)::DOUBLE
        |         AS matched_id_sum,
        |       1.0::DOUBLE AS lsh_recall_ok
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q65_pmi_collocations" ->
      """WITH d AS (
        |  SELECT list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |bgu AS (
        |  SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS t
        |  FROM d WHERE len(ts) >= 2),
        |pc AS (
        |  SELECT t[1] AS w1, t[2] AS w2, count(*) AS c
        |  FROM bgu GROUP BY 1, 2),
        |tot AS (SELECT sum(c) AS b FROM pc),
        |hc AS (SELECT w1, sum(c) AS h FROM pc GROUP BY 1),
        |tc AS (SELECT w2, sum(c) AS t2 FROM pc GROUP BY 1)
        |SELECT p.w1, p.w2, p.c::DOUBLE AS pair_count,
        |  round(ln(p.c::DOUBLE * (SELECT b FROM tot)
        |    / (h.h::DOUBLE * t.t2::DOUBLE)), 6) AS pmi
        |FROM pc p JOIN hc h USING (w1) JOIN tc t USING (w2)
        |WHERE p.c >= 5
        |ORDER BY p.w1, p.w2""".stripMargin,

    "q66_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT source, array_to_string(ts[i:i+12], ' ') AS gram
        |  FROM toks, unnest(range(1, len(ts) - 11)) AS t(i)
        |  WHERE len(ts) >= 13)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       count(*)::DOUBLE AS shared_grams
        |FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q67_duplication_profile" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+12], ' ') AS gram
        |  FROM toks, unnest(range(1, len(ts) - 11)) AS t(i)
        |  WHERE len(ts) >= 13),
        |st AS (SELECT gram, count(*) AS c FROM g GROUP BY 1),
        |per AS (
        |  SELECT doc_id, count(*) AS distinct_grams,
        |         sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS dup_grams
        |  FROM g JOIN st USING (gram) GROUP BY 1)
        |SELECT d.doc_id::DOUBLE AS doc_id,
        |       coalesce(p.distinct_grams, 0)::DOUBLE AS distinct_grams,
        |       coalesce(p.dup_grams, 0)::DOUBLE AS dup_grams
        |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q68_vocabulary_stats" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, count(*) AS n FROM t GROUP BY 1),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rn FROM c)
        |SELECT (SELECT coalesce(sum(n), 0) FROM c)::DOUBLE AS total_tokens,
        |       (SELECT count(*) FROM c)::DOUBLE AS vocab_size,
        |       (SELECT coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)
        |        FROM c)::DOUBLE AS hapax_count,
        |       (SELECT coalesce(sum(n), 0) FROM r WHERE rn <= 10)::DOUBLE
        |         / greatest((SELECT sum(n) FROM c), 1) AS top10_share,
        |       (SELECT coalesce(sum(n), 0) FROM r WHERE rn <= 100)::DOUBLE
        |         / greatest((SELECT sum(n) FROM c), 1) AS top100_share,
        |       (SELECT coalesce(sum(n), 0) FROM r WHERE rn <= 1000)::DOUBLE
        |         / greatest((SELECT sum(n) FROM c), 1) AS top1000_share""".stripMargin,

    "q69_incremental_dedup" ->
      """WITH old AS (SELECT text FROM documents WHERE doc_id < 300),
        |nw AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250),
        |w AS (SELECT text, min(doc_id) AS doc_id FROM nw GROUP BY text),
        |s AS (
        |  SELECT doc_id FROM w WHERE text IS NULL
        |  UNION ALL
        |  SELECT doc_id FROM w WHERE text IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM old o WHERE o.text = w.text))
        |SELECT (SELECT count(*) FROM s)::DOUBLE AS survivors,
        |       (SELECT coalesce(sum(doc_id), 0) FROM s)::DOUBLE
        |         AS survivor_id_sum,
        |       (SELECT count(DISTINCT text) FROM old
        |        WHERE text IS NOT NULL)::DOUBLE AS state_keys""".stripMargin,

    "q70_temperature_mix" ->
      raw"""WITH h AS (
        |  SELECT doc_id, source,
        |         substring(md5('graft:' || doc_id::VARCHAR), 1, 8) AS hh,
        |         coalesce(len(list_filter(string_split_regex(text, '\s+'),
        |           x -> x <> '')), 0) AS toks
        |  FROM documents),
        |ns AS (SELECT source, sum(toks) AS n FROM h
        |       WHERE source IS NOT NULL GROUP BY 1),
        |z AS (SELECT sum(sqrt(n)) AS z FROM ns),
        |b AS (SELECT source,
        |        floor(10000 * sqrt(n) / (SELECT z FROM z))::BIGINT AS budget
        |      FROM ns),
        |tb AS (
        |  SELECT * FROM (
        |    SELECT h.doc_id, h.source, h.toks, b.budget,
        |           sum(h.toks) OVER (PARTITION BY h.source
        |             ORDER BY h.hh, h.doc_id
        |             ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM h JOIN b USING (source))
        |  WHERE cum <= budget)
        |SELECT b.source, b.budget::DOUBLE AS budget,
        |       coalesce(t.k, 0)::DOUBLE AS kept_docs,
        |       coalesce(t.tk, 0)::DOUBLE AS kept_tokens,
        |       coalesce(t.ids, 0)::DOUBLE AS id_sum
        |FROM b LEFT JOIN (
        |  SELECT source, count(*) AS k, sum(toks) AS tk,
        |         sum(doc_id) AS ids
        |  FROM tb GROUP BY 1) t USING (source)
        |ORDER BY b.source""".stripMargin,

    "q71_split_carving" -> {
      import graft.pipeline.Mixing.hexThreshold
      val (t80, t90) = (hexThreshold(0.8), hexThreshold(0.9))
      raw"""WITH h AS (
        |  SELECT doc_id, source,
        |         substring(md5('graft:' || doc_id::VARCHAR), 1, 8) AS hh
        |  FROM documents),
        |sp AS (
        |  SELECT source,
        |    sum(CASE WHEN hh < '$t80' THEN 1 ELSE 0 END) AS train_docs,
        |    sum(CASE WHEN hh >= '$t80' AND hh < '$t90' THEN 1 ELSE 0 END)
        |      AS val_docs,
        |    sum(CASE WHEN hh >= '$t90' THEN 1 ELSE 0 END) AS test_docs
        |  FROM h GROUP BY 1),
        |ev AS (
        |  SELECT source, count(*) AS eval_docs, sum(doc_id) AS eval_id_sum
        |  FROM (
        |    SELECT doc_id, source,
        |           row_number() OVER (PARTITION BY source
        |                              ORDER BY hh, doc_id) AS rn
        |    FROM h WHERE hh IS NOT NULL)
        |  WHERE rn <= 5 GROUP BY 1)
        |SELECT sp.source,
        |       sp.train_docs::DOUBLE AS train_docs,
        |       sp.val_docs::DOUBLE AS val_docs,
        |       sp.test_docs::DOUBLE AS test_docs,
        |       coalesce(ev.eval_docs, 0)::DOUBLE AS eval_docs,
        |       coalesce(ev.eval_id_sum, 0)::DOUBLE AS eval_id_sum
        |FROM sp LEFT JOIN ev USING (source)
        |ORDER BY sp.source""".stripMargin
    },

    "q72_interpolated_lm" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), bgu AS (
        |  SELECT doc_id,
        |    unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS t
        |  FROM base WHERE len(toks) >= 2
        |), bf AS (
        |  SELECT doc_id, t[1] AS w1, t[2] AS w2, count(*) AS tf
        |  FROM bgu GROUP BY 1, 2, 3
        |), pairc AS (SELECT w1, w2, sum(tf) AS c FROM bf GROUP BY 1, 2),
        |headc AS (SELECT w1, sum(tf) AS ch FROM bf GROUP BY 1),
        |tailc AS (SELECT w2, sum(tf) AS ct FROM bf GROUP BY 1),
        |sc AS (SELECT count(DISTINCT w1) AS vh, count(DISTINCT w2) AS vt,
        |              sum(tf) AS b FROM bf),
        |doc AS (
        |  SELECT f.doc_id, sum(f.tf) AS nb,
        |    sum(-f.tf * ln(
        |      0.7 * ((p.c + 1.0) / (h.ch + (SELECT vh FROM sc)))
        |      + (1 - 0.7) * ((t.ct + 1.0)
        |          / ((SELECT b FROM sc) + (SELECT vt FROM sc))))) AS nll
        |  FROM bf f JOIN pairc p USING (w1, w2) JOIN headc h USING (w1)
        |    JOIN tailc t USING (w2)
        |  GROUP BY 1
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |  coalesce(sum(nb), 0)::DOUBLE AS total_bigrams,
        |  round(sum(nll), 3)::DOUBLE AS sum_nll,
        |  round(avg(nll / nb), 6)::DOUBLE AS avg_h,
        |  round(min(nll / nb), 6)::DOUBLE AS min_h,
        |  round(max(nll / nb), 6)::DOUBLE AS max_h,
        |  sum(CASE WHEN nll / nb < 3.405 THEN 1 ELSE 0 END)::DOUBLE
        |    AS docs_low
        |FROM doc""".stripMargin,

    "q73_corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' OLDREV'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL SELECT -1, 'retired document'),
        |j AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM old o FULL OUTER JOIN documents n ON o.doc_id = n.doc_id)
        |SELECT status, count(*)::DOUBLE AS n, sum(doc_id)::DOUBLE AS id_sum
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q74_split_leakage" -> {
      import graft.pipeline.Mixing.hexThreshold
      val t90 = hexThreshold(0.9)
      raw"""WITH h AS (
        |  SELECT doc_id, text,
        |         substring(md5('graft:' || doc_id::VARCHAR), 1, 8) AS hh
        |  FROM documents),
        |tr AS (SELECT doc_id, text FROM h WHERE hh < '$t90'),
        |ev AS (SELECT doc_id, text FROM h
        |       WHERE hh >= '$t90' AND doc_id < 300),
        |norm AS (
        |  SELECT doc_id, array_to_string(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> ''), ' ')
        |    AS ntext
        |  FROM tr),
        |ptoks AS (
        |  SELECT doc_id AS probe_id, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM ev),
        |pg AS (
        |  SELECT DISTINCT probe_id, array_to_string(toks[i:i+12], ' ')
        |    AS gram
        |  FROM ptoks, unnest(range(1, len(toks) - 11)) AS t(i)
        |  WHERE len(toks) >= 13),
        |m AS (
        |  SELECT n.doc_id, p.probe_id, p.gram
        |  FROM norm n JOIN pg p
        |    ON contains(' ' || n.ntext || ' ', ' ' || p.gram || ' ')),
        |agg AS (SELECT probe_id, count(*) AS pairs FROM m GROUP BY 1)
        |SELECT (SELECT count(*) FROM ptoks WHERE len(toks) >= 13)::DOUBLE
        |         AS eval_probes,
        |       (SELECT count(*) FROM agg)::DOUBLE AS leaky_eval_docs,
        |       (SELECT coalesce(sum(pairs), 0) FROM agg)::DOUBLE
        |         AS leaked_pairs,
        |       (SELECT coalesce(sum(probe_id), 0) FROM agg)::DOUBLE
        |         AS leaky_id_sum""".stripMargin
    },

    "q75_line_collapse" ->
      """WITH pdocs AS (
        |  SELECT doc_id, regexp_replace(text,
        |    '((?:[^ \t\n\x0B\f\r]+ ){3}[^ \t\n\x0B\f\r]+) ',
        |    '\1' || chr(10), 'g') AS t
        |  FROM documents),
        |inj AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0
        |         THEN string_split(t, chr(10))[1] || chr(10) || t
        |         ELSE t END AS t
        |  FROM pdocs),
        |k AS (
        |  SELECT doc_id, len(string_split(t, chr(10))) AS n,
        |    list_filter(string_split(t, chr(10)),
        |      (x, i) -> i = 1 OR x <> string_split(t, chr(10))[i-1]) AS kept
        |  FROM inj)
        |SELECT count(*) FILTER (n > len(kept))::DOUBLE AS docs_affected,
        |  coalesce(sum(n - len(kept)), 0)::DOUBLE AS lines_removed,
        |  coalesce(sum(length(array_to_string(kept, chr(10)))), 0)::DOUBLE
        |    AS kept_chars
        |FROM k""".stripMargin,

    // q82: the q45/q80 ground-truth replay; IVF-PQ flags are Spark-side
    "q82_ann_ivfpq" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |p AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) = 0
        |           OR sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) = 0
        |         THEN 0.0
        |         ELSE list_sum(list_transform(range(len(q.qv)),
        |                i -> q.qv[i+1]::DOUBLE * e.embedding[i+1]::DOUBLE))
        |           / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
        |              * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))))
        |    END AS cos
        |  FROM q CROSS JOIN embeddings e),
        |r AS (SELECT query_id, neighbor_id,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT (SELECT count(*) FROM r WHERE rank <= 10)::DOUBLE AS n_bf_rows,
        |       (SELECT sum(neighbor_id) FROM r WHERE rank <= 10)::DOUBLE AS bf_id_sum,
        |       1.0::DOUBLE AS ivfpq_rows_ok,
        |       1.0::DOUBLE AS ivfpq_recall_ok""".stripMargin,

    // q81: q70's mixture machinery fed by the q77 BPE segmentation —
    // per-doc BPE counts (null text joins no words -> 0), sqrt budgets,
    // hash-prefix selection by BPE cumulative counts.
    "q81_bpe_mixture" -> {
      raw"""WITH RECURSIVE $bpeSegCtes,
        |dc AS (SELECT w.doc_id, sum(s.c) AS toks
        |       FROM w JOIN seg s USING (w) GROUP BY 1),
        |h AS (
        |  SELECT d.doc_id, d.source,
        |         substring(md5('graft:' || d.doc_id::VARCHAR), 1, 8) AS hh,
        |         coalesce(dc.toks, 0) AS toks
        |  FROM documents d LEFT JOIN dc ON d.doc_id = dc.doc_id),
        |ns AS (SELECT source, sum(toks) AS n FROM h
        |       WHERE source IS NOT NULL GROUP BY 1),
        |z AS (SELECT sum(sqrt(n)) AS z FROM ns),
        |b AS (SELECT source,
        |        floor(10000 * sqrt(n) / (SELECT z FROM z))::BIGINT AS budget
        |      FROM ns),
        |tb AS (
        |  SELECT * FROM (
        |    SELECT h.doc_id, h.source, h.toks, b.budget,
        |           sum(h.toks) OVER (PARTITION BY h.source
        |             ORDER BY h.hh, h.doc_id
        |             ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM h JOIN b USING (source))
        |  WHERE cum <= budget)
        |SELECT b.source, b.budget::DOUBLE AS budget,
        |       coalesce(t.k, 0)::DOUBLE AS kept_docs,
        |       coalesce(t.tk, 0)::DOUBLE AS kept_bpe_tokens,
        |       coalesce(t.ids, 0)::DOUBLE AS id_sum
        |FROM b LEFT JOIN (
        |  SELECT source, count(*) AS k, sum(toks) AS tk,
        |         sum(doc_id) AS ids
        |  FROM tb GROUP BY 1) t USING (source)
        |ORDER BY b.source""".stripMargin
    },

    // q80: the q45 ground-truth replay (brute-force top-10, ties by
    // neighbor id); PQ flags are Spark-side
    "q80_ann_pq" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |p AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) = 0
        |           OR sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) = 0
        |         THEN 0.0
        |         ELSE list_sum(list_transform(range(len(q.qv)),
        |                i -> q.qv[i+1]::DOUBLE * e.embedding[i+1]::DOUBLE))
        |           / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
        |              * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))))
        |    END AS cos
        |  FROM q CROSS JOIN embeddings e),
        |r AS (SELECT query_id, neighbor_id,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT (SELECT count(*) FROM r WHERE rank <= 10)::DOUBLE AS n_bf_rows,
        |       (SELECT sum(neighbor_id) FROM r WHERE rank <= 10)::DOUBLE AS bf_id_sum,
        |       1.0::DOUBLE AS pq_rows_ok,
        |       1.0::DOUBLE AS pq_recall_ok""".stripMargin,

    // q79: the domain triage replayed — identical injection, the q31
    // quality expression, host extraction mirrored by string building
    // (ports appear only on id%5 docs, id%97 docs have no host and join
    // no domain row), policy OR explicit blocklist, kept = 0 for blocked.
    "q79_domain_curation" ->
      """WITH inj AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source IN ('src4', 'src9') AND doc_id % 3 = 0
        |         THEN 'duplicate boilerplate navigation menu copyright footer'
        |         WHEN source = 'src13' AND doc_id % 3 = 0
        |         THEN '0000 1111 2222 3333 4444 5555 ' || doc_id
        |         ELSE text END AS text,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |         ELSE source || '.example.com' END AS domain
        |  FROM documents),
        |t AS (
        |  SELECT domain, text,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS lts,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
        |  FROM inj WHERE domain IS NOT NULL),
        |q AS (
        |  SELECT domain, text, len(ts) AS ntok,
        |    CASE WHEN text IS NULL THEN NULL ELSE
        |      least(length(text)/200.0, 1.0)*0.3
        |      + (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
        |         / greatest(length(text), 1))*0.3
        |      + least(CASE WHEN len(lts) > 0
        |          THEN len(list_filter(lts, x -> x IN ('the','a','of','and',
        |            'to','in','is','that','it','for')))::DOUBLE / len(lts)
        |          ELSE 0.0 END * 5.0, 1.0)*0.2
        |      + (CASE WHEN (CASE WHEN len(ts) > 0
        |            THEN list_sum(list_transform(ts, x -> length(x)))::DOUBLE
        |                 / len(ts) ELSE 0.0 END) BETWEEN 2.0 AND 12.0
        |          THEN 1.0 ELSE 0.3 END)*0.2
        |    END AS quality
        |  FROM t),
        |st AS (
        |  SELECT domain,
        |    count(*) AS n_docs,
        |    count(text) AS n_text_docs,
        |    coalesce(sum(coalesce(ntok, 0)), 0) AS n_tokens,
        |    count(DISTINCT text) AS n_distinct_texts,
        |    coalesce(sum(CASE WHEN quality < 0.5 THEN 1 ELSE 0 END), 0)
        |      AS low_quality_docs,
        |    avg(quality) AS mean_quality
        |  FROM q GROUP BY 1),
        |fl AS (
        |  SELECT *,
        |    CASE WHEN n_text_docs > 0
        |         THEN 1.0 - n_distinct_texts::DOUBLE / n_text_docs
        |         ELSE 0.0 END AS dup_rate
        |  FROM st),
        |blk AS (
        |  SELECT domain,
        |    CASE WHEN dup_rate > 0.15
        |           OR (mean_quality IS NOT NULL AND mean_quality < 0.66)
        |           OR domain = 'src7.example.com'
        |         THEN 1 ELSE 0 END AS blocked
        |  FROM fl)
        |SELECT f.domain,
        |  f.n_docs::DOUBLE AS n_docs,
        |  f.n_tokens::DOUBLE AS n_tokens,
        |  f.n_distinct_texts::DOUBLE AS n_distinct_texts,
        |  f.low_quality_docs::DOUBLE AS low_quality_docs,
        |  round(f.mean_quality, 6) AS mean_q,
        |  round(f.dup_rate, 6) AS dup_r,
        |  b.blocked::DOUBLE AS blocked,
        |  (CASE WHEN b.blocked = 1 THEN 0 ELSE f.n_docs END)::DOUBLE
        |    AS kept_docs
        |FROM fl f JOIN blk b USING (domain)
        |ORDER BY f.domain""".stripMargin,

    // q78: the interpolated Kneser-Ney model rebuilt from aggregates —
    // nfwd = distinct continuations per head, ncont = distinct heads per
    // tail, ntypes = distinct bigram types; identical algebra to the
    // Spark window-pass form.
    "q78_kneser_ney_lm" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), bgu AS (
        |  SELECT doc_id,
        |    unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS t
        |  FROM base WHERE len(toks) >= 2
        |), bf AS (
        |  SELECT doc_id, t[1] AS w1, t[2] AS w2, count(*) AS tf
        |  FROM bgu GROUP BY 1, 2, 3
        |), pairc AS (SELECT w1, w2, sum(tf) AS c FROM bf GROUP BY 1, 2),
        |headc AS (SELECT w1, sum(tf) AS ch, count(DISTINCT w2) AS nfwd
        |          FROM bf GROUP BY 1),
        |tailc AS (SELECT w2, count(DISTINCT w1) AS ncont FROM bf GROUP BY 1),
        |sc AS (SELECT count(*) AS ntypes FROM pairc),
        |doc AS (
        |  SELECT f.doc_id, sum(f.tf) AS nb,
        |    sum(-f.tf * ln(
        |      greatest(p.c - 0.75, 0) / h.ch
        |      + 0.75 * h.nfwd / h.ch
        |        * (t.ncont::DOUBLE / (SELECT ntypes FROM sc)))) AS nll
        |  FROM bf f JOIN pairc p USING (w1, w2) JOIN headc h USING (w1)
        |    JOIN tailc t USING (w2)
        |  GROUP BY 1
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |  coalesce(sum(nb), 0)::DOUBLE AS total_bigrams,
        |  round(sum(nll), 3)::DOUBLE AS sum_nll,
        |  round(avg(nll / nb), 6)::DOUBLE AS avg_h,
        |  round(min(nll / nb), 6)::DOUBLE AS min_h,
        |  round(max(nll / nb), 6)::DOUBLE AS max_h,
        |  sum(CASE WHEN nll / nb < 3.45 THEN 1 ELSE 0 END)::DOUBLE
        |    AS docs_low
        |FROM doc""".stripMargin,

    // q77: DuckDB replays the BPE apply with a recursive replace chain —
    // per merge, replace() iterates to ITS OWN fixpoint (mi stays while
    // the string changes) before advancing, which equals rank-priority
    // BPE for well-formed merge lists (BpeSpec pins the property against
    // 500 randomized words). The CASE branches are GENERATED from
    // BpeDemoMerges, so the SQL cannot drift from the Spark model. The
    // trainer's first merge re-derives as the argmax adjacent char pair
    // (count desc, pair asc) over word occurrences.
    "q77_bpe_tokens" -> bpeOracleSql,

    // q76: exact shingle-Jaccard replay of the incremental fuzzy dedup —
    // contaminated = batch docs with exact J >= 0.5 vs any old doc;
    // within-batch components by recursive closure (the q48 convention);
    // survivors = min-id per component of uncontaminated components. The
    // fixture's Jaccard dead zone around 0.5 (see the query comment) makes
    // the MinHash-estimated Spark path agree value-for-value.
    "q76_incremental_neardup" ->
      """WITH RECURSIVE osh AS (
        |  SELECT doc_id, sh FROM (
        |    SELECT doc_id, CASE WHEN len(ts) >= 3 THEN
        |        list_distinct(list_transform(range(len(ts)-2),
        |          i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
        |      WHEN len(ts) > 0 THEN [array_to_string(ts, ' ')]
        |      ELSE []::VARCHAR[] END AS sh
        |    FROM (SELECT doc_id, list_filter(
        |            string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |          FROM documents WHERE doc_id < 300 AND text IS NOT NULL))
        |  WHERE len(sh) > 0),
        |bsh AS (
        |  SELECT doc_id, CASE WHEN len(ts) >= 3 THEN
        |      list_distinct(list_transform(range(len(ts)-2),
        |        i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
        |    WHEN len(ts) > 0 THEN [array_to_string(ts, ' ')]
        |    ELSE []::VARCHAR[] END AS sh
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(
        |          text || ' zqa' || doc_id || ' zqb' || doc_id
        |               || ' zqc' || doc_id || ' zqd' || doc_id
        |               || ' zqe' || doc_id || ' zqf' || doc_id
        |               || ' zqg' || doc_id || ' zqh' || doc_id),
        |          '\s+'), x -> x <> '') AS ts
        |        FROM documents
        |        WHERE doc_id >= 250 AND doc_id < 350 AND text IS NOT NULL
        |          AND len(list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '')) >= 30)),
        |contaminated AS (
        |  SELECT DISTINCT b.doc_id FROM bsh b JOIN osh o ON
        |    len(list_intersect(b.sh, o.sh))::DOUBLE
        |      / greatest(len(b.sh) + len(o.sh)
        |                 - len(list_intersect(b.sh, o.sh)), 1) >= 0.5
        |  WHERE len(b.sh) > 0),
        |wpairs AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM bsh a JOIN bsh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE
        |        / greatest(len(a.sh) + len(b.sh)
        |                   - len(list_intersect(a.sh, b.sh)), 1) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM wpairs
        |          UNION SELECT ib, ia FROM wpairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS node, least(min(b), a) AS cluster
        |         FROM reach GROUP BY a),
        |lab AS (SELECT b.doc_id, coalesce(c.cluster, b.doc_id) AS cluster
        |        FROM bsh b LEFT JOIN comp c ON b.doc_id = c.node),
        |dropc AS (SELECT DISTINCT l.cluster FROM lab l
        |          JOIN contaminated x ON l.doc_id = x.doc_id),
        |surv AS (SELECT l.doc_id FROM lab l
        |         WHERE l.cluster = l.doc_id
        |           AND l.cluster NOT IN (SELECT cluster FROM dropc))
        |SELECT (SELECT count(*) FROM bsh)::DOUBLE AS n_batch,
        |       (SELECT count(*) FROM surv)::DOUBLE AS survivors,
        |       (SELECT coalesce(sum(doc_id), 0) FROM surv)::DOUBLE
        |         AS survivor_id_sum,
        |       (SELECT count(*) FROM osh)::DOUBLE AS state_docs""".stripMargin,

    // q83: CCNet perplexity terciles — the q58 Laplace-unigram model
    // replayed per document, then ntile(3) per source ordered by the SAME
    // (round(ce, 6), doc_id) key the engine ranks on.
    "q83_perplexity_buckets" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tkn AS (
        |  SELECT doc_id, unnest(toks) AS term FROM base
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tkn GROUP BY 1, 2
        |), tc AS (
        |  SELECT term, sum(tf) AS c FROM tf GROUP BY 1
        |), tot AS (
        |  SELECT sum(c) AS t, count(*) AS v FROM tc
        |), doc AS (
        |  SELECT f.doc_id, sum(f.tf) AS n_tokens,
        |    sum(-f.tf * (ln(tc.c + 1.0) - ln((SELECT t + v FROM tot)))) AS nll
        |  FROM tf f JOIN tc USING (term) GROUP BY 1
        |), bk AS (
        |  SELECT dd.source, d.doc_id, d.nll / d.n_tokens AS ce,
        |    ntile(3) OVER (PARTITION BY dd.source
        |      ORDER BY round(d.nll / d.n_tokens, 6), d.doc_id) AS bucket
        |  FROM doc d JOIN documents dd USING (doc_id)
        |)
        |SELECT source, bucket::DOUBLE AS bucket, count(*)::DOUBLE AS docs,
        |  sum(doc_id)::DOUBLE AS id_sum,
        |  round(avg(ce), 6)::DOUBLE AS avg_h
        |FROM bk GROUP BY 1, 2""".stripMargin,

    // q84: length-grouped batching octiles — the same whitespace token
    // count the packing oracles use, ntile(8) over the integer-exact
    // (n_tokens, doc_id) key, then per-bucket padding arithmetic.
    "q84_length_buckets" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    coalesce(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')), 0) AS nt
        |  FROM documents WHERE doc_id IS NOT NULL
        |), bk AS (
        |  SELECT doc_id, nt,
        |    ntile(8) OVER (ORDER BY nt, doc_id) AS bucket
        |  FROM base
        |)
        |SELECT bucket::DOUBLE AS bucket, count(*)::DOUBLE AS docs,
        |  sum(nt)::DOUBLE AS sum_tokens, max(nt)::DOUBLE AS max_len,
        |  (max(nt) * count(*) - sum(nt))::DOUBLE AS padding_waste
        |FROM bk GROUP BY 1""".stripMargin,

    // q85: URL dedup — the oracle regenerates the same messy variants and
    // replays the FULL canonicalization generically (identical regexes,
    // tracking-param list, parameter sort), then elects min-id survivors
    // per canonical key; unparseable rows pass through.
    "q85_url_dedup" ->
      ("""WITH d AS (
        |  SELECT doc_id FROM documents WHERE doc_id IS NOT NULL
        |), u AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 97 = 0 THEN 'page moved'
        |      WHEN doc_id % 5 = 0 THEN 'https://www.s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com/p/' ||
        |        (doc_id // 5)::VARCHAR
        |      WHEN doc_id % 5 = 1 THEN 'HTTPS://s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com:443/p/' ||
        |        (doc_id // 5)::VARCHAR || '/'
        |      WHEN doc_id % 5 = 2 THEN 'https://user:pw@s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com/p/' ||
        |        (doc_id // 5)::VARCHAR || '?utm_source=x&fbclid=' ||
        |        doc_id::VARCHAR
        |      WHEN doc_id % 5 = 3 THEN 'https://s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com/p/' ||
        |        (doc_id // 5)::VARCHAR || '?b=2&a=1#frag'
        |      ELSE 'https://s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com/p/' ||
        |        (doc_id // 5)::VARCHAR || '?a=1&utm_medium=y&b=2'
        |    END AS url
        |  FROM d
        |), parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
        |      AS scheme,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/?#]+)', 1)
        |      AS hostport,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |    regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS query
        |  FROM u
        |), norm AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(lower(regexp_extract(hostport,
        |      '^(\[[^\]]+\]|[^:]+)', 1)), '^www\.', '') AS host,
        |    regexp_extract(hostport,
        |      '^(?:\[[^\]]+\]|[^:]+):([0-9]+)$', 1) AS port,
        |    regexp_replace(rawpath, '/+$', '') AS tpath,
        |    coalesce(array_to_string(
        |      list_sort(list_filter(string_split(query, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '""" + graft.pipeline.Domains.TrackingParamPattern +
        """'))), '&'), '') AS q2
        |  FROM parts
        |), canon AS (
        |  SELECT doc_id,
        |    CASE WHEN scheme = '' OR host = '' THEN NULL ELSE
        |      scheme || '://' || host ||
        |      (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |         OR (scheme = 'https' AND port = '443') THEN ''
        |         ELSE ':' || port END) ||
        |      (CASE WHEN tpath = '' THEN '/' ELSE tpath END) ||
        |      (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END)
        |    END AS canonical_url
        |  FROM norm
        |), surv AS (
        |  SELECT min(doc_id) AS doc_id, canonical_url
        |  FROM canon WHERE canonical_url IS NOT NULL GROUP BY canonical_url
        |  UNION ALL
        |  SELECT doc_id, canonical_url FROM canon WHERE canonical_url IS NULL
        |)
        |SELECT count(*)::DOUBLE AS n_out,
        |  count(CASE WHEN canonical_url IS NULL THEN 1 END)::DOUBLE
        |    AS n_null_key,
        |  count(DISTINCT canonical_url)::DOUBLE AS n_groups,
        |  sum(doc_id)::DOUBLE AS survivor_id_sum,
        |  coalesce(sum(len(canonical_url)), 0)::DOUBLE AS canon_len_sum,
        |  max(canonical_url) AS max_canon
        |FROM surv""").stripMargin,

    // q86: multinomial NB replayed from integer count aggregates — the
    // identical lowercased token stream, (class, term) counts, Laplace
    // log-probs over the joint training vocabulary, per-doc posterior
    // sums, and the same (score DESC, label ASC) ranking. OOV corpus
    // terms drop in the model join in both engines.
    "q86_nb_classifier" ->
      """WITH marked AS (
        |  SELECT doc_id,
        |    concat_ws(' ', text, CASE WHEN doc_id % 2 = 0
        |      THEN 'qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb'
        |      ELSE 'qtossa qtossb qtossa qtossb qtossa qtossb' END) AS text,
        |    CASE WHEN doc_id % 2 = 0 THEN 'keep' ELSE 'toss' END AS lbl
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tr AS (
        |  SELECT * FROM marked WHERE doc_id % 10 < 2
        |), ttok AS (
        |  SELECT doc_id, lbl, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM tr
        |), cnt AS (
        |  SELECT lbl, term, count(*) AS c FROM ttok GROUP BY 1, 2
        |), voc AS (
        |  SELECT DISTINCT term FROM cnt
        |), ctot AS (
        |  SELECT lbl, sum(c) AS tot FROM cnt GROUP BY 1
        |), lblc AS (
        |  SELECT lbl, count(*) AS docs FROM tr GROUP BY 1
        |), mdl AS (
        |  SELECT voc.term, l.lbl,
        |    ln((coalesce(cnt.c, 0) + 1.0) /
        |       (ctot.tot + (SELECT count(*) FROM voc))) AS lp
        |  FROM voc
        |  CROSS JOIN (SELECT lbl FROM lblc) l
        |  LEFT JOIN cnt ON cnt.term = voc.term AND cnt.lbl = l.lbl
        |  JOIN ctot ON ctot.lbl = l.lbl
        |), pri AS (
        |  SELECT lbl, ln(docs::DOUBLE /
        |    (SELECT count(*) FROM tr)) AS lpr FROM lblc
        |), stok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM marked
        |), stf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM stok GROUP BY 1, 2
        |), sll AS (
        |  SELECT s.doc_id, m.lbl, sum(s.tf * m.lp) AS ll
        |  FROM stf s JOIN mdl m USING (term) GROUP BY 1, 2
        |), sc AS (
        |  SELECT d.doc_id, p.lbl, p.lpr + coalesce(sll.ll, 0.0) AS score
        |  FROM (SELECT doc_id FROM marked) d
        |  CROSS JOIN pri p
        |  LEFT JOIN sll ON sll.doc_id = d.doc_id AND sll.lbl = p.lbl
        |), rk AS (
        |  SELECT doc_id, lbl, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, lbl ASC) AS rn
        |  FROM sc
        |), win AS (
        |  SELECT a.doc_id, a.lbl AS predicted, a.score,
        |    a.score - b.score AS margin
        |  FROM rk a JOIN rk b ON a.doc_id = b.doc_id AND b.rn = 2
        |  WHERE a.rn = 1
        |)
        |SELECT w.predicted, count(*)::DOUBLE AS docs,
        |  sum(w.doc_id)::DOUBLE AS id_sum,
        |  round(avg(w.score), 6) AS avg_score,
        |  round(avg(w.margin), 6) AS avg_margin,
        |  count(CASE WHEN w.predicted <> m.lbl THEN 1 END)::DOUBLE
        |    AS flipped,
        |  CASE WHEN min(w.margin) >= 10.0 THEN 1.0 ELSE 0.0 END
        |    AS margin_ok
        |FROM win w JOIN marked m USING (doc_id)
        |GROUP BY 1""".stripMargin,

    // q87: HTML extraction — the identical shell regenerated and the
    // identical regexp chain replayed (RE2 and java.util.regex agree on
    // every construct used: inline (?is)/(?s) flags, non-greedy .*?,
    // character classes).
    "q87_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>D' || doc_id::VARCHAR ||
        |    '</title><style type="text/css">p { color: #333; }</style>' ||
        |    '<script>if (a < b && c > d) { run(); }</script></head>' ||
        |    '<body><!-- nav --><h1 class="hd">Doc ' || doc_id::VARCHAR ||
        |    '</h1><p>' || coalesce(text, '') ||
        |    '</p><br/><div>&amp; entities &lt;kept&gt; &quot;q&quot; ' ||
        |    '&#39;s &nbsp;end</div></body></html>' AS html
        |  FROM documents WHERE doc_id IS NOT NULL
        |), e AS (
        |  SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(html,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<', 'g'),
        |      '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'),
        |      '&nbsp;', ' ', 'g'),
        |      '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS t
        |  FROM h
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |  sum(len(t))::DOUBLE AS len_sum,
        |  sum(coalesce(len(list_filter(string_split_regex(t, '\s+'),
        |    x -> x <> '')), 0))::DOUBLE AS tok_sum,
        |  count(CASE WHEN contains(t, '<kept>') THEN 1 END)::DOUBLE
        |    AS unescaped_docs,
        |  count(CASE WHEN contains(t, 'run();') THEN 1 END)::DOUBLE
        |    AS script_leak_docs,
        |  count(CASE WHEN contains(t, '#333') THEN 1 END)::DOUBLE
        |    AS style_leak_docs,
        |  substr(min(t), 1, 60) AS sample_min
        |FROM e""".stripMargin,

    // q88: novelty curve — string 13-grams stand in for the engine's
    // 64-bit shingle hashes (identity-preserving; the q66/q67 replay
    // convention), min(source) picks each gram's first group.
    "q88_novelty_curve" ->
      """WITH toks AS (
        |  SELECT source, list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |  FROM documents WHERE source IS NOT NULL),
        |g AS (
        |  SELECT DISTINCT source, array_to_string(ts[i:i+12], ' ') AS gram
        |  FROM toks, unnest(range(1, len(ts) - 11)) AS t(i)
        |  WHERE len(ts) >= 13),
        |per AS (
        |  SELECT source, count(*) AS distinct_grams FROM g GROUP BY 1),
        |fs AS (
        |  SELECT gram, min(source) AS source FROM g GROUP BY 1),
        |nv AS (
        |  SELECT source, count(*) AS novel_grams FROM fs GROUP BY 1)
        |SELECT p.source,
        |  p.distinct_grams::DOUBLE AS distinct_grams,
        |  coalesce(nv.novel_grams, 0)::DOUBLE AS novel_grams,
        |  coalesce(nv.novel_grams, 0)::DOUBLE / p.distinct_grams
        |    AS novelty
        |FROM per p LEFT JOIN nv USING (source)""".stripMargin,

    // q89: boilerplate removal — line identity replayed as exact line
    // strings (the engine hashes them; identity-preserving), the same
    // two-step injection, frequency conviction, and per-doc rebuild.
    "q89_boilerplate_lines" ->
      """WITH b1 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 <> 2 THEN text || chr(10) || 'FOOTER ' ||
        |      source || ' all rights reserved' ELSE text END AS t1
        |  FROM documents WHERE doc_id IS NOT NULL
        |), b2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 31 = 0 THEN t1 || chr(10) ||
        |      'rare notice ' || doc_id::VARCHAR ELSE t1 END AS t
        |  FROM b1
        |), nn AS (
        |  SELECT * FROM b2 WHERE t IS NOT NULL
        |), ls AS (
        |  SELECT doc_id, source, string_split(t, chr(10)) AS arr FROM nn
        |), lx AS (
        |  SELECT doc_id, source, unnest(arr) AS line,
        |    generate_subscripts(arr, 1) AS pos
        |  FROM ls
        |), gd AS (
        |  SELECT source, count(DISTINCT doc_id) AS gdocs FROM nn GROUP BY 1
        |), freq AS (
        |  SELECT source, line, count(DISTINCT doc_id) AS ld
        |  FROM lx WHERE trim(line) <> '' GROUP BY 1, 2
        |), boiler AS (
        |  SELECT f.source, f.line FROM freq f JOIN gd USING (source)
        |  WHERE f.ld >= 5 AND f.ld >= 0.4 * gd.gdocs
        |), mk AS (
        |  SELECT l.doc_id, l.source, l.line, l.pos,
        |    (b.line IS NOT NULL) AS bo
        |  FROM lx l LEFT JOIN boiler b
        |    ON b.source = l.source AND b.line = l.line
        |), rb AS (
        |  SELECT doc_id, source,
        |    coalesce(array_to_string(
        |      list(line ORDER BY pos) FILTER (WHERE NOT bo), chr(10)), '')
        |      AS ct,
        |    count(*) FILTER (WHERE bo) AS removed
        |  FROM mk GROUP BY 1, 2
        |), allrows AS (
        |  SELECT doc_id, source, ct, removed FROM rb
        |  UNION ALL
        |  SELECT doc_id, source, NULL AS ct, 0 AS removed
        |  FROM b2 WHERE t IS NULL
        |)
        |SELECT source, count(*)::DOUBLE AS n_docs,
        |  sum(removed)::DOUBLE AS removed_sum,
        |  coalesce(sum(len(ct)), 0)::DOUBLE AS len_sum,
        |  coalesce(sum(coalesce(len(list_filter(
        |    string_split_regex(ct, '\s+'), x -> x <> '')), 0)), 0)::DOUBLE
        |    AS tok_sum,
        |  count(CASE WHEN removed > 0 THEN 1 END)::DOUBLE AS docs_touched
        |FROM allrows GROUP BY 1""".stripMargin,

    // q90: corpus drift — identical token streams, identical smoothing,
    // identical operation order for each divergence term.
    "q90_corpus_drift" ->
      """WITH oldd AS (
        |  SELECT text FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id % 2 = 0
        |), newd AS (
        |  SELECT concat_ws(' ', text, 'drifttoken drifttoken') AS text
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id % 2 = 1
        |), tk1 AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text),
        |    '\s+'), x -> x <> '')) AS term FROM oldd
        |), c1 AS (
        |  SELECT term, count(*) AS c FROM tk1 GROUP BY 1
        |), tk2 AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text),
        |    '\s+'), x -> x <> '')) AS term FROM newd
        |), c2 AS (
        |  SELECT term, count(*) AS c FROM tk2 GROUP BY 1
        |), j AS (
        |  SELECT coalesce(c1.c, 0) AS a, coalesce(c2.c, 0) AS b
        |  FROM c1 FULL OUTER JOIN c2 ON c1.term = c2.term
        |), tot AS (
        |  SELECT count(*) AS v, sum(a) AS ta, sum(b) AS tb FROM j
        |), pq AS (
        |  SELECT
        |    (b + 1.0) / ((SELECT tb FROM tot) + (SELECT v FROM tot)) AS p,
        |    (a + 1.0) / ((SELECT ta FROM tot) + (SELECT v FROM tot)) AS q
        |  FROM j
        |)
        |SELECT (SELECT v FROM tot)::DOUBLE AS v_joint,
        |  (SELECT ta FROM tot)::DOUBLE AS tokens_old,
        |  (SELECT tb FROM tot)::DOUBLE AS tokens_new,
        |  round(sum(p * ln(p / q)), 6) AS kl,
        |  round(sum(p * ln(p / ((p + q) / 2.0)) / 2.0 +
        |            q * ln(q / ((p + q) / 2.0)) / 2.0), 6) AS js,
        |  round(sum(abs(p - q)) / 2.0, 6) AS tvd
        |FROM pq""".stripMargin,

    // q91: Luhn validation — the identical injection, candidate regex,
    // and checksum arithmetic (position parity from the RIGHT, double
    // odd positions, subtract 9 above 9, mod 10).
    "q91_cc_luhn" ->
      """WITH inj AS (
        |  SELECT doc_id, concat_ws(' ', text,
        |    CASE WHEN doc_id % 4 = 0 THEN 'pan ' || lpad(
        |      (((doc_id + 7) * 2654435761) % 10000000000000000)::VARCHAR,
        |      16, '0') END,
        |    CASE WHEN doc_id % 7 = 0 THEN 'visa 4111111111111111' END,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN 'spaced 4111 1111 1111 1111' END) AS t
        |  FROM documents WHERE doc_id IS NOT NULL
        |), cl AS (
        |  SELECT doc_id, list_filter(
        |    list_transform(regexp_extract_all(t, '[0-9][0-9 -]*[0-9]'),
        |      x -> regexp_replace(x, '[ -]', '', 'g')),
        |    x -> len(x) BETWEEN 13 AND 19) AS lst
        |  FROM inj
        |), cand AS (
        |  SELECT doc_id, unnest(lst) AS c, generate_subscripts(lst, 1) AS k
        |  FROM cl
        |), dig AS (
        |  SELECT doc_id, k, c, (len(c) - i) % 2 AS odd,
        |    substr(c, i, 1)::INT AS d
        |  FROM cand, unnest(range(1, len(c) + 1)) AS r(i)
        |), lu AS (
        |  SELECT doc_id, k, c,
        |    sum(CASE WHEN odd = 1 THEN
        |      CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
        |      ELSE d END) % 10 = 0 AS ok
        |  FROM dig GROUP BY 1, 2, 3
        |)
        |SELECT count(DISTINCT doc_id)::DOUBLE AS docs_with_candidates,
        |  count(*)::DOUBLE AS n_candidates,
        |  count(CASE WHEN ok THEN 1 END)::DOUBLE AS n_valid,
        |  count(CASE WHEN NOT ok THEN 1 END)::DOUBLE AS n_invalid,
        |  (SELECT count(DISTINCT doc_id) FROM lu WHERE ok)::DOUBLE
        |    AS docs_with_valid,
        |  (SELECT coalesce(sum(DISTINCT doc_id), 0) FROM lu WHERE ok)::DOUBLE
        |    AS valid_id_sum
        |FROM lu""".stripMargin,

    // q92: shard assignment — the identical md5-prefix hash parsed from
    // hex ('0x' cast) and the identical whitespace token count.
    "q92_shard_assignment" ->
      """SELECT
        |  (('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 8))::BIGINT
        |    % 16)::DOUBLE AS shard,
        |  count(*)::DOUBLE AS n_docs,
        |  sum(coalesce(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')), 0))::DOUBLE AS n_tokens,
        |  sum(doc_id)::DOUBLE AS id_sum
        |FROM documents WHERE doc_id IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // q93: sharded NB training — the oracle trains on the WHOLE 40% seed
    // in one pass (the ground truth the merged half-states must equal);
    // merge_exact is the engine-side census, 1.0 here by definition.
    "q93_nb_sharded_train" ->
      """WITH marked AS (
        |  SELECT doc_id,
        |    concat_ws(' ', text, CASE WHEN doc_id % 2 = 0
        |      THEN 'qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb'
        |      ELSE 'qtossa qtossb qtossa qtossb qtossa qtossb' END) AS text,
        |    CASE WHEN doc_id % 2 = 0 THEN 'keep' ELSE 'toss' END AS lbl
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tr AS (
        |  SELECT * FROM marked WHERE doc_id % 10 < 4
        |), ttok AS (
        |  SELECT doc_id, lbl, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM tr
        |), cnt AS (
        |  SELECT lbl, term, count(*) AS c FROM ttok GROUP BY 1, 2
        |), voc AS (
        |  SELECT DISTINCT term FROM cnt
        |), ctot AS (
        |  SELECT lbl, sum(c) AS tot FROM cnt GROUP BY 1
        |), lblc AS (
        |  SELECT lbl, count(*) AS docs FROM tr GROUP BY 1
        |), mdl AS (
        |  SELECT voc.term, l.lbl,
        |    ln((coalesce(cnt.c, 0) + 1.0) /
        |       (ctot.tot + (SELECT count(*) FROM voc))) AS lp
        |  FROM voc
        |  CROSS JOIN (SELECT lbl FROM lblc) l
        |  LEFT JOIN cnt ON cnt.term = voc.term AND cnt.lbl = l.lbl
        |  JOIN ctot ON ctot.lbl = l.lbl
        |), pri AS (
        |  SELECT lbl, ln(docs::DOUBLE /
        |    (SELECT count(*) FROM tr)) AS lpr FROM lblc
        |), stok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM marked
        |), stf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM stok GROUP BY 1, 2
        |), sll AS (
        |  SELECT s.doc_id, m.lbl, sum(s.tf * m.lp) AS ll
        |  FROM stf s JOIN mdl m USING (term) GROUP BY 1, 2
        |), sc AS (
        |  SELECT d.doc_id, p.lbl, p.lpr + coalesce(sll.ll, 0.0) AS score
        |  FROM (SELECT doc_id FROM marked) d
        |  CROSS JOIN pri p
        |  LEFT JOIN sll ON sll.doc_id = d.doc_id AND sll.lbl = p.lbl
        |), rk AS (
        |  SELECT doc_id, lbl, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, lbl ASC) AS rn
        |  FROM sc
        |), win AS (
        |  SELECT a.doc_id, a.lbl AS predicted, a.score,
        |    a.score - b.score AS margin
        |  FROM rk a JOIN rk b ON a.doc_id = b.doc_id AND b.rn = 2
        |  WHERE a.rn = 1
        |)
        |SELECT predicted, count(*)::DOUBLE AS docs,
        |  sum(doc_id)::DOUBLE AS id_sum,
        |  round(avg(score), 6) AS avg_score,
        |  CASE WHEN min(margin) >= 8.0 THEN 1.0 ELSE 0.0 END AS margin_ok,
        |  1.0::DOUBLE AS merge_exact
        |FROM win GROUP BY 1""".stripMargin,

    // q94: unigram tokenizer — the full Viterbi DP generated as one CTE
    // per position (see unigramOracleSql).
    "q94_unigram_tokenizer" -> unigramOracleSql,

    // q95: unigram-budget temperature mixture — the q94 DP chain
    // composed into the q70/q81 mixture replay.
    "q95_unigram_mixture" -> unigramMixtureOracleSql,

    // q96: curation v2 — the q89 + q86 + q83 + q85 + q92 replays chained
    // into one query; every CTE MATERIALIZED (DuckDB inlines
    // multiply-referenced CTEs by default — the q94 lesson — and this
    // chain reuses each stage several times).
    "q96_curation_v2" ->
      ("""WITH b1 AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 <> 2 THEN text || chr(10) || 'FOOTER ' ||
        |      source || ' all rights reserved' ELSE text END AS t
        |  FROM documents WHERE doc_id IS NOT NULL
        |), nn AS MATERIALIZED (
        |  SELECT * FROM b1 WHERE t IS NOT NULL
        |), lx AS MATERIALIZED (
        |  SELECT doc_id, source, unnest(arr) AS line,
        |    generate_subscripts(arr, 1) AS pos
        |  FROM (SELECT doc_id, source, string_split(t, chr(10)) AS arr
        |        FROM nn) ls
        |), boiler AS MATERIALIZED (
        |  SELECT f.source, f.line FROM (
        |    SELECT source, line, count(DISTINCT doc_id) AS ld
        |    FROM lx WHERE trim(line) <> '' GROUP BY 1, 2) f
        |  JOIN (SELECT source, count(DISTINCT doc_id) AS gdocs
        |        FROM nn GROUP BY 1) gd USING (source)
        |  WHERE f.ld >= 5 AND f.ld >= 0.4 * gd.gdocs
        |), cleaned AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    coalesce(array_to_string(
        |      list(line ORDER BY pos) FILTER (WHERE NOT bo), chr(10)), '')
        |      AS ct,
        |    count(*) FILTER (WHERE bo) AS removed
        |  FROM (
        |    SELECT l.doc_id, l.source, l.line, l.pos,
        |      (b.line IS NOT NULL) AS bo
        |    FROM lx l LEFT JOIN boiler b
        |      ON b.source = l.source AND b.line = l.line) mk
        |  GROUP BY 1, 2
        |  UNION ALL
        |  SELECT doc_id, source, NULL AS ct, 0 AS removed
        |  FROM b1 WHERE t IS NULL
        |), marked AS MATERIALIZED (
        |  SELECT doc_id, source, concat_ws(' ', ct,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb'
        |      ELSE 'qtossa qtossb qtossa qtossb qtossa qtossb' END) AS mt,
        |    removed
        |  FROM cleaned
        |), tr AS MATERIALIZED (
        |  SELECT doc_id, mt,
        |    CASE WHEN doc_id % 2 = 0 THEN 'keep' ELSE 'toss' END AS lbl
        |  FROM marked WHERE doc_id % 10 < 2
        |), cnt AS MATERIALIZED (
        |  SELECT lbl, term, count(*) AS c FROM (
        |    SELECT doc_id, lbl, unnest(list_filter(
        |      string_split_regex(lower(mt), '\s+'), x -> x <> '')) AS term
        |    FROM tr) ttok GROUP BY 1, 2
        |), voc AS MATERIALIZED (
        |  SELECT DISTINCT term FROM cnt
        |), mdl AS MATERIALIZED (
        |  SELECT voc.term, l.lbl,
        |    ln((coalesce(cnt.c, 0) + 1.0) /
        |       (coalesce(ctot.tot, 0) + (SELECT count(*) FROM voc))) AS lp
        |  FROM voc
        |  CROSS JOIN (SELECT DISTINCT lbl FROM tr) l
        |  LEFT JOIN cnt ON cnt.term = voc.term AND cnt.lbl = l.lbl
        |  LEFT JOIN (SELECT lbl, sum(c) AS tot FROM cnt GROUP BY 1) ctot
        |    ON ctot.lbl = l.lbl
        |), pri AS MATERIALIZED (
        |  SELECT lbl, ln(docs::DOUBLE / (SELECT count(*) FROM tr)) AS lpr
        |  FROM (SELECT lbl, count(*) AS docs FROM tr GROUP BY 1) lblc
        |), stf AS MATERIALIZED (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(mt), '\s+'), x -> x <> '')) AS term
        |    FROM marked) stok GROUP BY 1, 2
        |), rk AS MATERIALIZED (
        |  SELECT doc_id, lbl, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, lbl ASC) AS rn
        |  FROM (
        |    SELECT d.doc_id, p.lbl, p.lpr + coalesce(sll.ll, 0.0) AS score
        |    FROM (SELECT doc_id FROM marked) d
        |    CROSS JOIN pri p
        |    LEFT JOIN (
        |      SELECT s.doc_id, m.lbl, sum(s.tf * m.lp) AS ll
        |      FROM stf s JOIN mdl m USING (term) GROUP BY 1, 2) sll
        |      ON sll.doc_id = d.doc_id AND sll.lbl = p.lbl) scs
        |), nbkept AS MATERIALIZED (
        |  SELECT m.doc_id, m.source, m.mt FROM marked m
        |  JOIN rk ON rk.doc_id = m.doc_id AND rk.rn = 1
        |    AND rk.lbl = 'keep'
        |), ptf AS MATERIALIZED (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(mt), '\s+'), x -> x <> '')) AS term
        |    FROM nbkept) ptok GROUP BY 1, 2
        |), ptc AS MATERIALIZED (
        |  SELECT term, sum(tf) AS c FROM ptf GROUP BY 1
        |), pdoc AS MATERIALIZED (
        |  SELECT f.doc_id, sum(f.tf) AS n_tokens,
        |    sum(-f.tf * (ln(ptc.c + 1.0) -
        |      ln((SELECT sum(c) + count(*) FROM ptc)))) AS nll
        |  FROM ptf f JOIN ptc USING (term) GROUP BY 1
        |), perpkept AS MATERIALIZED (
        |  SELECT nb.doc_id, nb.source, nb.mt FROM nbkept nb JOIN (
        |    SELECT pd.doc_id,
        |      ntile(3) OVER (PARTITION BY nb2.source
        |        ORDER BY round(pd.nll / pd.n_tokens, 6), pd.doc_id)
        |        AS bucket
        |    FROM pdoc pd JOIN nbkept nb2 USING (doc_id)) pbk
        |    ON pbk.doc_id = nb.doc_id AND pbk.bucket <= 2
        |), u AS MATERIALIZED (
        |  SELECT doc_id, mt,
        |    CASE
        |      WHEN doc_id % 97 = 0 THEN 'page moved'
        |      WHEN doc_id % 5 = 0 THEN 'https://www.s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com/p/' ||
        |        (doc_id // 5)::VARCHAR
        |      WHEN doc_id % 5 = 1 THEN 'HTTPS://s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com:443/p/' ||
        |        (doc_id // 5)::VARCHAR || '/'
        |      WHEN doc_id % 5 = 2 THEN 'https://user:pw@s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com/p/' ||
        |        (doc_id // 5)::VARCHAR || '?utm_source=x&fbclid=' ||
        |        doc_id::VARCHAR
        |      WHEN doc_id % 5 = 3 THEN 'https://s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com/p/' ||
        |        (doc_id // 5)::VARCHAR || '?b=2&a=1#frag'
        |      ELSE 'https://s' ||
        |        ((doc_id // 5) % 20)::VARCHAR || '.example.com/p/' ||
        |        (doc_id // 5)::VARCHAR || '?a=1&utm_medium=y&b=2'
        |    END AS url
        |  FROM perpkept
        |), canon AS MATERIALIZED (
        |  SELECT doc_id, mt,
        |    CASE WHEN scheme = '' OR host = '' THEN NULL ELSE
        |      scheme || '://' || host ||
        |      (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |         OR (scheme = 'https' AND port = '443') THEN ''
        |         ELSE ':' || port END) ||
        |      (CASE WHEN tpath = '' THEN '/' ELSE tpath END) ||
        |      (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END)
        |    END AS canonical_url
        |  FROM (
        |    SELECT doc_id, mt, scheme,
        |      regexp_replace(lower(regexp_extract(hostport,
        |        '^(\[[^\]]+\]|[^:]+)', 1)), '^www\.', '') AS host,
        |      regexp_extract(hostport,
        |        '^(?:\[[^\]]+\]|[^:]+):([0-9]+)$', 1) AS port,
        |      regexp_replace(rawpath, '/+$', '') AS tpath,
        |      coalesce(array_to_string(
        |        list_sort(list_filter(string_split(query, '&'),
        |        x -> x <> '' AND NOT regexp_matches(x,
        |          '""" + graft.pipeline.Domains.TrackingParamPattern +
        """'))), '&'), '') AS q2
        |    FROM (
        |      SELECT doc_id, mt,
        |        lower(regexp_extract(url,
        |          '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |        regexp_extract(url,
        |          '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/?#]+)', 1)
        |          AS hostport,
        |        regexp_extract(url,
        |          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        |          AS rawpath,
        |        regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS query
        |      FROM u) parts) norm
        |), surv AS MATERIALIZED (
        |  SELECT doc_id, mt FROM (
        |    SELECT doc_id, mt, row_number() OVER (
        |      PARTITION BY canonical_url ORDER BY doc_id) AS rn
        |    FROM canon WHERE canonical_url IS NOT NULL) s
        |  WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, mt FROM canon WHERE canonical_url IS NULL
        |), shagg AS MATERIALIZED (
        |  SELECT shard, count(*) AS n_docs, sum(toks) AS n_tokens,
        |    sum(doc_id) AS id_sum
        |  FROM (
        |    SELECT (('0x' || substr(md5('shard:' || doc_id::VARCHAR),
        |      1, 8))::BIGINT % 8) AS shard, doc_id,
        |      coalesce(len(list_filter(string_split_regex(mt, '\s+'),
        |        x -> x <> '')), 0) AS toks
        |    FROM surv) sh GROUP BY 1
        |)
        |SELECT
        |  (SELECT count(*) FROM b1)::DOUBLE AS n_input,
        |  (SELECT coalesce(sum(removed), 0) FROM marked)::DOUBLE
        |    AS boiler_removed,
        |  (SELECT count(*) FROM nbkept)::DOUBLE AS nb_kept,
        |  (SELECT count(*) FROM perpkept)::DOUBLE AS perp_kept,
        |  (SELECT coalesce(sum(n_docs), 0) FROM shagg)::DOUBLE
        |    AS final_docs,
        |  (SELECT coalesce(sum(n_tokens), 0) FROM shagg)::DOUBLE
        |    AS final_tokens,
        |  (SELECT coalesce(sum(id_sum), 0) FROM shagg)::DOUBLE
        |    AS final_id_sum,
        |  (SELECT count(*) FROM shagg)::DOUBLE AS shards_nonempty,
        |  (SELECT coalesce(max(n_docs), 0) FROM shagg)::DOUBLE
        |    AS max_shard_docs,
        |  (SELECT coalesce(min(n_docs), 0) FROM shagg)::DOUBLE
        |    AS min_shard_docs""").stripMargin,

    // q97: char-n-gram NB language ID replayed end to end — the SAME
    // training seed (interpolated from LangId.DefaultSeed so the two
    // sides cannot drift), the same boundary-padded normalization, the
    // same 1-3 char-gram extraction (both engines substring by
    // CHARACTERS, so multi-byte scripts gram identically), Laplace
    // log-probs over the joint gram vocabulary, per-doc posterior sums,
    // and the same (score DESC, lang ASC) ranking — the q86 replay with
    // the featurizer swapped.
    "q97_langid_nb" -> {
      val seedValues = langIdSeedValuesSql
      val textCase = langIdTextCaseSql
      val langCase = langIdLangCaseSql
      (s"""WITH seeds(lang, txt) AS (VALUES
        |    $seedValues),
        |  fix AS (
        |    SELECT doc_id,
        |      CASE doc_id % 8
        |      $textCase
        |      END AS text,
        |      CASE doc_id % 8 $langCase END AS exp
        |    FROM documents WHERE doc_id IS NOT NULL),
        |  sn AS (
        |    SELECT lang, ' ' || regexp_replace(trim(lower(txt)),
        |      '\\s+', ' ', 'g') || ' ' AS t FROM seeds),
        |  sg AS (
        |    SELECT lang, substring(t, i::INT, nn.n) AS term
        |    FROM sn, (VALUES (1),(2),(3)) AS nn(n),
        |      unnest(range(1, length(t) - nn.n + 2)) AS r(i)),
        |  cnt AS (SELECT lang, term, count(*) AS c FROM sg GROUP BY 1, 2),
        |  voc AS (SELECT DISTINCT term FROM cnt),
        |  ctot AS (SELECT lang, sum(c) AS tot FROM cnt GROUP BY 1),
        |  lngs AS (SELECT DISTINCT lang FROM seeds),
        |  ndocs AS (SELECT lang, count(*) AS docs FROM seeds GROUP BY 1),
        |  mdl AS (
        |    SELECT voc.term, l.lang,
        |      ln((coalesce(cnt.c, 0) + 1.0) /
        |         (ctot.tot + (SELECT count(*) FROM voc))) AS lp
        |    FROM voc CROSS JOIN lngs l
        |    LEFT JOIN cnt ON cnt.term = voc.term AND cnt.lang = l.lang
        |    JOIN ctot ON ctot.lang = l.lang),
        |  pri AS (SELECT lang, ln(docs::DOUBLE /
        |    (SELECT count(*) FROM seeds)) AS lpr FROM ndocs),
        |  fn AS (
        |    SELECT doc_id, ' ' || regexp_replace(trim(lower(text)),
        |      '\\s+', ' ', 'g') || ' ' AS t FROM fix),
        |  fg AS (
        |    SELECT doc_id, substring(t, i::INT, nn.n) AS term
        |    FROM fn, (VALUES (1),(2),(3)) AS nn(n),
        |      unnest(range(1, length(t) - nn.n + 2)) AS r(i)),
        |  ftf AS (SELECT doc_id, term, count(*) AS tf FROM fg GROUP BY 1, 2),
        |  sll AS (
        |    SELECT f.doc_id, m.lang, sum(f.tf * m.lp) AS ll
        |    FROM ftf f JOIN mdl m USING (term) GROUP BY 1, 2),
        |  sc AS (
        |    SELECT d.doc_id, p.lang, p.lpr + coalesce(sll.ll, 0.0) AS score
        |    FROM (SELECT doc_id FROM fix) d
        |    CROSS JOIN pri p
        |    LEFT JOIN sll ON sll.doc_id = d.doc_id AND sll.lang = p.lang),
        |  rk AS (
        |    SELECT doc_id, lang, score, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
        |    FROM sc),
        |  win AS (
        |    SELECT a.doc_id, a.lang AS predicted, a.score,
        |      a.score - b.score AS margin
        |    FROM rk a JOIN rk b ON a.doc_id = b.doc_id AND b.rn = 2
        |    WHERE a.rn = 1)
        |SELECT w.predicted, count(*)::DOUBLE AS docs,
        |  sum(w.doc_id)::DOUBLE AS id_sum,
        |  count(CASE WHEN w.predicted <> f.exp THEN 1 END)::DOUBLE
        |    AS flipped,
        |  round(avg(w.margin), 6) AS avg_margin,
        |  CASE WHEN min(w.margin) >= 3.0 THEN 1.0 ELSE 0.0 END
        |    AS margin_ok
        |FROM win w JOIN fix f USING (doc_id)
        |GROUP BY 1""").stripMargin
    },

    // q98: the trigram KN model rebuilt from aggregates — identical
    // token stream, trigram tf, context/continuation/type counts
    // (count(DISTINCT) over the per-doc tf frame mirrors the engine's
    // first-row-flag window sums), the same two-level interpolation with
    // the same operand order, and the same rounded rollups (the q78
    // replay one order up).
    "q98_kneser_ney_trigram" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tgu AS (
        |  SELECT doc_id, unnest(list_zip(toks[1:len(toks)-2],
        |    toks[2:len(toks)-1], toks[3:len(toks)])) AS t
        |  FROM base WHERE len(toks) >= 3
        |), tf AS (
        |  SELECT doc_id, t[1] AS w1, t[2] AS w2, t[3] AS w3, count(*) AS tf
        |  FROM tgu GROUP BY 1, 2, 3, 4
        |), tric AS (SELECT w1, w2, w3, sum(tf) AS c FROM tf GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, sum(tf) AS c12, count(DISTINCT w3) AS n12dot
        |        FROM tf GROUP BY 1, 2),
        |types AS (SELECT DISTINCT w1, w2, w3 FROM tf),
        |cont23 AS (SELECT w2, w3, count(DISTINCT w1) AS ndot23
        |           FROM types GROUP BY 1, 2),
        |mid AS (SELECT w2, count(*) AS ndot2dot, count(DISTINCT w3) AS n2star
        |        FROM types GROUP BY 1),
        |suf2 AS (SELECT DISTINCT w2, w3 FROM tf),
        |last3 AS (SELECT w3, count(*) AS ndotdot3 FROM suf2 GROUP BY 1),
        |sc AS (SELECT count(*) AS ntypes FROM suf2),
        |doc AS (
        |  SELECT f.doc_id, sum(f.tf) AS nt,
        |    sum(-f.tf * ln(
        |      greatest(tc.c - 0.75, 0) / cx.c12
        |      + 0.75 * cx.n12dot / cx.c12 *
        |        (greatest(c23.ndot23 - 0.75, 0) / m.ndot2dot
        |         + 0.75 * m.n2star / m.ndot2dot
        |           * (l3.ndotdot3::DOUBLE / (SELECT ntypes FROM sc)))
        |    )) AS nll
        |  FROM tf f JOIN tric tc USING (w1, w2, w3)
        |    JOIN ctx cx USING (w1, w2)
        |    JOIN cont23 c23 USING (w2, w3)
        |    JOIN mid m USING (w2)
        |    JOIN last3 l3 USING (w3)
        |  GROUP BY 1
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |  coalesce(sum(nt), 0)::DOUBLE AS total_trigrams,
        |  round(sum(nll), 3)::DOUBLE AS sum_nll,
        |  round(avg(nll / nt), 6)::DOUBLE AS avg_h,
        |  round(min(nll / nt), 6)::DOUBLE AS min_h,
        |  round(max(nll / nt), 6)::DOUBLE AS max_h,
        |  sum(CASE WHEN nll / nt < 3.0 THEN 1 ELSE 0 END)::DOUBLE
        |    AS docs_low
        |FROM doc""".stripMargin,

    // q99: the q97 NB replay (scored once per DISTINCT fixture text —
    // all docs of a doc_id%8 class carry the same text) composed into
    // the q70 temperature-mixture replay, with the PREDICTED language as
    // the grouping key.
    "q99_langid_mixture" -> {
      val seedValues = langIdSeedValuesSql
      val textCase = langIdTextCaseSql
      (s"""WITH seeds(lang, txt) AS (VALUES
        |    $seedValues),
        |  sels AS (
        |    SELECT DISTINCT doc_id % 8 AS sel FROM documents
        |    WHERE doc_id IS NOT NULL),
        |  fixsel AS (
        |    SELECT sel,
        |      CASE sel
        |      $textCase
        |      END AS text
        |    FROM sels),
        |  sn AS (
        |    SELECT lang, ' ' || regexp_replace(trim(lower(txt)),
        |      '\\s+', ' ', 'g') || ' ' AS t FROM seeds),
        |  sg AS (
        |    SELECT lang, substring(t, i::INT, nn.n) AS term
        |    FROM sn, (VALUES (1),(2),(3)) AS nn(n),
        |      unnest(range(1, length(t) - nn.n + 2)) AS r(i)),
        |  cnt AS (SELECT lang, term, count(*) AS c FROM sg GROUP BY 1, 2),
        |  voc AS (SELECT DISTINCT term FROM cnt),
        |  ctot AS (SELECT lang, sum(c) AS tot FROM cnt GROUP BY 1),
        |  lngs AS (SELECT DISTINCT lang FROM seeds),
        |  ndocs AS (SELECT lang, count(*) AS docs FROM seeds GROUP BY 1),
        |  mdl AS (
        |    SELECT voc.term, l.lang,
        |      ln((coalesce(cnt.c, 0) + 1.0) /
        |         (ctot.tot + (SELECT count(*) FROM voc))) AS lp
        |    FROM voc CROSS JOIN lngs l
        |    LEFT JOIN cnt ON cnt.term = voc.term AND cnt.lang = l.lang
        |    JOIN ctot ON ctot.lang = l.lang),
        |  pri AS (SELECT lang, ln(docs::DOUBLE /
        |    (SELECT count(*) FROM seeds)) AS lpr FROM ndocs),
        |  fn AS (
        |    SELECT sel, ' ' || regexp_replace(trim(lower(text)),
        |      '\\s+', ' ', 'g') || ' ' AS t FROM fixsel),
        |  fg AS (
        |    SELECT sel, substring(t, i::INT, nn.n) AS term
        |    FROM fn, (VALUES (1),(2),(3)) AS nn(n),
        |      unnest(range(1, length(t) - nn.n + 2)) AS r(i)),
        |  ftf AS (SELECT sel, term, count(*) AS tf FROM fg GROUP BY 1, 2),
        |  sll AS (
        |    SELECT f.sel, m.lang, sum(f.tf * m.lp) AS ll
        |    FROM ftf f JOIN mdl m USING (term) GROUP BY 1, 2),
        |  sc AS (
        |    SELECT d.sel, p.lang, p.lpr + coalesce(sll.ll, 0.0) AS score
        |    FROM (SELECT sel FROM fixsel) d
        |    CROSS JOIN pri p
        |    LEFT JOIN sll ON sll.sel = d.sel AND sll.lang = p.lang),
        |  rk AS (
        |    SELECT sel, lang, score, row_number() OVER (
        |      PARTITION BY sel ORDER BY score DESC, lang ASC) AS rn
        |    FROM sc),
        |  predsel AS (SELECT sel, lang FROM rk WHERE rn = 1),
        |  h AS (
        |    SELECT d.doc_id, p.lang,
        |      substring(md5('graft:' || d.doc_id::VARCHAR), 1, 8) AS hh,
        |      coalesce(len(list_filter(string_split_regex(f.text, '\\s+'),
        |        x -> x <> '')), 0) AS toks
        |    FROM documents d
        |    JOIN fixsel f ON d.doc_id % 8 = f.sel
        |    JOIN predsel p ON p.sel = f.sel
        |    WHERE d.doc_id IS NOT NULL),
        |  ns AS (SELECT lang, sum(toks) AS n FROM h GROUP BY 1),
        |  z AS (SELECT sum(sqrt(n)) AS z FROM ns),
        |  b AS (SELECT lang,
        |          floor(10000 * sqrt(n) / (SELECT z FROM z))::BIGINT AS budget
        |        FROM ns),
        |  tb AS (
        |    SELECT * FROM (
        |      SELECT h.doc_id, h.lang, h.toks, b.budget,
        |             sum(h.toks) OVER (PARTITION BY h.lang
        |               ORDER BY h.hh, h.doc_id
        |               ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM h JOIN b USING (lang))
        |    WHERE cum <= budget)
        |SELECT b.lang, b.budget::DOUBLE AS budget,
        |       coalesce(t.k, 0)::DOUBLE AS kept_docs,
        |       coalesce(t.tk, 0)::DOUBLE AS kept_tokens,
        |       coalesce(t.ids, 0)::DOUBLE AS id_sum
        |FROM b LEFT JOIN (
        |  SELECT lang, count(*) AS k, sum(toks) AS tk,
        |         sum(doc_id) AS ids
        |  FROM tb GROUP BY 1) t USING (lang)
        |ORDER BY b.lang""").stripMargin
    },

    // q100: the q98 trigram-KN per-doc replay chained into the q83 ntile
    // replay — rank key (round(ce, 6), doc_id), short docs absent.
    "q100_trigram_perplexity_buckets" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tgu AS (
        |  SELECT doc_id, unnest(list_zip(toks[1:len(toks)-2],
        |    toks[2:len(toks)-1], toks[3:len(toks)])) AS t
        |  FROM base WHERE len(toks) >= 3
        |), tf AS (
        |  SELECT doc_id, t[1] AS w1, t[2] AS w2, t[3] AS w3, count(*) AS tf
        |  FROM tgu GROUP BY 1, 2, 3, 4
        |), tric AS (SELECT w1, w2, w3, sum(tf) AS c FROM tf GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, sum(tf) AS c12, count(DISTINCT w3) AS n12dot
        |        FROM tf GROUP BY 1, 2),
        |types AS (SELECT DISTINCT w1, w2, w3 FROM tf),
        |cont23 AS (SELECT w2, w3, count(DISTINCT w1) AS ndot23
        |           FROM types GROUP BY 1, 2),
        |mid AS (SELECT w2, count(*) AS ndot2dot, count(DISTINCT w3) AS n2star
        |        FROM types GROUP BY 1),
        |suf2 AS (SELECT DISTINCT w2, w3 FROM tf),
        |last3 AS (SELECT w3, count(*) AS ndotdot3 FROM suf2 GROUP BY 1),
        |sc AS (SELECT count(*) AS ntypes FROM suf2),
        |doc AS (
        |  SELECT f.doc_id, sum(f.tf) AS nt,
        |    sum(-f.tf * ln(
        |      greatest(tc.c - 0.75, 0) / cx.c12
        |      + 0.75 * cx.n12dot / cx.c12 *
        |        (greatest(c23.ndot23 - 0.75, 0) / m.ndot2dot
        |         + 0.75 * m.n2star / m.ndot2dot
        |           * (l3.ndotdot3::DOUBLE / (SELECT ntypes FROM sc)))
        |    )) AS nll
        |  FROM tf f JOIN tric tc USING (w1, w2, w3)
        |    JOIN ctx cx USING (w1, w2)
        |    JOIN cont23 c23 USING (w2, w3)
        |    JOIN mid m USING (w2)
        |    JOIN last3 l3 USING (w3)
        |  GROUP BY 1
        |), bk AS (
        |  SELECT dd.source, d.doc_id, d.nll / d.nt AS ce,
        |    ntile(3) OVER (PARTITION BY dd.source
        |      ORDER BY round(d.nll / d.nt, 6), d.doc_id) AS bucket
        |  FROM doc d JOIN documents dd USING (doc_id)
        |)
        |SELECT source, bucket::DOUBLE AS bucket, count(*)::DOUBLE AS docs,
        |  sum(doc_id)::DOUBLE AS id_sum,
        |  round(avg(ce), 6)::DOUBLE AS avg_h
        |FROM bk GROUP BY 1, 2""".stripMargin,

    // q101: the order-5 KN model rebuilt from grouped aggregates — the
    // strict suffix-type chain level by level (t5..t2 distinct-suffix
    // tables stand in for the engine's row_number-flag window sums),
    // the same four-level interpolation with the same operand order.
    "q101_kneser_ney_5gram" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), gu AS (
        |  SELECT doc_id, unnest(list_zip(toks[1:len(toks)-4],
        |    toks[2:len(toks)-3], toks[3:len(toks)-2], toks[4:len(toks)-1],
        |    toks[5:len(toks)])) AS t
        |  FROM base WHERE len(toks) >= 5
        |), tf AS (
        |  SELECT doc_id, t[1] AS w1, t[2] AS w2, t[3] AS w3, t[4] AS w4,
        |    t[5] AS w5, count(*) AS tf
        |  FROM gu GROUP BY 1, 2, 3, 4, 5, 6
        |), quin AS (
        |  SELECT w1, w2, w3, w4, w5, sum(tf) AS c FROM tf
        |  GROUP BY 1, 2, 3, 4, 5
        |), ctx5 AS (
        |  SELECT w1, w2, w3, w4, sum(tf) AS cc, count(DISTINCT w5) AS gam
        |  FROM tf GROUP BY 1, 2, 3, 4
        |), t5 AS (SELECT DISTINCT w1, w2, w3, w4, w5 FROM tf),
        |t4 AS (SELECT DISTINCT w2, w3, w4, w5 FROM tf),
        |t3 AS (SELECT DISTINCT w3, w4, w5 FROM tf),
        |t2 AS (SELECT DISTINCT w4, w5 FROM tf),
        |n4 AS (SELECT w2, w3, w4, w5, count(*) AS v FROM t5
        |       GROUP BY 1, 2, 3, 4),
        |d4 AS (SELECT w2, w3, w4, count(*) AS v FROM t5 GROUP BY 1, 2, 3),
        |g4 AS (SELECT w2, w3, w4, count(*) AS v FROM t4 GROUP BY 1, 2, 3),
        |n3 AS (SELECT w3, w4, w5, count(*) AS v FROM t4 GROUP BY 1, 2, 3),
        |d3 AS (SELECT w3, w4, count(*) AS v FROM t4 GROUP BY 1, 2),
        |g3 AS (SELECT w3, w4, count(*) AS v FROM t3 GROUP BY 1, 2),
        |n2 AS (SELECT w4, w5, count(*) AS v FROM t3 GROUP BY 1, 2),
        |d2 AS (SELECT w4, count(*) AS v FROM t3 GROUP BY 1),
        |g2 AS (SELECT w4, count(*) AS v FROM t2 GROUP BY 1),
        |n1 AS (SELECT w5, count(*) AS v FROM t2 GROUP BY 1),
        |den1 AS (SELECT count(*) AS v FROM t2),
        |doc AS (
        |  SELECT f.doc_id, sum(f.tf) AS nt,
        |    sum(-f.tf * ln(
        |      greatest(q.c - 0.75, 0) / c5.cc
        |      + 0.75 * c5.gam / c5.cc *
        |       (greatest(n4.v - 0.75, 0) / d4.v
        |        + 0.75 * g4.v / d4.v *
        |         (greatest(n3.v - 0.75, 0) / d3.v
        |          + 0.75 * g3.v / d3.v *
        |           (greatest(n2.v - 0.75, 0) / d2.v
        |            + 0.75 * g2.v / d2.v
        |              * (n1.v::DOUBLE / (SELECT v FROM den1)))))
        |    )) AS nll
        |  FROM tf f
        |    JOIN quin q USING (w1, w2, w3, w4, w5)
        |    JOIN ctx5 c5 USING (w1, w2, w3, w4)
        |    JOIN n4 USING (w2, w3, w4, w5)
        |    JOIN d4 USING (w2, w3, w4)
        |    JOIN g4 USING (w2, w3, w4)
        |    JOIN n3 USING (w3, w4, w5)
        |    JOIN d3 USING (w3, w4)
        |    JOIN g3 USING (w3, w4)
        |    JOIN n2 USING (w4, w5)
        |    JOIN d2 USING (w4)
        |    JOIN g2 USING (w4)
        |    JOIN n1 USING (w5)
        |  GROUP BY 1
        |)
        |SELECT count(*)::DOUBLE AS n_docs,
        |  coalesce(sum(nt), 0)::DOUBLE AS total_5grams,
        |  round(sum(nll), 3)::DOUBLE AS sum_nll,
        |  round(avg(nll / nt), 6)::DOUBLE AS avg_h,
        |  round(min(nll / nt), 6)::DOUBLE AS min_h,
        |  round(max(nll / nt), 6)::DOUBLE AS max_h,
        |  sum(CASE WHEN nll / nt < 1.0 THEN 1 ELSE 0 END)::DOUBLE
        |    AS docs_low
        |FROM doc""".stripMargin,

    "q102_kmeans" -> kmeansOracleSql(k = 4, iterations = 3),

    // q103: boring scalar SQL on the 1/1000 integer grid — one unnest
    // into explicit (id, i, x) rows per side, dots/norms via SUM(x*x)
    // GROUP BY joins (no list_inner_product), argmax via a plain
    // row_number window over the exact integer ranking key
    // sign(dq)·floorDiv(dq²·1000, |pq|²) (ties pid DESC), contamination
    // via the exact cross-multiplied-squares test 400·dq² >= 49·n2v·n2p
    // (tau² = 0.35² = 49/400 exactly). Every hashed value is 64-bit
    // integer arithmetic — bit-identical to
    // Similarity.decontaminateByEmbeddingGrid on any engine version.
    "q103_embedding_decontam" ->
      """WITH pe AS MATERIALIZED (
        |  SELECT pid, (u).i AS i, (u).x AS x FROM (
        |    SELECT vec_id AS pid, unnest(list_transform(range(1, len(v) + 1),
        |      j -> {'i': j, 'x': CAST(floor(v[j] * 1000 + 0.5) AS BIGINT)}))
        |      AS u
        |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |          WHERE vec_id % 29 = 0 AND embedding IS NOT NULL) pv)
        |), ce AS MATERIALIZED (
        |  SELECT vec_id, (u).i AS i, (u).x AS x FROM (
        |    SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
        |      j -> {'i': j, 'x': CAST(floor(v[j] * 1000 + 0.5) AS BIGINT)}))
        |      AS u
        |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |          WHERE vec_id % 29 <> 0 AND embedding IS NOT NULL) cv)
        |), pn AS (
        |  SELECT pid, sum(x * x)::BIGINT AS n2p FROM pe GROUP BY pid
        |), vn AS (
        |  SELECT vec_id, sum(x * x)::BIGINT AS n2v FROM ce GROUP BY vec_id
        |  HAVING sum(x * x) > 0
        |), d AS (
        |  SELECT ce.vec_id, pe.pid, sum(ce.x * pe.x)::BIGINT AS dq
        |  FROM ce JOIN pe USING (i)
        |  GROUP BY ce.vec_id, pe.pid
        |), sc AS (
        |  SELECT d.vec_id, d.pid, d.dq, pn.n2p,
        |    CASE WHEN d.dq >= 0 THEN (d.dq * d.dq * 1000) // pn.n2p
        |         ELSE -((d.dq * d.dq * 1000) // pn.n2p) END AS skey
        |  FROM d JOIN pn USING (pid)
        |), b AS (
        |  SELECT vec_id, pid AS best_probe, dq, n2p, skey
        |  FROM (SELECT sc.*, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY skey DESC, pid DESC) AS rn
        |        FROM sc) rk
        |  WHERE rn = 1
        |)
        |SELECT b.best_probe, count(*) AS n_rows,
        |  sum(CASE WHEN b.dq >= 0
        |            AND 400 * b.dq * b.dq >= 49 * vn.n2v * b.n2p
        |           THEN 1 ELSE 0 END)::BIGINT AS n_contam,
        |  coalesce(sum(CASE WHEN b.dq >= 0
        |                     AND 400 * b.dq * b.dq >= 49 * vn.n2v * b.n2p
        |                    THEN b.vec_id END), 0)::BIGINT AS contam_id_sum,
        |  sum(b.skey)::BIGINT AS key_sum
        |FROM b JOIN vn USING (vec_id)
        |GROUP BY b.best_probe""".stripMargin,

    // q104: the q54 injected-break paragraph frame; exact censuses plus
    // the q24-convention shingle-Jaccard pair audit on the doc_id<60
    // subset; flag columns assert the engine-side fuzzy invariants.
    "q104_fuzzy_para_dedup" ->
      """WITH pdocs AS (
        |  SELECT doc_id, string_split_regex(
        |           regexp_replace(text, '((?:[^ \t\n\x0B\f\r]+ ){3}[^ \t\n\x0B\f\r]+) ',
        |             '\1' || chr(10), 'g'), '\n+') AS ps
        |  FROM documents WHERE doc_id IS NOT NULL
        |), occ AS (
        |  SELECT doc_id, (u).pos AS pos, (u).para AS para FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
        |      i -> {'pos': i, 'para': trim(ps[i])})) AS u
        |    FROM pdocs)
        |  WHERE (u).para <> ''
        |), d AS (
        |  SELECT doc_id * 1048576 + pos AS pid,
        |    list_filter(string_split_regex(lower(para), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM occ WHERE doc_id < 60
        |), sh AS (
        |  SELECT pid, CASE WHEN len(ts) >= 3 THEN
        |      list_distinct(list_transform(range(len(ts) - 2),
        |        i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
        |    WHEN len(ts) > 0 THEN [array_to_string(ts, ' ')]
        |    ELSE []::VARCHAR[] END AS sh
        |  FROM d
        |), p AS (
        |  SELECT len(list_intersect(a.sh, b.sh))::DOUBLE
        |           / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS j
        |  FROM sh a JOIN sh b ON a.pid < b.pid)
        |SELECT
        |  (SELECT count(*) FROM pdocs)::DOUBLE AS n_docs,
        |  (SELECT count(*) FROM occ)::DOUBLE AS total_paras,
        |  ((SELECT count(*) FROM occ)
        |    - (SELECT count(DISTINCT para) FROM occ))::DOUBLE AS exact_removed,
        |  1.0::DOUBLE AS fuzzy_geq_exact,
        |  (SELECT count(*) FILTER (j >= 0.5) FROM p)::DOUBLE AS sub_exact_pairs,
        |  (SELECT count(*) FILTER (j >= 1.0) FROM p)::DOUBLE AS sub_ident_pairs,
        |  1.0::DOUBLE AS sub_ident_recall_ok,
        |  1.0::DOUBLE AS sub_recall_ok""".stripMargin,

    // q105: the full composition replayed — kmeans trajectory CTEs, then
    // the q70 budget/prefix chain keyed on the final assignment's cell.
    "q105_cluster_mix" ->
      (s"WITH ${kmeansCtes(k = 4, iterations = 3)}, " +
        raw"""h AS (
        |  SELECT d.doc_id, af.cell,
        |    substring(md5('graft:' || d.doc_id::VARCHAR), 1, 8) AS hh,
        |    coalesce(len(list_filter(string_split_regex(d.text, '\s+'),
        |      x -> x <> '')), 0) AS toks
        |  FROM documents d JOIN af ON af.vec_id = d.doc_id
        |  WHERE d.doc_id IS NOT NULL
        |), ns AS (SELECT cell, sum(toks) AS n FROM h GROUP BY 1),
        |z AS (SELECT sum(CASE WHEN n = 0 THEN 0 ELSE sqrt(n) END) AS z
        |      FROM ns),
        |b AS (SELECT cell,
        |        floor(20000 * (CASE WHEN n = 0 THEN 0 ELSE sqrt(n) END)
        |              / (SELECT z FROM z))::BIGINT AS budget
        |      FROM ns),
        |tb AS (
        |  SELECT * FROM (
        |    SELECT h.doc_id, h.cell, h.toks, b.budget,
        |           sum(h.toks) OVER (PARTITION BY h.cell
        |             ORDER BY h.hh, h.doc_id
        |             ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM h JOIN b USING (cell))
        |  WHERE cum <= budget)
        |SELECT b.cell, b.budget::DOUBLE AS budget,
        |       coalesce(t.k, 0)::DOUBLE AS kept_docs,
        |       coalesce(t.tk, 0)::DOUBLE AS kept_tokens,
        |       coalesce(t.ids, 0)::DOUBLE AS id_sum
        |FROM b LEFT JOIN (
        |  SELECT cell, count(*) AS k, sum(toks) AS tk,
        |         sum(doc_id) AS ids
        |  FROM tb GROUP BY 1) t USING (cell)""".stripMargin),

    // q106: the full GD trajectory replayed — featurize (md5-prefix
    // hashed, L1-normalized, intercept appended), 3 gradient-descent
    // iterations with the 1e-6 weight snap, corpus scoring, census.
    // Iteration CTEs are MATERIALIZED (the q94 lesson: DuckDB inlines
    // multiply-referenced CTEs, re-evaluating the chain exponentially).
    "q106_logreg_quality" -> {
      val iterCtes = (1 to 3).map { i =>
        s"""m$i AS MATERIALIZED (
           |  SELECT fx.doc_id, any_value(fx.y) AS y,
           |    1/(1+exp(-(sum(w${i - 1}.w * fx.x)))) AS p
           |  FROM fx JOIN w${i - 1} USING (f) GROUP BY fx.doc_id
           |), g$i AS MATERIALIZED (
           |  SELECT fx.f, sum((m.p - m.y) * fx.x) AS g
           |  FROM fx JOIN m$i m USING (doc_id) GROUP BY fx.f
           |), w$i AS MATERIALIZED (
           |  SELECT w.f,
           |    round(w.w - 0.5 * (coalesce(g.g, 0) / (SELECT n FROM ntr)),
           |          6) AS w
           |  FROM w${i - 1} w LEFT JOIN g$i g USING (f)
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH marked AS (
         |  SELECT doc_id,
         |    concat_ws(' ', text, CASE WHEN doc_id % 2 = 0
         |      THEN 'qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb'
         |      ELSE 'qtossa qtossb qtossa qtossb qtossa qtossb' END) AS text,
         |    CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents WHERE doc_id IS NOT NULL
         |), tr AS (
         |  SELECT * FROM marked WHERE doc_id % 10 < 2
         |), ntr AS (SELECT count(*) AS n FROM tr),
         |ttok AS (
         |  SELECT doc_id, y, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
         |  FROM tr
         |), tcnt AS (
         |  SELECT doc_id, any_value(y) AS y,
         |    (('0x' || substr(md5('feat:' || term), 1, 8))::BIGINT % 32)
         |      AS f,
         |    count(*) AS c
         |  FROM ttok GROUP BY doc_id, f
         |), ttot AS (SELECT doc_id, sum(c) AS tot FROM tcnt GROUP BY 1),
         |fx AS MATERIALIZED (
         |  SELECT t.doc_id, t.y, t.f, t.c::DOUBLE / tt.tot AS x
         |  FROM tcnt t JOIN ttot tt USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id, y, 32 AS f, 1.0 AS x FROM tr
         |), w0 AS (SELECT f, 0.0 AS w FROM range(33) t(f)),
         |$iterCtes,
         |stok AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
         |  FROM marked
         |), scnt AS (
         |  SELECT doc_id,
         |    (('0x' || substr(md5('feat:' || term), 1, 8))::BIGINT % 32)
         |      AS f,
         |    count(*) AS c
         |  FROM stok GROUP BY doc_id, f
         |), stot AS (SELECT doc_id, sum(c) AS tot FROM scnt GROUP BY 1),
         |sfx AS MATERIALIZED (
         |  SELECT s.doc_id, s.f, s.c::DOUBLE / st.tot AS x
         |  FROM scnt s JOIN stot st USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id, 32 AS f, 1.0 AS x FROM marked
         |), sl AS MATERIALIZED (
         |  SELECT sfx.doc_id, sum(w3.w * sfx.x) AS logit
         |  FROM sfx JOIN w3 USING (f) GROUP BY 1
         |), cen AS (
         |  SELECT count(*) AS n,
         |    sum(CASE WHEN s.logit >= 0 THEN 1 ELSE 0 END) AS p1,
         |    coalesce(sum(CASE WHEN s.logit >= 0 THEN s.doc_id END), 0)
         |      AS p1ids,
         |    count(CASE WHEN (CASE WHEN s.logit >= 0 THEN 1.0 ELSE 0.0 END)
         |      <> m.y THEN 1 END) AS flips,
         |    min(abs(s.logit)) AS minl
         |  FROM sl s JOIN marked m USING (doc_id))
         |SELECT w3.f::DOUBLE AS feat, w3.w AS w, cen.n::DOUBLE AS n_docs,
         |  cen.p1::DOUBLE AS pred1_docs, cen.p1ids::DOUBLE AS pred1_id_sum,
         |  cen.flips::DOUBLE AS flipped,
         |  CASE WHEN cen.minl >= 1.0e-9 THEN 1.0 ELSE 0.0 END AS logit_ok
         |FROM w3 CROSS JOIN cen""".stripMargin
    },

    // q107: the oracle computes the cell statistics from the FULL corpus
    // in one pass (assignment under the same min-id init centroids, the
    // q102 tie convention); Spark's output comes from the disk-staged
    // half-state merge — a match proves the monoid law through the
    // oracle. merge_ok mirrors the in-query census (constant 1.0 when
    // the law holds).
    // q107: boring scalar SQL on the integer grid — one unnest into
    // (vec_id, i, x), assignment keys via SUM(x*c) joins + a row_number
    // window, centroid components via the canonical floor-division,
    // every output column exact BIGINT (the q102 convention).
    "q107_kmeans_state" ->
      """WITH ex AS MATERIALIZED (
        |  SELECT vec_id, (u).i AS i, (u).x AS x FROM (
        |    SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
        |      j -> {'i': j, 'x': CAST(floor(v[j] * 1000 + 0.5) AS BIGINT)}))
        |      AS u
        |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |          WHERE embedding IS NOT NULL) vv)
        |), ids0 AS (
        |  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::INT
        |    AS cell
        |  FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
        |        ORDER BY vec_id LIMIT 4) kk
        |), c0 AS MATERIALIZED (
        |  SELECT ids0.cell, ex.i, ex.x * 1000 AS c
        |  FROM ids0 JOIN ex USING (vec_id)
        |), s1 AS (
        |  SELECT ex.vec_id, c.cell,
        |    2000 * sum(ex.x * c.c) - sum(c.c * c.c) AS key
        |  FROM ex JOIN c0 c USING (i)
        |  GROUP BY ex.vec_id, c.cell
        |), a1 AS MATERIALIZED (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY key DESC, cell DESC) AS rn
        |    FROM s1) rk
        |  WHERE rn = 1
        |), pv AS (
        |  SELECT vec_id, sum(x)::BIGINT AS sall, sum(x * x)::BIGINT AS n2v
        |  FROM ex GROUP BY vec_id
        |), st AS (
        |  SELECT a1.cell, count(*) AS n, sum(pv.sall)::BIGINT AS sum_all,
        |    sum(pv.n2v)::BIGINT AS sum_sq
        |  FROM a1 JOIN pv USING (vec_id) GROUP BY a1.cell
        |), md AS (
        |  SELECT a.cell, ex.i,
        |    CAST((1000 * sum(ex.x)
        |          - (((1000 * sum(ex.x)) % count(*) + count(*)) % count(*)))
        |         / count(*) AS BIGINT) AS c
        |  FROM a1 a JOIN ex USING (vec_id)
        |  GROUP BY a.cell, ex.i
        |), mn AS (
        |  SELECT cell, sum(c * c)::BIGINT AS c_norm2 FROM md GROUP BY cell
        |), cn0 AS (
        |  SELECT cell, sum(c * c)::BIGINT AS c_norm2 FROM c0 GROUP BY cell
        |)
        |SELECT cn0.cell, coalesce(st.n, 0)::BIGINT AS n_docs,
        |  coalesce(st.sum_all, 0)::BIGINT AS sum_all,
        |  coalesce(st.sum_sq, 0)::BIGINT AS sum_sq,
        |  coalesce(mn.c_norm2, cn0.c_norm2)::BIGINT AS c_norm2,
        |  1::BIGINT AS merge_ok
        |FROM cn0 LEFT JOIN st USING (cell) LEFT JOIN mn USING (cell)"""
        .stripMargin,

    // q108: the full reweighting trajectory replayed — corpus-LM
    // per-domain NLLs (rounded to the same grid BEFORE the chain, so
    // distributed float-sum order cannot leak in), five multiplicative-
    // update iterations with per-iteration snapping, final budget carve.
    "q108_domain_reweight" -> {
      val iterCtes = (1 to 5).map { t =>
        s"""b$t AS MATERIALIZED (
           |  SELECT d.source, w.a * exp(0.5 * (d.nll -
           |    (SELECT sum(w2.a * d2.nll)
           |     FROM w${t - 1} w2 JOIN dn d2 USING (source)))) AS u
           |  FROM dn d JOIN w${t - 1} w USING (source)
           |), w$t AS MATERIALIZED (
           |  SELECT source,
           |    round(0.9 * u / (SELECT sum(u) FROM b$t)
           |          + 0.1 / (SELECT k FROM kk), 6) AS a
           |  FROM b$t
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH tok AS (
         |  SELECT source, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
         |  FROM documents
         |  WHERE doc_id IS NOT NULL AND source IS NOT NULL
         |), tf AS (
         |  SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2
         |), ct AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
         |tt AS (SELECT sum(cnt) AS t FROM ct),
         |dn AS MATERIALIZED (
         |  SELECT tf.source, sum(tf.tf) AS tokens,
         |    round(sum(tf.tf * -ln(ct.cnt::DOUBLE / (SELECT t FROM tt)))
         |          / sum(tf.tf), 6) AS nll
         |  FROM tf JOIN ct USING (term) GROUP BY 1
         |), kk AS (SELECT count(*) AS k FROM dn),
         |w0 AS (SELECT source, round(1.0 / (SELECT k FROM kk), 6) AS a
         |       FROM dn),
         |$iterCtes
         |SELECT dn.source AS domain, dn.tokens::DOUBLE AS tokens,
         |  dn.nll AS nll_r, w5.a AS alpha,
         |  floor(20000.0 * w5.a / (SELECT sum(a) FROM w5)) AS budget
         |FROM dn JOIN w5 USING (source)""".stripMargin
    },

    // q109: exact replay of everything the sketch's superset property
    // makes exact — the above-threshold census and the top-10 with exact
    // counts; cms_ok mirrors Spark's sketch-side property flags.
    "q109_cms_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents WHERE doc_id IS NOT NULL
        |), tc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
        |nt AS (SELECT sum(cnt) AS n FROM tc),
        |th AS (SELECT greatest(1,
        |         ceil((SELECT n FROM nt) * 0.002))::BIGINT AS thr),
        |ab AS (SELECT count(*) AS k FROM tc
        |       WHERE cnt >= (SELECT thr FROM th))
        |SELECT rank::DOUBLE AS rank, term, cnt::DOUBLE AS cnt,
        |  (SELECT n FROM nt)::DOUBLE AS n_tokens,
        |  (SELECT thr FROM th)::DOUBLE AS thr,
        |  (SELECT k FROM ab)::DOUBLE AS n_above_thr,
        |  1.0 AS cms_ok
        |FROM (SELECT term, cnt, row_number() OVER (
        |        ORDER BY cnt DESC, term ASC) AS rank
        |      FROM tc WHERE cnt >= (SELECT thr FROM th))
        |WHERE rank <= 10""".stripMargin,

    // q110: the q49 census replayed (bloom false positives are removed by
    // the exact verify, so the numbers are identical by construction);
    // the two bloom-stage flags are Spark-side properties mirrored as 1.0.
    "q110_bloom_decontamination" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |         array_to_string(list_filter(string_split_regex(lower(text),
        |           '\s+'), x -> x <> ''), ' ') AS ntext
        |  FROM documents
        |), probes AS (
        |  SELECT DISTINCT array_to_string(
        |    (list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> ''))[6:18], ' ') AS probe
        |  FROM documents
        |  WHERE doc_id IN (20, 30, 45)
        |    AND len(list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> x <> '')) >= 18
        |), m AS (
        |  SELECT n.doc_id, count(DISTINCT p.probe) AS matches
        |  FROM norm n JOIN probes p
        |    ON contains(' ' || n.ntext || ' ', ' ' || p.probe || ' ')
        |  GROUP BY n.doc_id
        |)
        |SELECT (SELECT count(*) FROM probes)::DOUBLE AS n_probes,
        |       count(*)::DOUBLE AS contaminated_docs,
        |       sum(matches)::DOUBLE AS matched_ngrams,
        |       (SELECT count(*) FROM norm)::DOUBLE - count(*)::DOUBLE
        |         AS kept_docs,
        |       1.0::DOUBLE AS bloom_superset_ok,
        |       1.0::DOUBLE AS fp_bound_ok
        |FROM m""".stripMargin,

    // q111: the greedy WordPiece walk replayed word-for-word — a
    // recursive CTE where each step consumes the LONGEST matching piece
    // at (word, pos) (continuations matched with the ## convention), a
    // walk that dies before the end of the word makes the whole word one
    // [UNK]; the training first-merge replays the likelihood argmax over
    // the same case-preserved symbol histogram.
    "q111_wordpiece_tokens" -> {
      val vocabValues = WordPieceDemoVocab.toSeq.sorted
        .map(p => s"('$p')").mkString(", ")
      s"""WITH RECURSIVE words AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(concat_ws(' ', lower(text),
         |      CASE WHEN doc_id % 7 = 0 THEN 'x9z' END), '\\s+'),
         |      x -> x <> '')) AS w
         |  FROM documents
         |), dw AS MATERIALIZED (SELECT DISTINCT w FROM words),
         |vp AS (
         |  SELECT piece LIKE '##%' AS cont,
         |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece
         |      END AS body
         |  FROM (VALUES $vocabValues) t(piece)
         |),
         |seg AS (
         |  SELECT w, 1 AS pos, 0 AS n FROM dw
         |  UNION ALL
         |  SELECT s.w, s.pos + max(len(v.body)), s.n + 1
         |  FROM seg s JOIN vp v
         |    ON s.pos <= len(s.w)
         |    AND v.cont = (s.pos > 1)
         |    AND substr(s.w, s.pos, len(v.body)) = v.body
         |  GROUP BY s.w, s.pos, s.n
         |),
         |fin AS (
         |  SELECT s.w, s.pos, s.n
         |  FROM seg s JOIN (SELECT w, max(pos) AS mp FROM seg GROUP BY 1) m
         |    ON m.w = s.w AND s.pos = m.mp
         |), wp AS (
         |  SELECT w,
         |    CASE WHEN pos = len(w) + 1 THEN n ELSE 1 END AS pieces,
         |    CASE WHEN pos = len(w) + 1 THEN 0 ELSE 1 END AS unk
         |  FROM fin
         |), dwc AS (
         |  SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY 1, 2
         |), pd AS (
         |  SELECT d.doc_id, sum(p.pieces * d.cnt) AS pieces,
         |    sum(p.unk * d.cnt) AS unks
         |  FROM dwc d JOIN wp p USING (w) GROUP BY 1
         |),
         |tw AS (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
         |        x -> x <> '')) AS w FROM documents),
         |twc AS (SELECT w, count(*) AS c FROM tw GROUP BY 1),
         |sy AS (
         |  SELECT w, c, i,
         |    CASE WHEN i = 1 THEN w[i] ELSE '##' || w[i] END AS sym
         |  FROM (SELECT w, c, unnest(range(1, len(w) + 1)) AS i FROM twc)
         |),
         |sc AS (SELECT sym, sum(c) AS n FROM sy GROUP BY 1),
         |pc AS (
         |  SELECT a.sym AS l, b.sym AS r, sum(a.c) AS n
         |  FROM sy a JOIN sy b ON a.w = b.w AND b.i = a.i + 1
         |  GROUP BY 1, 2
         |),
         |fm AS (
         |  SELECT p.l || ' ' || p.r AS fm
         |  FROM pc p JOIN sc la ON la.sym = p.l JOIN sc lb ON lb.sym = p.r
         |  ORDER BY p.n::DOUBLE / (la.n * lb.n) DESC, p.l, p.r
         |  LIMIT 1
         |)
         |SELECT (SELECT count(*) FROM words)::DOUBLE AS ws_tokens,
         |  coalesce(sum(pieces), 0)::DOUBLE AS wp_pieces,
         |  coalesce(sum(unks), 0)::DOUBLE AS unk_words,
         |  coalesce(sum(doc_id * pieces), 0)::DOUBLE AS wp_id_weighted,
         |  (SELECT fm FROM fm) AS first_merge
         |FROM pd""".stripMargin
    },

    // q112: the whole four-stage pipeline replayed in one SQL program —
    // the q106 GD trajectory scores every doc, logit >= 0 survives; the
    // q49 containment census removes contaminated survivors; the q108
    // reweighting chain runs ON THE SURVIVING corpus; the q70 running-sum
    // prefix carves the learned budgets.
    "q112_curation_v3" -> {
      val gdCtes = (1 to 3).map { i =>
        s"""m$i AS MATERIALIZED (
           |  SELECT fx.doc_id, any_value(fx.y) AS y,
           |    1/(1+exp(-(sum(w${i - 1}.w * fx.x)))) AS p
           |  FROM fx JOIN w${i - 1} USING (f) GROUP BY fx.doc_id
           |), g$i AS MATERIALIZED (
           |  SELECT fx.f, sum((m.p - m.y) * fx.x) AS g
           |  FROM fx JOIN m$i m USING (doc_id) GROUP BY fx.f
           |), w$i AS MATERIALIZED (
           |  SELECT w.f,
           |    round(w.w - 0.5 * (coalesce(g.g, 0) / (SELECT n FROM ntr)),
           |          6) AS w
           |  FROM w${i - 1} w LEFT JOIN g$i g USING (f)
           |)""".stripMargin
      }.mkString(",\n")
      val rwCtes = (1 to 5).map { t =>
        s"""rb$t AS MATERIALIZED (
           |  SELECT d.source, w.a * exp(0.5 * (d.nll -
           |    (SELECT sum(w2.a * d2.nll)
           |     FROM rw${t - 1} w2 JOIN dn2 d2 USING (source)))) AS u
           |  FROM dn2 d JOIN rw${t - 1} w USING (source)
           |), rw$t AS MATERIALIZED (
           |  SELECT source,
           |    round(0.9 * u / (SELECT sum(u) FROM rb$t)
           |          + 0.1 / (SELECT k FROM kk2), 6) AS a
           |  FROM rb$t
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH marked AS (
         |  SELECT doc_id, source,
         |    concat_ws(' ', text, CASE WHEN doc_id % 2 = 0
         |      THEN 'qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb'
         |      ELSE 'qtossa qtossb qtossa qtossb qtossa qtossb' END) AS text,
         |    CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents WHERE doc_id IS NOT NULL
         |), tr AS (
         |  SELECT * FROM marked WHERE doc_id % 10 < 2
         |), ntr AS (SELECT count(*) AS n FROM tr),
         |ttok AS (
         |  SELECT doc_id, y, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
         |  FROM tr
         |), tcnt AS (
         |  SELECT doc_id, any_value(y) AS y,
         |    (('0x' || substr(md5('feat:' || term), 1, 8))::BIGINT % 32)
         |      AS f,
         |    count(*) AS c
         |  FROM ttok GROUP BY doc_id, f
         |), ttot AS (SELECT doc_id, sum(c) AS tot FROM tcnt GROUP BY 1),
         |fx AS MATERIALIZED (
         |  SELECT t.doc_id, t.y, t.f, t.c::DOUBLE / tt.tot AS x
         |  FROM tcnt t JOIN ttot tt USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id, y, 32 AS f, 1.0 AS x FROM tr
         |), w0 AS (SELECT f, 0.0 AS w FROM range(33) t(f)),
         |$gdCtes,
         |stok AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
         |  FROM marked
         |), scnt AS (
         |  SELECT doc_id,
         |    (('0x' || substr(md5('feat:' || term), 1, 8))::BIGINT % 32)
         |      AS f,
         |    count(*) AS c
         |  FROM stok GROUP BY doc_id, f
         |), stot AS (SELECT doc_id, sum(c) AS tot FROM scnt GROUP BY 1),
         |sfx AS MATERIALIZED (
         |  SELECT s.doc_id, s.f, s.c::DOUBLE / st.tot AS x
         |  FROM scnt s JOIN stot st USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id, 32 AS f, 1.0 AS x FROM marked
         |), sl AS MATERIALIZED (
         |  SELECT sfx.doc_id, sum(w3.w * sfx.x) AS logit
         |  FROM sfx JOIN w3 USING (f) GROUP BY 1
         |), s1 AS MATERIALIZED (
         |  SELECT m.doc_id, m.source, m.text,
         |    array_to_string(list_filter(string_split_regex(lower(m.text),
         |      '\\s+'), x -> x <> ''), ' ') AS ntext
         |  FROM marked m JOIN sl ON sl.doc_id = m.doc_id
         |  WHERE sl.logit >= 0
         |), probes AS (
         |  SELECT DISTINCT array_to_string(
         |    (list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> ''))[6:18], ' ') AS probe
         |  FROM marked
         |  WHERE doc_id IN (20, 30, 45)
         |    AND len(list_filter(string_split_regex(lower(text), '\\s+'),
         |          x -> x <> '')) >= 18
         |), s2 AS MATERIALIZED (
         |  SELECT doc_id, source, text FROM s1
         |  WHERE NOT EXISTS (SELECT 1 FROM probes p
         |    WHERE contains(' ' || s1.ntext || ' ', ' ' || p.probe || ' '))
         |), tok2 AS (
         |  SELECT source, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
         |  FROM s2
         |), tf2 AS (
         |  SELECT source, term, count(*) AS tf FROM tok2 GROUP BY 1, 2
         |), ct2 AS (SELECT term, sum(tf) AS cnt FROM tf2 GROUP BY 1),
         |tt2 AS (SELECT sum(cnt) AS t FROM ct2),
         |dn2 AS MATERIALIZED (
         |  SELECT tf2.source, sum(tf2.tf) AS tokens,
         |    round(sum(tf2.tf * -ln(ct2.cnt::DOUBLE / (SELECT t FROM tt2)))
         |          / sum(tf2.tf), 6) AS nll
         |  FROM tf2 JOIN ct2 USING (term) GROUP BY 1
         |), kk2 AS (SELECT count(*) AS k FROM dn2),
         |rw0 AS (SELECT source, round(1.0 / (SELECT k FROM kk2), 6) AS a
         |        FROM dn2),
         |$rwCtes,
         |bud AS (
         |  SELECT source,
         |    floor(20000.0 * a / (SELECT sum(a) FROM rw5))::BIGINT AS budget
         |  FROM rw5
         |), h AS (
         |  SELECT s2.doc_id, s2.source,
         |    substring(md5('graft:' || s2.doc_id::VARCHAR), 1, 8) AS hh,
         |    coalesce(len(list_filter(string_split_regex(s2.text, '\\s+'),
         |      x -> x <> '')), 0) AS toks
         |  FROM s2
         |), tb AS (
         |  SELECT * FROM (
         |    SELECT h.doc_id, h.source, h.toks, bud.budget,
         |           sum(h.toks) OVER (PARTITION BY h.source
         |             ORDER BY h.hh, h.doc_id
         |             ROWS UNBOUNDED PRECEDING) AS cum
         |    FROM h JOIN bud USING (source))
         |  WHERE cum <= budget
         |)
         |SELECT bud.source, bud.budget::DOUBLE AS budget,
         |  coalesce(t.k, 0)::DOUBLE AS kept_docs,
         |  coalesce(t.tk, 0)::DOUBLE AS kept_tokens,
         |  coalesce(t.ids, 0)::DOUBLE AS id_sum,
         |  (SELECT count(*) FROM s1)::DOUBLE AS after_quality,
         |  (SELECT count(*) FROM s2)::DOUBLE AS after_decontam
         |FROM bud LEFT JOIN (
         |  SELECT source, count(*) AS k, sum(toks) AS tk,
         |         sum(doc_id) AS ids
         |  FROM tb GROUP BY 1) t USING (source)""".stripMargin
    },

    // q113: equivalence classes, histogram, below-k mass, l-diversity and
    // the vulnerable-row id sum replayed from the same definitions;
    // parity_ok mirrors the engine's internal flag/aggregate agreement.
    "q113_k_anonymity" ->
      """WITH qi AS (
        |  SELECT c_custkey, c_nationkey,
        |    floor(c_acctbal / 500) AS bal_band, c_mktsegment
        |  FROM customer
        |), cls AS (
        |  SELECT c_nationkey, bal_band, count(*) AS sz,
        |    count(DISTINCT c_mktsegment) AS l
        |  FROM qi GROUP BY 1, 2
        |), hist AS (
        |  SELECT sz AS class_size, count(*) AS n_classes,
        |    sum(sz) AS n_rows
        |  FROM cls GROUP BY 1
        |), st AS (
        |  SELECT count(*) AS total_classes, min(sz) AS min_class_size,
        |    coalesce(sum(CASE WHEN sz < 5 THEN sz END), 0) AS below_k_rows,
        |    count(CASE WHEN sz < 5 THEN 1 END) AS below_k_classes,
        |    min(l) AS min_l,
        |    count(CASE WHEN l = 1 THEN 1 END) AS l1_classes
        |  FROM cls
        |), vul AS (
        |  SELECT coalesce(sum(q.c_custkey), 0) AS ids
        |  FROM qi q JOIN cls
        |    ON cls.c_nationkey IS NOT DISTINCT FROM q.c_nationkey
        |   AND cls.bal_band IS NOT DISTINCT FROM q.bal_band
        |  WHERE cls.sz < 5
        |)
        |SELECT h.class_size::DOUBLE AS class_size,
        |  h.n_classes::DOUBLE AS n_classes, h.n_rows::DOUBLE AS n_rows,
        |  st.total_classes::DOUBLE AS total_classes,
        |  st.min_class_size::DOUBLE AS min_class_size,
        |  st.below_k_rows::DOUBLE AS below_k_rows,
        |  st.below_k_classes::DOUBLE AS below_k_classes,
        |  st.min_l::DOUBLE AS min_l, st.l1_classes::DOUBLE AS l1_classes,
        |  (SELECT ids FROM vul)::DOUBLE AS below_k_id_sum,
        |  1.0::DOUBLE AS parity_ok
        |FROM hist h CROSS JOIN st""".stripMargin,

    // q114: the six predicates and the bitmask arithmetic replayed —
    // injections regenerated, rules as identical expressions (integer
    // word-length band, identical regexes), mask = Σ 2^i, per-rule and
    // total censuses from one masked table.
    "q114_filter_attribution" ->
      raw"""WITH injected AS (
        |  SELECT doc_id, concat_ws(' ', text,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN 'contact: user' || doc_id::VARCHAR || '@example.com' END,
        |    CASE WHEN doc_id % 13 = 0 THEN '{code}' END,
        |    CASE WHEN doc_id % 17 = 0 THEN 'lorem ipsum filler' END) AS text
        |  FROM documents WHERE doc_id IS NOT NULL
        |), m AS (
        |  SELECT doc_id,
        |    len(toks) AS nw, len(array_to_string(toks, '')) AS sumlen, t
        |  FROM (
        |    SELECT doc_id, coalesce(text, '') AS t,
        |      list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |        x -> x <> '') AS toks
        |    FROM injected)
        |), masked AS (
        |  SELECT doc_id,
        |    (CASE WHEN nw < 30 THEN 1 ELSE 0 END)
        |    + (CASE WHEN nw > 0 AND (sumlen < nw * 3 OR sumlen > nw * 10)
        |         THEN 2 ELSE 0 END)
        |    + (CASE WHEN NOT regexp_matches(t, '[.!?]\s*$$')
        |         THEN 4 ELSE 0 END)
        |    + (CASE WHEN regexp_matches(t,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
        |         THEN 8 ELSE 0 END)
        |    + (CASE WHEN contains(t, '{') OR contains(t, '}')
        |         THEN 16 ELSE 0 END)
        |    + (CASE WHEN contains(lower(t), 'lorem ipsum')
        |         THEN 32 ELSE 0 END) AS mask
        |  FROM m
        |), tot AS (
        |  SELECT count(*) AS n_docs,
        |    sum(CASE WHEN mask = 0 THEN 1 ELSE 0 END) AS kept_docs,
        |    sum(CASE WHEN mask <> 0 THEN 1 ELSE 0 END) AS dropped_docs,
        |    sum(CASE WHEN bit_count(mask::BIGINT) >= 2 THEN 1 ELSE 0 END)
        |      AS multi_reason_docs,
        |    coalesce(sum(doc_id * mask), 0) AS mask_id_weighted
        |  FROM masked
        |), names AS (
        |  SELECT * FROM (VALUES
        |    (0, 'too_few_words'), (1, 'word_len_out_of_band'),
        |    (2, 'no_terminal_punct'), (3, 'has_email'),
        |    (4, 'has_brace'), (5, 'lorem_boilerplate')) t(rule_idx, rule)
        |), per AS (
        |  SELECT n.rule_idx, n.rule,
        |    sum(CASE WHEN (mask // (1 << n.rule_idx)) % 2 = 1
        |        THEN 1 ELSE 0 END) AS fired_docs,
        |    coalesce(sum(CASE WHEN (mask // (1 << n.rule_idx)) % 2 = 1
        |        THEN doc_id END), 0) AS fired_id_sum,
        |    sum(CASE WHEN mask = (1 << n.rule_idx) THEN 1 ELSE 0 END)
        |      AS unique_docs
        |  FROM names n CROSS JOIN masked GROUP BY 1, 2
        |)
        |SELECT per.rule_idx::DOUBLE AS rule_idx, per.rule,
        |  per.fired_docs::DOUBLE AS fired_docs,
        |  per.fired_id_sum::DOUBLE AS fired_id_sum,
        |  per.unique_docs::DOUBLE AS unique_docs,
        |  tot.n_docs::DOUBLE AS n_docs,
        |  tot.kept_docs::DOUBLE AS kept_docs,
        |  tot.dropped_docs::DOUBLE AS dropped_docs,
        |  tot.multi_reason_docs::DOUBLE AS multi_reason_docs,
        |  tot.mask_id_weighted::DOUBLE AS mask_id_weighted
        |FROM per CROSS JOIN tot""".stripMargin,

    // q115: span excision replayed by token positions — match starts are
    // the positions whose 13-token slice equals a probe token list,
    // covered positions fan out from every start, kept text string_aggs
    // the uncovered positions in order, and the minimum affected doc's
    // reconstruction is pinned through md5.
    "q115_span_decontamination" ->
      raw"""WITH norm AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |    '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IS NOT NULL
        |), probes AS (
        |  SELECT DISTINCT list_filter(string_split_regex(lower(text),
        |    '\s+'), x -> x <> '')[6:18] AS ptoks
        |  FROM documents
        |  WHERE doc_id IN (20, 30, 45)
        |    AND len(list_filter(string_split_regex(lower(text), '\s+'),
        |          x -> x <> '')) >= 18
        |), st AS (
        |  SELECT n.doc_id, t.p
        |  FROM norm n, unnest(range(1, len(n.toks) - 11)) t(p), probes
        |  WHERE n.toks[t.p : t.p + 12] = probes.ptoks
        |), cov AS (
        |  SELECT DISTINCT doc_id, p + o.o AS i
        |  FROM st, unnest(range(0, 13)) o(o)
        |), rem AS (SELECT doc_id, count(*) AS removed FROM cov GROUP BY 1),
        |minaff AS (SELECT min(doc_id) AS d FROM rem WHERE removed > 0),
        |pos AS (
        |  SELECT doc_id, unnest(toks) AS tok,
        |    unnest(range(1, len(toks) + 1)) AS i
        |  FROM norm WHERE doc_id = (SELECT d FROM minaff)
        |), keptmin AS (
        |  SELECT md5(coalesce(string_agg(
        |    CASE WHEN c.i IS NULL THEN p.tok END, ' ' ORDER BY p.i), ''))
        |    AS h
        |  FROM pos p LEFT JOIN cov c
        |    ON c.doc_id = p.doc_id AND c.i = p.i
        |)
        |SELECT (SELECT count(*) FROM norm)::DOUBLE AS n_docs,
        |  (SELECT coalesce(sum(len(toks)), 0) FROM norm)::DOUBLE
        |    AS total_tokens,
        |  (SELECT coalesce(sum(removed), 0) FROM rem)::DOUBLE
        |    AS removed_tokens,
        |  (SELECT count(*) FROM rem)::DOUBLE AS affected_docs,
        |  (SELECT coalesce(sum(doc_id), 0) FROM rem)::DOUBLE
        |    AS affected_id_sum,
        |  coalesce((SELECT h FROM keptmin), '') AS kept_md5_min"""
        .stripMargin,

    // q116: injections regenerated with the same CASE priority, norms as
    // in-order list_inner_product folds over identical doubles.
    "q116_embedding_health" ->
      """WITH base AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), inj AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 101 = 0 THEN NULL
        |         WHEN vec_id % 97 = 0 THEN ['nan'::DOUBLE] || v[2:64]
        |         WHEN vec_id % 89 = 0 THEN list_transform(v, x -> 0.0)
        |         WHEN vec_id % 83 = 0 THEN v[1:63]
        |         ELSE v END AS v
        |  FROM base
        |), m AS (
        |  SELECT vec_id, v,
        |    v IS NULL AS is_null,
        |    v IS NOT NULL AND len(v) <> 64 AS wrong_dim,
        |    v IS NOT NULL AND len(v) = 64 AS shaped,
        |    v IS NOT NULL AND len(v) = 64 AND
        |      len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0
        |      AS nonfinite
        |  FROM inj
        |), c AS (
        |  SELECT *,
        |    shaped AND NOT nonfinite AS clean,
        |    CASE WHEN shaped AND NOT nonfinite
        |         THEN list_sum(list_transform(v, x -> x * x)) END AS norm2,
        |    CASE WHEN shaped AND NOT nonfinite
        |         THEN list_sum(list_transform(v,
        |           x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)
        |                * CAST(floor(x * 1000 + 0.5) AS BIGINT)))::BIGINT
        |         END AS n2q
        |  FROM m
        |)
        |SELECT count(*)::DOUBLE AS n_rows,
        |  sum(CASE WHEN is_null THEN 1 ELSE 0 END)::DOUBLE AS null_vecs,
        |  sum(CASE WHEN wrong_dim THEN 1 ELSE 0 END)::DOUBLE
        |    AS wrong_dim_vecs,
        |  sum(CASE WHEN nonfinite THEN 1 ELSE 0 END)::DOUBLE
        |    AS nonfinite_vecs,
        |  sum(CASE WHEN clean AND norm2 = 0 THEN 1 ELSE 0 END)::DOUBLE
        |    AS zero_vecs,
        |  sum(CASE WHEN clean THEN 1 ELSE 0 END)::DOUBLE AS clean_vecs,
        |  sum(CASE WHEN clean AND sqrt(norm2) >= 0.99
        |      AND sqrt(norm2) <= 1.01 THEN 1 ELSE 0 END)::DOUBLE
        |    AS unit_norm_vecs,
        |  min(n2q)::BIGINT AS min_n2q,
        |  max(n2q)::BIGINT AS max_n2q,
        |  coalesce(sum(n2q), 0)::BIGINT AS sum_n2q,
        |  1.0::DOUBLE AS norms_ok
        |FROM c""".stripMargin,

    // q117: injections regenerated with the same CASE priority via chr()
    // code points; the defect-class regexes are interpolated from the SAME
    // Scala values the engine compiles (explicit code points, RE2/Java-
    // compatible syntax), so the two engines run byte-identical patterns.
    "q117_encoding_health" -> {
      val moji = graft.pipeline.TextAnalysis.MojibakeSignatures
      val mojiSample = moji(0) + moji(7) + moji(14)
      val mojiPat = moji.mkString("(", "|", ")")
      val ctrlPat = graft.pipeline.TextAnalysis.CtrlPattern
      val zwPat = graft.pipeline.TextAnalysis.ZeroWidthPattern
      s"""WITH inj AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 101 = 0 THEN NULL
         |         WHEN doc_id % 97 = 0
         |           THEN text || ' ' || chr(65533) || chr(65533)
         |         WHEN doc_id % 89 = 0
         |           THEN text || chr(7) || chr(7) || chr(7)
         |         WHEN doc_id % 83 = 0
         |           THEN chr(8203) || text || chr(65279)
         |         WHEN doc_id % 79 = 0 THEN text || ' ' || '$mojiSample'
         |         WHEN doc_id % 71 = 0 THEN '   '
         |         ELSE text END AS t
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, t,
         |    t IS NULL AS is_null,
         |    t IS NOT NULL AND len(trim(t)) = 0 AS is_blank,
         |    CASE WHEN t IS NULL THEN 0
         |         ELSE len(regexp_extract_all(t, '\\x{FFFD}')) END AS repl,
         |    CASE WHEN t IS NULL THEN 0
         |         ELSE len(regexp_extract_all(t, '$ctrlPat')) END AS ctrl,
         |    CASE WHEN t IS NULL THEN 0
         |         ELSE len(regexp_extract_all(t, '$zwPat')) END AS zw,
         |    CASE WHEN t IS NULL THEN 0
         |         ELSE len(regexp_extract_all(t, '$mojiPat')) END AS moji
         |  FROM inj
         |), c AS (
         |  SELECT *,
         |    is_null OR is_blank OR repl > 0 OR ctrl > 0 OR zw > 0
         |      OR moji > 0 AS defective
         |  FROM m
         |)
         |SELECT count(*)::DOUBLE AS n_docs,
         |  sum(CASE WHEN is_null THEN 1 ELSE 0 END)::DOUBLE AS null_docs,
         |  sum(CASE WHEN is_blank THEN 1 ELSE 0 END)::DOUBLE AS blank_docs,
         |  sum(CASE WHEN repl > 0 THEN 1 ELSE 0 END)::DOUBLE AS repl_docs,
         |  sum(repl)::DOUBLE AS repl_chars,
         |  sum(CASE WHEN ctrl > 0 THEN 1 ELSE 0 END)::DOUBLE AS ctrl_docs,
         |  sum(ctrl)::DOUBLE AS ctrl_chars,
         |  sum(CASE WHEN zw > 0 THEN 1 ELSE 0 END)::DOUBLE AS zw_docs,
         |  sum(zw)::DOUBLE AS zw_chars,
         |  sum(CASE WHEN moji > 0 THEN 1 ELSE 0 END)::DOUBLE
         |    AS mojibake_docs,
         |  sum(moji)::DOUBLE AS mojibake_hits,
         |  sum(CASE WHEN NOT defective THEN 1 ELSE 0 END)::DOUBLE
         |    AS clean_docs,
         |  coalesce(sum(CASE WHEN defective THEN doc_id END), 0)::DOUBLE
         |    AS defective_id_sum
         |FROM c""".stripMargin
    },

    // q118: the as-of match replayed as a grouped left range join with a
    // lexicographic struct max — (ts, view_id) ordering reproduces the
    // engine's window tiebreak exactly; staleness in whole seconds via
    // int64 epoch arithmetic; value mass through DECIMAL(18,2).
    "q118_asof_attribution" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'
        |), views AS (
        |  SELECT event_id AS view_id, user_id, ts, value FROM events
        |  WHERE event_type = 'view'
        |), sel AS (
        |  SELECT c.event_id, c.user_id, c.ts,
        |    max(CASE WHEN v.view_id IS NULL THEN NULL
        |        ELSE struct_pack(ts := v.ts, vid := v.view_id,
        |                         val := v.value) END) AS best
        |  FROM clicks c LEFT JOIN views v
        |    ON v.user_id = c.user_id AND v.ts <= c.ts
        |  GROUP BY 1, 2, 3
        |), l AS (
        |  SELECT *,
        |    CASE WHEN best IS NULL THEN NULL
        |         ELSE (epoch_us(ts) - epoch_us(best.ts)) // 1000000
        |    END AS lag_s
        |  FROM sel
        |)
        |SELECT count(*)::DOUBLE AS n_clicks,
        |  sum(CASE WHEN best IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS matched,
        |  sum(CASE WHEN best IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS unmatched,
        |  coalesce(sum(CASE WHEN best IS NULL THEN event_id END), 0)
        |    ::DOUBLE AS unmatched_id_sum,
        |  coalesce(sum(best.vid), 0)::DOUBLE AS matched_view_id_sum,
        |  coalesce(sum(lag_s), 0)::DOUBLE AS sum_lag_s,
        |  round(coalesce(sum(best.val::DECIMAL(18,2)),
        |    0::DECIMAL(18,2)), 2)::DOUBLE AS matched_value_sum,
        |  sum(CASE WHEN lag_s <= 3600 THEN 1 ELSE 0 END)::DOUBLE
        |    AS matched_1h
        |FROM l""".stripMargin,

    // q119: the bin-bucketed range join replayed as a plain inequality
    // join (DuckDB plans IEJoin); all epoch arithmetic in int64 micros.
    "q119_range_join_incidents" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS p
        |  FROM events WHERE event_type = 'click'
        |), inc AS (
        |  SELECT event_id AS err_id, user_id, epoch_us(ts) AS lo,
        |    epoch_us(ts) + 21600000000 AS hi
        |  FROM events WHERE event_type = 'error'
        |), pr AS (
        |  SELECT c.click_id, c.p, i.err_id, i.lo
        |  FROM clicks c JOIN inc i
        |    ON c.user_id = i.user_id AND c.p >= i.lo AND c.p <= i.hi
        |), byint AS (
        |  SELECT err_id, count(*) AS hits FROM pr GROUP BY 1
        |)
        |SELECT
        |  (SELECT count(*) FROM clicks)::DOUBLE AS n_clicks,
        |  (SELECT count(*) FROM inc)::DOUBLE AS n_incidents,
        |  (SELECT coalesce(sum(hits), 0) FROM byint)::DOUBLE
        |    AS matched_pairs,
        |  (SELECT count(*) FROM byint)::DOUBLE AS intervals_hit,
        |  (SELECT coalesce(sum(err_id), 0) FROM byint)::DOUBLE
        |    AS hit_err_id_sum,
        |  (SELECT coalesce(max(hits), 0) FROM byint)::DOUBLE
        |    AS max_hits_one_interval,
        |  (SELECT count(DISTINCT click_id) FROM pr)::DOUBLE
        |    AS matched_clicks,
        |  (SELECT coalesce(sum(DISTINCT click_id), 0) FROM pr)::DOUBLE
        |    AS matched_click_id_sum,
        |  (SELECT coalesce(sum((p - lo) // 1000000), 0) FROM pr)::DOUBLE
        |    AS sum_offset_s""".stripMargin,

    // q120: the SCD2 build replayed with identical window specs;
    // IS DISTINCT FROM mirrors the engine's null-safe <=> negation.
    "q120_scd2_versions" ->
      """WITH ch AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type, event_id
        |  FROM events
        |), lagged AS (
        |  SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |  FROM ch
        |), surv AS (
        |  SELECT user_id, ts_us, event_type, event_id FROM lagged
        |  WHERE prev IS DISTINCT FROM event_type
        |), v AS (
        |  SELECT *, ts_us AS valid_from,
        |    lead(ts_us) OVER
        |      (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to,
        |    row_number() OVER
        |      (PARTITION BY user_id ORDER BY ts_us, event_id) AS version
        |  FROM surv
        |), snap AS (
        |  SELECT * FROM v
        |  WHERE valid_from <= 1705276800000000
        |    AND (valid_to IS NULL OR valid_to > 1705276800000000)
        |)
        |SELECT
        |  (SELECT count(*) FROM ch)::DOUBLE AS n_changes,
        |  (SELECT count(*) FROM v)::DOUBLE AS n_versions,
        |  (SELECT sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
        |   FROM v)::DOUBLE AS current_versions,
        |  (SELECT coalesce(sum(event_id), 0) FROM v)::DOUBLE
        |    AS version_eid_sum,
        |  (SELECT coalesce(max(version), 0) FROM v)::DOUBLE
        |    AS max_versions,
        |  (SELECT coalesce(sum((valid_to - valid_from) // 1000000), 0)
        |   FROM v)::DOUBLE AS closed_duration_s,
        |  (SELECT count(*) FROM snap)::DOUBLE AS snap_users,
        |  (SELECT coalesce(sum(user_id), 0) FROM snap)::DOUBLE
        |    AS snap_user_id_sum,
        |  (SELECT coalesce(sum(event_id), 0) FROM snap)::DOUBLE
        |    AS snap_eid_sum,
        |  (SELECT count(DISTINCT event_type) FROM snap)::DOUBLE
        |    AS snap_distinct_types""".stripMargin,

    // q121: the census replayed from the same count-of-counts histogram;
    // integer prefix sums, float ratios in the engine's exact op order.
    "q121_skew_census" ->
      """WITH base AS (
        |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |              ELSE o_custkey END AS k
        |  FROM orders
        |), counts AS (
        |  SELECT k, count(*) AS cnt FROM base GROUP BY k
        |), hist AS (
        |  SELECT cnt, count(*) AS keys,
        |    sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS nullkeys
        |  FROM counts GROUP BY cnt
        |), h AS (
        |  SELECT *,
        |    sum(keys) OVER (ORDER BY cnt) AS ckeys,
        |    sum(keys) OVER (ORDER BY cnt) - keys AS pkeys,
        |    sum(keys) OVER (ORDER BY cnt DESC) AS tkeys
        |  FROM hist
        |), tot AS (
        |  SELECT coalesce(sum(cnt * keys), 0) AS n_rows,
        |    coalesce(sum(keys), 0) AS n_keys,
        |    coalesce(sum(cnt * nullkeys), 0) AS null_rows,
        |    coalesce(max(cnt), 0) AS max_cnt,
        |    coalesce(sum(cnt * keys * (2 * pkeys + keys + 1) // 2), 0)
        |      AS s2
        |  FROM h
        |), top10 AS (
        |  SELECT coalesce(sum(cnt *
        |    least(keys, greatest(0, 10 - (tkeys - keys)))), 0) AS mass
        |  FROM h
        |)
        |SELECT
        |  n_rows::DOUBLE AS n_rows,
        |  n_keys::DOUBLE AS n_keys,
        |  null_rows::DOUBLE AS null_key_rows,
        |  max_cnt::DOUBLE AS max_cnt,
        |  (SELECT min(cnt) FROM h WHERE ckeys >= ceil(0.5 * tot.n_keys))
        |    ::DOUBLE AS p50_cnt,
        |  (SELECT min(cnt) FROM h WHERE ckeys >= ceil(0.9 * tot.n_keys))
        |    ::DOUBLE AS p90_cnt,
        |  (SELECT min(cnt) FROM h WHERE ckeys >= ceil(0.99 * tot.n_keys))
        |    ::DOUBLE AS p99_cnt,
        |  round(max_cnt::DOUBLE / n_rows::DOUBLE, 6) AS top1_share_r,
        |  round((SELECT mass FROM top10)::DOUBLE / n_rows::DOUBLE, 6)
        |    AS top10_share_r,
        |  round(2.0 * s2::DOUBLE / (n_keys::DOUBLE * n_rows::DOUBLE)
        |    - (n_keys + 1)::DOUBLE / n_keys::DOUBLE, 6) AS gini_r
        |FROM tot""".stripMargin,

    // q122: Morton interleave regenerated as the same 32-term
    // shift/mask/or expression; buckets and extents in pure int64.
    "q122_zorder_layout" -> {
      val zTerms = (0 until 16).flatMap(b => Seq(
        s"(((x >> $b) & 1) << ${2 * b})",
        s"(((y >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")
      s"""WITH dims AS (
         |  SELECT (o_custkey & 65535) AS x,
         |    ((o_orderdate::DATE - DATE '1992-01-01') & 65535) AS y
         |  FROM orders
         |), zd AS (
         |  SELECT x, y, ($zTerms) AS z FROM dims
         |), bounds AS (
         |  SELECT min(z) AS zlo, max(z) AS zhi,
         |    min(x) AS xlo, max(x) AS xhi
         |  FROM zd
         |), b AS (
         |  SELECT x, y, z,
         |    ((z - zlo) * 64) // (zhi - zlo + 1) AS zb,
         |    ((x - xlo) * 64) // (xhi - xlo + 1) AS xb
         |  FROM zd, bounds
         |), zbx AS (
         |  SELECT zb, max(x) - min(x) + 1 AS w, max(y) - min(y) + 1 AS h
         |  FROM b GROUP BY zb
         |), xbx AS (
         |  SELECT xb, max(x) - min(x) + 1 AS w, max(y) - min(y) + 1 AS h
         |  FROM b GROUP BY xb
         |)
         |SELECT
         |  (SELECT count(*) FROM b)::DOUBLE AS n_rows,
         |  (SELECT count(*) FROM zbx)::DOUBLE AS z_buckets,
         |  (SELECT round(sum(w)::DOUBLE / count(*)::DOUBLE, 3) FROM zbx)
         |    AS z_mean_w_r,
         |  (SELECT round(sum(h)::DOUBLE / count(*)::DOUBLE, 3) FROM zbx)
         |    AS z_mean_h_r,
         |  (SELECT count(*) FROM xbx)::DOUBLE AS x_buckets,
         |  (SELECT round(sum(w)::DOUBLE / count(*)::DOUBLE, 3) FROM xbx)
         |    AS x_mean_w_r,
         |  (SELECT round(sum(h)::DOUBLE / count(*)::DOUBLE, 3) FROM xbx)
         |    AS x_mean_h_r,
         |  (SELECT coalesce(sum(z), 0) FROM b)::DOUBLE AS sum_z,
         |  (SELECT coalesce(min(z), 0) FROM b)::DOUBLE AS min_z,
         |  (SELECT coalesce(max(z), 0) FROM b)::DOUBLE AS max_z""".stripMargin
    },

    // q123: the heap aggregate's contract replayed with the exact window
    // it replaces — same rows, same ranks, same (ntok desc, id asc) ties.
    "q123_top_docs_per_source" ->
      """WITH scored AS (
        |  SELECT source, doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> ''))::DOUBLE AS ntok
        |  FROM documents
        |), ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY source ORDER BY ntok DESC, doc_id ASC) AS rk
        |  FROM scored
        |)
        |SELECT source, doc_id, ntok, rk::DOUBLE AS rank
        |FROM ranked WHERE rk <= 5""".stripMargin,

    // q124: the PPS line replayed with a cumulative window (the oracle
    // may window; the engine may not) and the same closed-form probe
    // count — floor(y) < x for integer x iff y < x, so
    // #{j : (W*(2j+1)) div (2k) < x} = clamp((2kx - W - 1) // (2W) + 1).
    "q124_pps_sample" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    coalesce(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> ''))::BIGINT + 1, 0) AS w
        |  FROM documents WHERE doc_id IS NOT NULL
        |), c AS (
        |  SELECT doc_id, w,
        |    coalesce(sum(w) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS strt,
        |    (SELECT sum(w) FROM w) AS tw
        |  FROM w
        |), m AS (
        |  SELECT doc_id, w, strt,
        |    (CASE WHEN 1000 * (strt + w) - tw <= 0 THEN 0
        |          ELSE least(500, (1000 * (strt + w) - tw - 1)
        |            // (2 * tw) + 1) END)
        |    - (CASE WHEN 1000 * strt - tw <= 0 THEN 0
        |          ELSE least(500, (1000 * strt - tw - 1)
        |            // (2 * tw) + 1) END) AS mult
        |  FROM c
        |)
        |SELECT count(*)::DOUBLE AS n_rows,
        |  sum(w)::DOUBLE AS total_w,
        |  sum(mult)::DOUBLE AS k_hits,
        |  sum(CASE WHEN mult > 0 THEN 1 ELSE 0 END)::DOUBLE
        |    AS sampled_docs,
        |  coalesce(sum(CASE WHEN mult > 0 THEN doc_id END), 0)::DOUBLE
        |    AS sampled_id_sum,
        |  coalesce(max(mult), 0)::DOUBLE AS max_mult,
        |  coalesce(sum(CASE WHEN mult > 0 THEN w END), 0)::DOUBLE
        |    AS sampled_w_sum
        |FROM m""".stripMargin,

    // q125: both FD censuses replayed with the same two-level grouping
    // (pairs, then per-lhs stats) — null-safe by construction.
    "q125_fd_audit" -> {
      def fdCtes(rhs: String, p: String) =
        s"""${p}_pairs AS (
           |  SELECT l_orderkey, $rhs AS r, count(*) AS c
           |  FROM lineitem GROUP BY 1, 2
           |), ${p}_groups AS (
           |  SELECT l_orderkey, count(*) AS dv, sum(c) AS rows_,
           |    max(c) AS maxc
           |  FROM ${p}_pairs GROUP BY 1
           |), ${p}_census AS (
           |  SELECT coalesce(sum(rows_), 0)::DOUBLE AS ${p}_n_rows,
           |    count(*)::DOUBLE AS ${p}_n_groups,
           |    sum(CASE WHEN dv > 1 THEN 1 ELSE 0 END)::DOUBLE
           |      AS ${p}_violating_groups,
           |    coalesce(sum(CASE WHEN dv > 1 THEN rows_ ELSE 0 END), 0)
           |      ::DOUBLE AS ${p}_violating_rows,
           |    coalesce(sum(rows_ - maxc), 0)::DOUBLE AS ${p}_repair_rows
           |  FROM ${p}_groups
           |)""".stripMargin
      s"""WITH ${fdCtes("l_suppkey", "fd1")},
         |${fdCtes("l_returnflag", "fd2")}
         |SELECT * FROM fd1_census, fd2_census""".stripMargin
    },

    // q126: the overlap join replayed as a plain inequality join; whole-
    // second overlap durations via int64 epoch min/max arithmetic.
    "q126_interval_overlap" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vlo,
        |    epoch_us(ts) + 3600000000 AS vhi
        |  FROM events WHERE event_type = 'view'
        |), e AS (
        |  SELECT event_id AS err_id, user_id, epoch_us(ts) AS elo,
        |    epoch_us(ts) + 21600000000 AS ehi
        |  FROM events WHERE event_type = 'error'
        |), pr AS (
        |  SELECT v.view_id, e.err_id,
        |    (least(v.vhi, e.ehi) - greatest(v.vlo, e.elo)) // 1000000
        |      AS overlap_s
        |  FROM v JOIN e
        |    ON v.user_id = e.user_id
        |    AND v.vlo <= e.ehi AND e.elo <= v.vhi
        |)
        |SELECT
        |  (SELECT count(*) FROM v)::DOUBLE AS n_views,
        |  (SELECT count(*) FROM e)::DOUBLE AS n_incidents,
        |  count(*)::DOUBLE AS overlap_pairs,
        |  count(DISTINCT view_id)::DOUBLE AS views_in_overlap,
        |  coalesce(sum(DISTINCT view_id), 0)::DOUBLE AS view_id_sum,
        |  count(DISTINCT err_id)::DOUBLE AS errs_in_overlap,
        |  coalesce(sum(DISTINCT err_id), 0)::DOUBLE AS err_id_sum,
        |  coalesce(sum(overlap_s), 0)::DOUBLE AS overlap_s_sum
        |FROM pr""".stripMargin,

    // q127: sessionization replayed with identical lag + running-sum
    // windows; strict-gap semantics, integer-second durations.
    "q127_sessionize" ->
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
        |), g AS (
        |  SELECT *, ts_us - lag(ts_us) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
        |  FROM base
        |), s AS (
        |  SELECT *, sum(CASE WHEN gap IS NULL OR gap > 1800000000
        |    THEN 1 ELSE 0 END) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g
        |), st AS (
        |  SELECT user_id, sid, count(*) AS ne,
        |    max(ts_us) - min(ts_us) AS dur
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT
        |  (SELECT count(*) FROM s)::DOUBLE AS n_events,
        |  (SELECT coalesce(sum(sid), 0) FROM s)::DOUBLE
        |    AS event_sid_sum,
        |  (SELECT count(*) FROM st)::DOUBLE AS n_sessions,
        |  (SELECT sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) FROM st)
        |    ::DOUBLE AS singleton_sessions,
        |  (SELECT coalesce(max(ne), 0) FROM st)::DOUBLE
        |    AS max_session_events,
        |  (SELECT coalesce(sum(dur // 1000000), 0) FROM st)::DOUBLE
        |    AS sum_duration_s""".stripMargin,

    // q128: the funnel recurrence replayed as chained earliest-after
    // aggregations — textbook ANSI SQL, no window needed.
    "q128_funnel" ->
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
        |), s0 AS (
        |  SELECT user_id, min(ts_us) AS t0 FROM base
        |  WHERE event_type = 'signup' GROUP BY 1
        |), s1 AS (
        |  SELECT b.user_id, min(b.ts_us) AS t1 FROM base b
        |  JOIN s0 ON b.user_id = s0.user_id
        |  WHERE b.event_type = 'view' AND b.ts_us > s0.t0 GROUP BY 1
        |), s2 AS (
        |  SELECT b.user_id, min(b.ts_us) AS t2 FROM base b
        |  JOIN s1 ON b.user_id = s1.user_id
        |  WHERE b.event_type = 'click' AND b.ts_us > s1.t1 GROUP BY 1
        |), s3 AS (
        |  SELECT b.user_id, min(b.ts_us) AS t3 FROM base b
        |  JOIN s2 ON b.user_id = s2.user_id
        |  WHERE b.event_type = 'purchase' AND b.ts_us > s2.t2 GROUP BY 1
        |), f AS (
        |  SELECT s0.user_id, t0, t1, t2, t3
        |  FROM s0 LEFT JOIN s1 USING (user_id)
        |    LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |)
        |SELECT
        |  sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS step0_users,
        |  sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS step1_users,
        |  sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS step2_users,
        |  sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS step3_users,
        |  coalesce(sum((t1 - t0) // 1000000), 0)::DOUBLE AS step1_lag_s,
        |  coalesce(sum((t2 - t1) // 1000000), 0)::DOUBLE AS step2_lag_s,
        |  coalesce(sum((t3 - t2) // 1000000), 0)::DOUBLE AS step3_lag_s
        |FROM f""".stripMargin,

    // q129: cohort matrix replayed with the same two slim groupings.
    "q129_cohort_retention" ->
      """WITH base AS (
        |  SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS p
        |  FROM events
        |), coh AS (
        |  SELECT user_id, min(p) AS cohort FROM base GROUP BY 1
        |), act AS (
        |  SELECT DISTINCT user_id, p FROM base
        |)
        |SELECT coh.cohort::DOUBLE AS cohort,
        |  (act.p - coh.cohort)::DOUBLE AS offset,
        |  count(*)::DOUBLE AS active_keys
        |FROM act JOIN coh ON act.user_id = coh.user_id
        |GROUP BY 1, 2""".stripMargin,

    // q130: the salted join's contract IS the plain inner join.
    "q130_salted_join" ->
      """SELECT count(*)::DOUBLE AS n_joined,
        |  coalesce(sum(o.o_custkey), 0)::DOUBLE AS custkey_sum,
        |  round(coalesce(sum(l.l_quantity::DECIMAL(18,2)),
        |    0::DECIMAL(18,2)), 2)::DOUBLE AS qty_sum,
        |  count(DISTINCT l.l_orderkey)::DOUBLE AS distinct_orders
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""
        .stripMargin,

    // q131: the bloom semi-join's contract IS the plain EXISTS semi.
    "q131_bloom_semijoin" ->
      """SELECT count(*)::DOUBLE AS n_rows,
        |  count(DISTINCT l_orderkey)::DOUBLE AS distinct_orders,
        |  coalesce(sum(DISTINCT l_orderkey), 0)::DOUBLE AS order_id_sum,
        |  round(coalesce(sum(l_extendedprice::DECIMAL(18,2)),
        |    0::DECIMAL(18,2)), 2)::DOUBLE AS price_sum
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = lineitem.l_orderkey
        |    AND o.o_orderpriority = '1-URGENT')""".stripMargin,

    // q132: the incremental build is pinned row-for-row equal to the
    // full rebuild by the engine-side merge_ok flag (asserted 1.0), so
    // the oracle replays the FULL-stream SCD2 census with q120's window
    // specs plus the batch_opened slice.
    "q132_scd2_incremental" ->
      """WITH ch AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type, event_id
        |  FROM events
        |), lagged AS (
        |  SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |  FROM ch
        |), surv AS (
        |  SELECT user_id, ts_us, event_type, event_id FROM lagged
        |  WHERE prev IS DISTINCT FROM event_type
        |), v AS (
        |  SELECT *, ts_us AS valid_from,
        |    lead(ts_us) OVER
        |      (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to,
        |    row_number() OVER
        |      (PARTITION BY user_id ORDER BY ts_us, event_id) AS version
        |  FROM surv
        |)
        |SELECT
        |  count(*)::DOUBLE AS n_versions,
        |  sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS current_versions,
        |  coalesce(sum(event_id), 0)::DOUBLE AS version_eid_sum,
        |  coalesce(max(version), 0)::DOUBLE AS max_versions,
        |  coalesce(sum((valid_to - valid_from) // 1000000), 0)::DOUBLE
        |    AS closed_duration_s,
        |  sum(CASE WHEN valid_from > 1705276800000000 THEN 1 ELSE 0 END)
        |    ::DOUBLE AS batch_opened,
        |  1.0::DOUBLE AS merge_ok
        |FROM v""".stripMargin,

    // q133: the engine-side parity flag (asserted 1.0) pins the fuzzy
    // incremental pass to shingle-set-identity dedup (structural at
    // threshold 0.8 on <=4-token paragraphs), so the oracle replays the
    // identity dedup: history keys from docs < 300, batch first-
    // occurrence election by (doc, pos), census over the kept set.
    "q133_incremental_para_dedup" ->
      """WITH pdocs AS (
        |  SELECT doc_id, string_split_regex(
        |           regexp_replace(text, '((?:[^ \t\n\x0B\f\r]+ ){3}[^ \t\n\x0B\f\r]+) ',
        |             '\1' || chr(10), 'g'), '\n+') AS ps
        |  FROM documents WHERE doc_id IS NOT NULL
        |), occ AS (
        |  SELECT doc_id, (u).pos AS pos, (u).para AS para FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
        |      i -> {'pos': i, 'para': trim(ps[i])})) AS u
        |    FROM pdocs)
        |  WHERE (u).para <> ''
        |), keyed AS (
        |  SELECT doc_id, pos,
        |    list_sort(CASE WHEN len(ts) >= 3 THEN
        |        list_distinct(list_transform(range(len(ts) - 2),
        |          i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
        |      WHEN len(ts) > 0 THEN [array_to_string(ts, ' ')]
        |      ELSE []::VARCHAR[] END) AS key
        |  FROM (SELECT doc_id, pos,
        |          list_filter(string_split_regex(lower(para), '\s+'),
        |            x -> x <> '') AS ts
        |        FROM occ)
        |), hk AS (
        |  SELECT DISTINCT key FROM keyed WHERE doc_id < 300
        |), bk AS (
        |  SELECT doc_id, pos, key, doc_id * 1048576 + pos AS pk
        |  FROM keyed WHERE doc_id >= 250 AND doc_id < 350
        |), firsts AS (
        |  SELECT key, min(pk) AS f FROM bk GROUP BY key
        |), kept AS (
        |  SELECT bk.doc_id, bk.pos FROM bk
        |  JOIN firsts ON bk.key = firsts.key AND bk.pk = firsts.f
        |  WHERE NOT EXISTS (SELECT 1 FROM hk WHERE hk.key = bk.key)
        |)
        |SELECT
        |  (SELECT count(*) FROM pdocs
        |   WHERE doc_id >= 250 AND doc_id < 350)::DOUBLE AS n_batch_docs,
        |  (SELECT count(*) FROM bk)::DOUBLE AS total_paras,
        |  (SELECT count(*) FROM kept)::DOUBLE AS kept_paras,
        |  ((SELECT count(*) FROM bk) - (SELECT count(*) FROM kept))::DOUBLE
        |    AS removed_paras,
        |  (SELECT count(*) FROM kept WHERE doc_id < 300)::DOUBLE
        |    AS recrawl_kept,
        |  (SELECT coalesce(sum(doc_id), 0) FROM kept)::DOUBLE
        |    AS kept_id_sum,
        |  1.0::DOUBLE AS parity_ok""".stripMargin,

    // q134: byte-level replay — hex(encode(w)) byte symbols through the
    // generated fixpoint replace chain; first merge re-derived as the
    // weighted argmax adjacent byte pair (ties by smallest bytes).
    "q134_byte_bpe_tokens" ->
      s"""WITH RECURSIVE $byteBpeSegCtes,
         |bp AS (
         |  SELECT lower(substring(hx, (2 * i + 1)::INT, 2)) AS a,
         |         lower(substring(hx, (2 * i + 3)::INT, 2)) AS b,
         |         count(*) AS c
         |  FROM (SELECT hex(encode(w)) AS hx,
         |               unnest(range(octet_length(encode(w)) - 1)) AS i
         |        FROM w WHERE octet_length(encode(w)) >= 2)
         |  GROUP BY 1, 2),
         |fm AS (SELECT a || ' ' || b AS m FROM bp
         |       ORDER BY c DESC, a, b LIMIT 1)
         |SELECT (SELECT count(*) FROM w)::DOUBLE AS ws_tokens,
         |       (SELECT sum(s.c) FROM w JOIN seg s USING (w))::DOUBLE
         |         AS bbpe_tokens,
         |       (SELECT sum(w.doc_id * s.c)
         |        FROM w JOIN seg s USING (w))::DOUBLE AS bbpe_id_weighted,
         |       (SELECT m FROM fm) AS first_merge""".stripMargin,

    // q135: the q81 mixture replay fed by the byte-BPE segmentation.
    "q135_byte_bpe_mixture" ->
      s"""WITH RECURSIVE $byteBpeSegCtes,
         |dc AS (SELECT w.doc_id, sum(s.c) AS toks
         |       FROM w JOIN seg s USING (w) GROUP BY 1),
         |h AS (
         |  SELECT d.doc_id, d.source,
         |         substring(md5('graft:' || d.doc_id::VARCHAR), 1, 8) AS hh,
         |         coalesce(dc.toks, 0) AS toks
         |  FROM documents d LEFT JOIN dc ON d.doc_id = dc.doc_id),
         |ns AS (SELECT source, sum(toks) AS n FROM h
         |       WHERE source IS NOT NULL GROUP BY 1),
         |z AS (SELECT sum(sqrt(n)) AS z FROM ns),
         |b AS (SELECT source,
         |        floor(10000 * sqrt(n) / (SELECT z FROM z))::BIGINT AS budget
         |      FROM ns),
         |tb AS (
         |  SELECT * FROM (
         |    SELECT h.doc_id, h.source, h.toks, b.budget,
         |           sum(h.toks) OVER (PARTITION BY h.source
         |             ORDER BY h.hh, h.doc_id
         |             ROWS UNBOUNDED PRECEDING) AS cum
         |    FROM h JOIN b USING (source))
         |  WHERE cum <= budget)
         |SELECT b.source, b.budget::DOUBLE AS budget,
         |       coalesce(t.k, 0)::DOUBLE AS kept_docs,
         |       coalesce(t.tk, 0)::DOUBLE AS kept_bbpe_tokens,
         |       coalesce(t.ids, 0)::DOUBLE AS id_sum
         |FROM b LEFT JOIN (
         |  SELECT source, count(*) AS k, sum(toks) AS tk,
         |         sum(doc_id) AS ids
         |  FROM tb GROUP BY 1) t USING (source)
         |ORDER BY b.source""".stripMargin,

    // q137: the engine-side merge_ok flag (asserted 1.0) pins the
    // incremental build to the full rebuild, so the oracle replays the
    // q127 full-stream sessionization and its census plus the
    // boundary-spanning/batch-opened slices.
    "q137_sessionize_incremental" ->
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
        |), g AS (
        |  SELECT *, ts_us - lag(ts_us) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
        |  FROM base
        |), s AS (
        |  SELECT *, sum(CASE WHEN gap IS NULL OR gap > 1800000000
        |    THEN 1 ELSE 0 END) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g
        |), st AS (
        |  SELECT user_id, sid, count(*) AS ne,
        |    min(ts_us) AS ss, max(ts_us) AS se
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT
        |  count(*)::DOUBLE AS n_sessions,
        |  coalesce(sum(ne), 0)::DOUBLE AS n_events,
        |  coalesce(max(sid), 0)::DOUBLE AS max_sessions_per_key,
        |  coalesce(sum((se - ss) // 1000000), 0)::DOUBLE AS duration_s,
        |  sum(CASE WHEN ss <= 1705276800000000 AND se > 1705276800000000
        |      THEN 1 ELSE 0 END)::DOUBLE AS boundary_spanning,
        |  sum(CASE WHEN ss > 1705276800000000 THEN 1 ELSE 0 END)::DOUBLE
        |    AS batch_opened,
        |  1.0::DOUBLE AS merge_ok
        |FROM st""".stripMargin,

    // q138: the merged activity state is pinned to the full-stream state
    // by merge_ok, so the oracle replays the q129 matrix and its masses
    // from the full stream.
    "q138_cohort_incremental" ->
      """WITH base AS (
        |  SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS p
        |  FROM events
        |), act AS (
        |  SELECT DISTINCT user_id, p FROM base
        |), coh AS (
        |  SELECT user_id, min(p) AS cohort FROM act GROUP BY 1
        |), m AS (
        |  SELECT coh.cohort, act.p - coh.cohort AS off,
        |    count(*) AS active_keys
        |  FROM act JOIN coh ON act.user_id = coh.user_id
        |  GROUP BY 1, 2
        |)
        |SELECT
        |  (SELECT count(*) FROM m)::DOUBLE AS matrix_cells,
        |  (SELECT coalesce(sum(active_keys), 0) FROM m)::DOUBLE
        |    AS active_mass,
        |  (SELECT coalesce(sum(cohort * active_keys), 0) FROM m)::DOUBLE
        |    AS cohort_mass,
        |  (SELECT coalesce(sum(off * active_keys), 0) FROM m)::DOUBLE
        |    AS offset_mass,
        |  (SELECT coalesce(max(off), 0) FROM m)::DOUBLE AS max_offset,
        |  (SELECT count(*) FROM act)::DOUBLE AS state_rows,
        |  1.0::DOUBLE AS merge_ok""".stripMargin,

    // q139: merged state == full state is pinned engine-side (merge_ok),
    // so the oracle replays q121's census on the full stream — identical
    // CTEs and op order — plus the flag.
    "q139_skew_census_incremental" ->
      """WITH base AS (
        |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |              ELSE o_custkey END AS k
        |  FROM orders
        |), counts AS (
        |  SELECT k, count(*) AS cnt FROM base GROUP BY k
        |), hist AS (
        |  SELECT cnt, count(*) AS keys,
        |    sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS nullkeys
        |  FROM counts GROUP BY cnt
        |), h AS (
        |  SELECT *,
        |    sum(keys) OVER (ORDER BY cnt) AS ckeys,
        |    sum(keys) OVER (ORDER BY cnt) - keys AS pkeys,
        |    sum(keys) OVER (ORDER BY cnt DESC) AS tkeys
        |  FROM hist
        |), tot AS (
        |  SELECT coalesce(sum(cnt * keys), 0) AS n_rows,
        |    coalesce(sum(keys), 0) AS n_keys,
        |    coalesce(sum(cnt * nullkeys), 0) AS null_rows,
        |    coalesce(max(cnt), 0) AS max_cnt,
        |    coalesce(sum(cnt * keys * (2 * pkeys + keys + 1) // 2), 0)
        |      AS s2
        |  FROM h
        |), top10 AS (
        |  SELECT coalesce(sum(cnt *
        |    least(keys, greatest(0, 10 - (tkeys - keys)))), 0) AS mass
        |  FROM h
        |)
        |SELECT
        |  n_rows::DOUBLE AS n_rows,
        |  n_keys::DOUBLE AS n_keys,
        |  null_rows::DOUBLE AS null_key_rows,
        |  max_cnt::DOUBLE AS max_cnt,
        |  (SELECT min(cnt) FROM h WHERE ckeys >= ceil(0.5 * tot.n_keys))
        |    ::DOUBLE AS p50_cnt,
        |  (SELECT min(cnt) FROM h WHERE ckeys >= ceil(0.9 * tot.n_keys))
        |    ::DOUBLE AS p90_cnt,
        |  (SELECT min(cnt) FROM h WHERE ckeys >= ceil(0.99 * tot.n_keys))
        |    ::DOUBLE AS p99_cnt,
        |  round(max_cnt::DOUBLE / n_rows::DOUBLE, 6) AS top1_share_r,
        |  round((SELECT mass FROM top10)::DOUBLE / n_rows::DOUBLE, 6)
        |    AS top10_share_r,
        |  round(2.0 * s2::DOUBLE / (n_keys::DOUBLE * n_rows::DOUBLE)
        |    - (n_keys + 1)::DOUBLE / n_keys::DOUBLE, 6) AS gini_r,
        |  1.0::DOUBLE AS merge_ok
        |FROM tot""".stripMargin,

    // q140: exact per-priority distinct customers; the sketch-estimate
    // and merge-proximity flags are Spark-side, asserted true.
    "q140_hll_distinct_state" ->
      """SELECT o_orderpriority,
        |  count(DISTINCT o_custkey)::DOUBLE AS exact_distinct,
        |  1.0::DOUBLE AS est_ok,
        |  1.0::DOUBLE AS merge_close
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // q142: exact per-source distinct-text set algebra; the sketch
    // estimates are Spark-side tolerance flags, asserted true.
    "q142_theta_overlap" ->
      """WITH d AS (
        |  SELECT source, text, doc_id FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), ta AS (
        |  SELECT DISTINCT source, text FROM d WHERE doc_id % 3 <> 0
        |), tb AS (
        |  SELECT DISTINCT source, text FROM d WHERE doc_id % 2 = 0
        |)
        |SELECT ta_g.source,
        |  ta_g.n::DOUBLE AS exact_a,
        |  tb_g.n::DOUBLE AS exact_b,
        |  u_g.n::DOUBLE AS exact_union,
        |  coalesce(i_g.n, 0)::DOUBLE AS exact_intersect,
        |  coalesce(d_g.n, 0)::DOUBLE AS exact_a_not_b,
        |  1.0::DOUBLE AS a_ok, 1.0::DOUBLE AS b_ok,
        |  1.0::DOUBLE AS union_ok, 1.0::DOUBLE AS intersect_ok,
        |  1.0::DOUBLE AS diff_ok
        |FROM (SELECT source, count(*) AS n FROM ta GROUP BY 1) ta_g
        |JOIN (SELECT source, count(*) AS n FROM tb GROUP BY 1) tb_g
        |  USING (source)
        |JOIN (SELECT source, count(*) AS n FROM
        |        (SELECT source, text FROM ta UNION
        |         SELECT source, text FROM tb) GROUP BY 1) u_g
        |  USING (source)
        |LEFT JOIN (SELECT source, count(*) AS n FROM
        |        (SELECT source, text FROM ta INTERSECT
        |         SELECT source, text FROM tb) GROUP BY 1) i_g
        |  USING (source)
        |LEFT JOIN (SELECT source, count(*) AS n FROM
        |        (SELECT source, text FROM ta EXCEPT
        |         SELECT source, text FROM tb) GROUP BY 1) d_g
        |  USING (source)
        |ORDER BY ta_g.source""".stripMargin,

    // q141: the sample replayed row-for-row — the same md5-prefix rank
    // and (hash, id) ordering; merge_ok is the engine-side monoid pin.
    "q141_consistent_sample" ->
      """WITH ranked AS (
        |  SELECT source, doc_id,
        |    substring(md5('graft:' || doc_id::VARCHAR), 1, 8) AS sample_hash,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substring(md5('graft:' || doc_id::VARCHAR), 1, 8),
        |        doc_id) AS rank
        |  FROM documents WHERE doc_id IS NOT NULL
        |)
        |SELECT source, doc_id::DOUBLE AS doc_id, sample_hash,
        |  rank::DOUBLE AS rank, 1.0::DOUBLE AS merge_ok
        |FROM ranked WHERE rank <= 8""".stripMargin,

    // q143: the exact distinct / snapshot-set replays; every estimate,
    // check status, and DQDL outcome is a 1.0-pinned flag (the sketch
    // estimates sit within the asserted tolerances at all three SFs —
    // theta is exact below 2^12 distincts per side).
    "q143_sketch_state_checks" ->
      """WITH d AS (
        |  SELECT source, text, doc_id FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), ta AS (
        |  SELECT DISTINCT text FROM d WHERE doc_id % 3 <> 0
        |), tb AS (
        |  SELECT DISTINCT text FROM d WHERE doc_id % 2 = 0
        |)
        |SELECT
        |  (SELECT count(DISTINCT text) FROM d)::DOUBLE AS exact_distinct,
        |  (SELECT count(*) FROM (SELECT text FROM ta INTERSECT
        |    SELECT text FROM tb))::DOUBLE AS exact_intersect,
        |  (SELECT count(*) FROM (SELECT text FROM ta UNION
        |    SELECT text FROM tb))::DOUBLE AS exact_union,
        |  (SELECT count(DISTINCT source) FROM d)::DOUBLE AS state_rows,
        |  1.0::DOUBLE AS hll_est_ok,
        |  1.0::DOUBLE AS overlap_est_ok,
        |  1.0::DOUBLE AS hll_check_ok,
        |  1.0::DOUBLE AS theta_check_ok,
        |  2.0::DOUBLE AS dqdl_passed""".stripMargin,

    // q144: exact per-group quantiles (the same continuous-interpolation
    // definition both engines share, the q34 pairing); every sketch
    // estimate, merge-proximity, check and DQDL outcome is a 1.0-pinned
    // tolerance flag.
    "q144_kll_quantile_state" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS exact_p25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS exact_p50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS exact_p75,
        |  1.0::DOUBLE AS p25_ok, 1.0::DOUBLE AS p50_ok,
        |  1.0::DOUBLE AS p75_ok, 1.0::DOUBLE AS merge_close,
        |  1.0::DOUBLE AS check_ok, 1.0::DOUBLE AS dqdl_ok
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    // q145: exact per-source token tallies (the shared whitespace
    // tokenizer convention); the capacity-64 state's equality to exact
    // counts, the capacity-16 state's Misra-Gries guarantees, and the
    // Check/DQDL outcomes are 1.0-pinned flags (deterministic by the MG
    // bound, not by luck — see FreqItems.scala).
    "q145_freq_items_state" ->
      """WITH tkn AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS item
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), cnt AS (
        |  SELECT source, item, count(*) AS c FROM tkn GROUP BY 1, 2
        |), tot AS (
        |  SELECT source, sum(c) AS n_tokens, max(c) AS top_cnt
        |  FROM cnt GROUP BY source
        |), hh AS (
        |  SELECT cnt.source, count(*) AS n_true_hh
        |  FROM cnt JOIN tot USING (source)
        |  WHERE c > 0.04 * n_tokens GROUP BY 1
        |)
        |SELECT source, n_tokens::DOUBLE AS n_tokens,
        |  top_cnt::DOUBLE AS top_cnt,
        |  coalesce(n_true_hh, 0)::DOUBLE AS n_true_hh,
        |  1.0::DOUBLE AS exact_state_ok, 1.0::DOUBLE AS n_ok,
        |  1.0::DOUBLE AS bound_ok, 1.0::DOUBLE AS hh_ok,
        |  1.0::DOUBLE AS check_ok, 1.0::DOUBLE AS dqdl_ok
        |FROM tot LEFT JOIN hh USING (source) ORDER BY source""".stripMargin,

    // q146: the q128 earliest-after recurrence (cap 64 covers every
    // per-(user, step) count, so the folded-state replay must equal the
    // batch funnel); parity-split fold, batch equality, and the cap-2
    // truncation guarantees are 1.0-pinned flags.
    "q146_funnel_incremental" ->
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
        |), s0 AS (
        |  SELECT user_id, min(ts_us) AS t0 FROM base
        |  WHERE event_type = 'signup' GROUP BY 1
        |), s1 AS (
        |  SELECT b.user_id, min(b.ts_us) AS t1 FROM base b
        |  JOIN s0 ON b.user_id = s0.user_id
        |  WHERE b.event_type = 'view' AND b.ts_us > s0.t0 GROUP BY 1
        |), s2 AS (
        |  SELECT b.user_id, min(b.ts_us) AS t2 FROM base b
        |  JOIN s1 ON b.user_id = s1.user_id
        |  WHERE b.event_type = 'click' AND b.ts_us > s1.t1 GROUP BY 1
        |), s3 AS (
        |  SELECT b.user_id, min(b.ts_us) AS t3 FROM base b
        |  JOIN s2 ON b.user_id = s2.user_id
        |  WHERE b.event_type = 'purchase' AND b.ts_us > s2.t2 GROUP BY 1
        |), f AS (
        |  SELECT s0.user_id, t0, t1, t2, t3
        |  FROM s0 LEFT JOIN s1 USING (user_id)
        |    LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |)
        |SELECT
        |  sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS step0_users,
        |  sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS step1_users,
        |  sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS step2_users,
        |  sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    AS step3_users,
        |  coalesce(sum((t1 - t0) // 1000000), 0)::DOUBLE AS step1_lag_s,
        |  coalesce(sum((t2 - t1) // 1000000), 0)::DOUBLE AS step2_lag_s,
        |  coalesce(sum((t3 - t2) // 1000000), 0)::DOUBLE AS step3_lag_s,
        |  1.0::DOUBLE AS all_exact, 1.0::DOUBLE AS merge_ok,
        |  1.0::DOUBLE AS batch_ok, 1.0::DOUBLE AS cap2_no_overcount,
        |  1.0::DOUBLE AS cap2_exact_match
        |FROM f""".stripMargin,

    // q147: exact-dedup survivor election (min doc_id per distinct text)
    // — the streaming ingest's folded state must land on exactly this,
    // whatever the micro-batch boundaries; the row-level parity against
    // the in-engine batch dedup is a 1.0-pinned flag.
    "q147_streaming_dedup_ingest" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), surv AS (
        |  SELECT min(doc_id) AS sid FROM d GROUP BY text
        |)
        |SELECT (SELECT count(*) FROM d)::DOUBLE AS n_docs,
        |  count(*)::DOUBLE AS n_survivors,
        |  sum(sid)::DOUBLE AS id_sum,
        |  1.0::DOUBLE AS parity_ok
        |FROM surv""".stripMargin,

    // q148: exact corpus/query counts; the staged-vs-one-shot postings
    // parity, the model parquet round trip, and the q27
    // completeness/recall bars are 1.0-pinned flags.
    "q148_ivf_index_state" ->
      """SELECT (SELECT count(*) FROM embeddings)::DOUBLE AS n_vectors,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 5)::DOUBLE
        |    AS n_queries,
        |  1.0::DOUBLE AS model_roundtrip_ok,
        |  1.0::DOUBLE AS state_parity_ok,
        |  1.0::DOUBLE AS ivf_complete_ok,
        |  1.0::DOUBLE AS ivf_recall_ok""".stripMargin,

    // q149: exact corpus/query counts; model round trip, staged code
    // parity, staged-vs-one-shot serve parity, and q80's bars are
    // 1.0-pinned flags.
    "q149_pq_index_state" ->
      """SELECT (SELECT count(*) FROM embeddings)::DOUBLE AS n_vectors,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 8)::DOUBLE
        |    AS n_queries,
        |  1.0::DOUBLE AS model_roundtrip_ok,
        |  1.0::DOUBLE AS codes_parity_ok,
        |  1.0::DOUBLE AS serve_parity_ok,
        |  1.0::DOUBLE AS pq_complete_ok,
        |  1.0::DOUBLE AS pq_recall_ok""".stripMargin,

    // q150: exact corpus/query counts; both model round trips, staged
    // code parity, serve parity, and q82's bars are 1.0-pinned flags.
    "q150_ivfpq_index_state" ->
      """SELECT (SELECT count(*) FROM embeddings)::DOUBLE AS n_vectors,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 8)::DOUBLE
        |    AS n_queries,
        |  1.0::DOUBLE AS model_roundtrip_ok,
        |  1.0::DOUBLE AS codes_parity_ok,
        |  1.0::DOUBLE AS serve_parity_ok,
        |  1.0::DOUBLE AS ivfpq_complete_ok,
        |  1.0::DOUBLE AS ivfpq_recall_ok""".stripMargin,

    // q151: two-batch incremental dedup replayed exactly — per text, the
    // min id of the FIRST batch (odd ids before even ids) containing it;
    // builder-vs-hand-rolled parity and census consistency are flags.
    "q151_curation_state_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), b1 AS (SELECT * FROM d WHERE doc_id % 2 = 1),
        |b2 AS (SELECT * FROM d WHERE doc_id % 2 = 0),
        |s1 AS (SELECT text, min(doc_id) AS sid FROM b1 GROUP BY text),
        |s2 AS (
        |  SELECT b.text, min(b.doc_id) AS sid FROM b2 b
        |  LEFT JOIN s1 USING (text) WHERE s1.sid IS NULL GROUP BY b.text
        |)
        |SELECT (SELECT count(*) FROM s1)::DOUBLE AS b1_kept,
        |  (SELECT count(*) FROM s2)::DOUBLE AS b2_kept,
        |  ((SELECT coalesce(sum(sid), 0) FROM s1) +
        |   (SELECT coalesce(sum(sid), 0) FROM s2))::DOUBLE AS id_sum,
        |  1.0::DOUBLE AS parity_ok, 1.0::DOUBLE AS census_ok""".stripMargin,

    // q152: exact per-source replays of both snapshots (distincts, token
    // tallies, the full-universe L1 — the MG side runs in exact mode —
    // and item churn); every sketch estimate is a tolerance flag.
    "q152_state_drift_report" ->
      """WITH d AS (
        |  SELECT source, doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), a AS (SELECT * FROM d WHERE doc_id % 3 <> 0),
        |b AS (SELECT * FROM d WHERE doc_id % 3 <> 1),
        |ta AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS item FROM a
        |), tb AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS item FROM b
        |), ca AS (SELECT source, item, count(*) AS c FROM ta GROUP BY 1, 2),
        |cb AS (SELECT source, item, count(*) AS c FROM tb GROUP BY 1, 2),
        |na AS (SELECT source, sum(c) AS n FROM ca GROUP BY 1),
        |nb AS (SELECT source, sum(c) AS n FROM cb GROUP BY 1),
        |j AS (
        |  SELECT coalesce(ca.source, cb.source) AS source,
        |    ca.c AS c_a, cb.c AS c_b
        |  FROM ca FULL JOIN cb ON ca.source = cb.source AND ca.item = cb.item
        |), l1 AS (
        |  SELECT j.source,
        |    sum(abs(coalesce(c_a, 0)::DOUBLE / na.n -
        |            coalesce(c_b, 0)::DOUBLE / nb.n)) AS l1_exact,
        |    sum(CASE WHEN c_a IS NULL THEN 1 ELSE 0 END) AS new_items,
        |    sum(CASE WHEN c_b IS NULL THEN 1 ELSE 0 END) AS lost_items
        |  FROM j JOIN na ON na.source = j.source
        |    JOIN nb ON nb.source = j.source
        |  GROUP BY 1
        |), dist AS (
        |  SELECT a.source, count(DISTINCT a.text) AS da FROM a GROUP BY 1
        |), distb AS (
        |  SELECT b.source, count(DISTINCT b.text) AS db FROM b GROUP BY 1
        |), pa AS (
        |  SELECT source, quantile_disc(length(text), 0.5)::DOUBLE AS p50_a
        |  FROM a GROUP BY 1
        |), pb AS (
        |  SELECT source, quantile_disc(length(text), 0.5)::DOUBLE AS p50_b
        |  FROM b GROUP BY 1
        |)
        |SELECT source,
        |  da::DOUBLE AS exact_distinct_a, db::DOUBLE AS exact_distinct_b,
        |  1.0::DOUBLE AS dd_a_ok, 1.0::DOUBLE AS dd_b_ok,
        |  p50_a, p50_b, (p50_b - p50_a) AS p50_shift,
        |  na.n::DOUBLE AS n_tokens_a, nb.n::DOUBLE AS n_tokens_b,
        |  round(l1_exact, 6) AS l1_exact,
        |  1.0::DOUBLE AS mg_exact_mode,
        |  new_items::DOUBLE AS new_items, lost_items::DOUBLE AS lost_items
        |FROM dist JOIN distb USING (source) JOIN na USING (source)
        |  JOIN nb USING (source) JOIN l1 USING (source)
        |  JOIN pa USING (source) JOIN pb USING (source)
        |ORDER BY source""".stripMargin,

    // q153: the exact corpus-level token-distribution L1 between the two
    // snapshots (the drift CHECK's metric is exact — every fold stays
    // under capacity); the quantile-shift tolerance and the Check/DQDL
    // outcomes are 1.0-pinned flags.
    "q153_drift_checks" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), a AS (SELECT * FROM d WHERE doc_id % 3 <> 0),
        |b AS (SELECT * FROM d WHERE doc_id % 3 <> 1),
        |ta AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '')) AS item FROM a
        |), tb AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '')) AS item FROM b
        |), ca AS (SELECT item, count(*) AS c FROM ta GROUP BY 1),
        |cb AS (SELECT item, count(*) AS c FROM tb GROUP BY 1),
        |j AS (
        |  SELECT coalesce(ca.c, 0)::DOUBLE AS c_a,
        |    coalesce(cb.c, 0)::DOUBLE AS c_b
        |  FROM ca FULL JOIN cb USING (item)
        |)
        |SELECT round(sum(abs(
        |    c_a / (SELECT count(*) FROM ta) -
        |    c_b / (SELECT count(*) FROM tb))), 6) AS l1_exact,
        |  1.0::DOUBLE AS l1_is_exact, 1.0::DOUBLE AS shift_ok,
        |  1.0::DOUBLE AS check_ok, 1.0::DOUBLE AS dqdl_ok
        |FROM j""".stripMargin,

    // q154: the three consecutive-day exact L1 drifts (day 4's snapshot
    // carries the injected double marker token, mirrored here); the
    // clean-day pass and injected-day alarm are 1.0-pinned flags
    // (deterministic: exact-mode MG metrics, fixed strategy band).
    "q154_drift_alarm" -> {
      def toks(filter: String, marked: Boolean): String = {
        val extra =
          if (!marked) ""
          else s""" UNION ALL SELECT m.item FROM documents,
             | (SELECT unnest(['driftmarker', 'driftmarker']) AS item) m
             | WHERE doc_id IS NOT NULL AND text IS NOT NULL
             |   AND $filter""".stripMargin
        s"""SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
           |    x -> x <> '')) AS item
           |  FROM documents
           |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND $filter$extra"""
          .stripMargin
      }
      def l1(tag: String, fa: String, fb: String, markedB: Boolean): String =
        s"""t${tag}a AS (${toks(fa, marked = false)}),
           |t${tag}b AS (${toks(fb, markedB)}),
           |c${tag}a AS (SELECT item, count(*) AS c FROM t${tag}a GROUP BY 1),
           |c${tag}b AS (SELECT item, count(*) AS c FROM t${tag}b GROUP BY 1),
           |l$tag AS (
           |  SELECT sum(abs(
           |    coalesce(c${tag}a.c, 0)::DOUBLE / (SELECT count(*) FROM t${tag}a) -
           |    coalesce(c${tag}b.c, 0)::DOUBLE / (SELECT count(*) FROM t${tag}b)))
           |    AS v
           |  FROM c${tag}a FULL JOIN c${tag}b USING (item)
           |)""".stripMargin
      s"""WITH ${l1("1", "doc_id % 5 <> 0", "doc_id % 5 <> 1", markedB = false)},
         |${l1("2", "doc_id % 5 <> 1", "doc_id % 5 <> 2", markedB = false)},
         |${l1("3", "doc_id % 5 <> 2", "doc_id % 5 <> 3", markedB = true)}
         |SELECT round(l1.v, 6) AS l1_d1, round(l2.v, 6) AS l1_d2,
         |  round(l3.v, 6) AS l1_d3,
         |  1.0::DOUBLE AS clean_ok, 1.0::DOUBLE AS alarm_ok
         |FROM l1, l2, l3""".stripMargin
    },

    // q155: exact per-source token totals and vocabulary; the
    // weighted-build equality and mixed-path fold parity are 1.0-pinned
    // flags (exact-mode MG, deterministic).
    "q155_weighted_freq_state" ->
      """WITH tkn AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS item
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), cnt AS (
        |  SELECT source, item, count(*) AS c FROM tkn GROUP BY 1, 2
        |)
        |SELECT source, sum(c)::DOUBLE AS n_tokens,
        |  count(*)::DOUBLE AS vocab,
        |  1.0::DOUBLE AS exact_ok, 1.0::DOUBLE AS n_ok
        |FROM cnt GROUP BY source ORDER BY source""".stripMargin,

    // q156: exact corpus census (docs, sources, token totals from the
    // folded exact-mode MG state, vocabulary, per-source median lengths
    // — the q152 store-all-regime pin summed); the fold-vs-one-shot
    // parities and the post-compaction re-check are 1.0-pinned flags.
    "q156_streaming_sketch_ingest" ->
      """WITH d AS (
        |  SELECT source, doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), t AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS item FROM d
        |)
        |SELECT (SELECT count(*) FROM d)::DOUBLE AS n_docs,
        |  (SELECT count(DISTINCT source) FROM d)::DOUBLE AS n_sources,
        |  (SELECT count(*) FROM t)::DOUBLE AS total_tokens,
        |  (SELECT count(*) FROM (SELECT DISTINCT source, item FROM t))::DOUBLE
        |    AS vocab,
        |  (SELECT sum(m)::DOUBLE FROM (
        |     SELECT quantile_disc(length(text), 0.5) AS m
        |     FROM d GROUP BY source)) AS p50_sum,
        |  1.0::DOUBLE AS mg_parity_ok, 1.0::DOUBLE AS hll_ok,
        |  1.0::DOUBLE AS post_compact_ok""".stripMargin,

    // q157: the four consecutive-day exact L1 drifts (days >= 3 carry
    // the injected double marker token on BOTH sides where applicable,
    // mirrored here); every check/DQDL outcome is a 1.0-pinned flag
    // (deterministic: exact-mode MG metrics, fixed strategy band).
    "q157_drift_history_check" -> {
      def toks(filter: String, marked: Boolean): String = {
        val extra =
          if (!marked) ""
          else s""" UNION ALL SELECT m.item FROM documents,
             | (SELECT unnest(['driftmarker', 'driftmarker']) AS item) m
             | WHERE doc_id IS NOT NULL AND text IS NOT NULL
             |   AND $filter""".stripMargin
        s"""SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
           |    x -> x <> '')) AS item
           |  FROM documents
           |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND $filter$extra"""
          .stripMargin
      }
      def l1(tag: String, fa: String, fb: String,
          markedA: Boolean, markedB: Boolean): String =
        s"""t${tag}a AS (${toks(fa, markedA)}),
           |t${tag}b AS (${toks(fb, markedB)}),
           |c${tag}a AS (SELECT item, count(*) AS c FROM t${tag}a GROUP BY 1),
           |c${tag}b AS (SELECT item, count(*) AS c FROM t${tag}b GROUP BY 1),
           |l$tag AS (
           |  SELECT sum(abs(
           |    coalesce(c${tag}a.c, 0)::DOUBLE / (SELECT count(*) FROM t${tag}a) -
           |    coalesce(c${tag}b.c, 0)::DOUBLE / (SELECT count(*) FROM t${tag}b)))
           |    AS v
           |  FROM c${tag}a FULL JOIN c${tag}b USING (item)
           |)""".stripMargin
      s"""WITH ${l1("1", "doc_id % 5 <> 0", "doc_id % 5 <> 1",
           markedA = false, markedB = false)},
         |${l1("2", "doc_id % 5 <> 1", "doc_id % 5 <> 2",
           markedA = false, markedB = false)},
         |${l1("3", "doc_id % 5 <> 2", "doc_id % 5 <> 3",
           markedA = false, markedB = true)},
         |${l1("4", "doc_id % 5 <> 3", "doc_id % 5 <> 4",
           markedA = true, markedB = true)}
         |SELECT round(l1.v, 6) AS l1_d1, round(l2.v, 6) AS l1_d2,
         |  round(l3.v, 6) AS l1_d3, round(l4.v, 6) AS l1_d4,
         |  1.0::DOUBLE AS newest_ok, 1.0::DOUBLE AS history_alarm_ok,
         |  1.0::DOUBLE AS loosened_ok, 1.0::DOUBLE AS windowed_ok,
         |  1.0::DOUBLE AS dqdl_alarm_ok, 1.0::DOUBLE AS dqdl_clean_ok
         |FROM l1, l2, l3, l4""".stripMargin
    },

    // q158: exact corpus/query counts; the streamed-vs-one-shot postings
    // parity, the model round trip, q148's completeness/recall bars, and
    // the post-compaction parity are 1.0-pinned flags.
    "q158_streaming_ivf_ingest" ->
      """SELECT (SELECT count(*) FROM embeddings)::DOUBLE AS n_vectors,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 5)::DOUBLE
        |    AS n_queries,
        |  1.0::DOUBLE AS model_roundtrip_ok,
        |  1.0::DOUBLE AS state_parity_ok,
        |  1.0::DOUBLE AS ivf_complete_ok,
        |  1.0::DOUBLE AS ivf_recall_ok,
        |  1.0::DOUBLE AS post_compact_ok""".stripMargin,

    // q159: the whole manifest replayed bit-for-bit — the canonical row
    // encoding (chr(31) separators, chr(1)||'NULL' null sentinel), the
    // 60-bit md5-prefix fingerprint as a BIGINT, the per-shard XOR, the
    // tamper replay, and the diff statuses. All integers; the self-diff
    // flag is 1.0-pinned.
    "q159_dataset_manifest" ->
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE doc_id IS NOT NULL
        |), enc1 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp
        |  FROM d
        |), m1 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc1 GROUP BY shard
        |), t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id = 7 THEN text || 'X'
        |         WHEN doc_id = 41 THEN NULL
        |         ELSE text END AS text
        |  FROM d WHERE doc_id <> 20
        |  UNION ALL
        |  SELECT doc_id, source, text FROM d WHERE doc_id = 33
        |), enc2 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp
        |  FROM t
        |), m2 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc2 GROUP BY shard
        |), df AS (
        |  SELECT coalesce(m1.shard, m2.shard) AS shard,
        |    CASE WHEN m2.shard IS NULL THEN 'removed'
        |         WHEN m1.shard IS NULL THEN 'added'
        |         WHEN m1.n_rows IS DISTINCT FROM m2.n_rows
        |           OR m1.id_sum IS DISTINCT FROM m2.id_sum
        |           OR m1.content_fp IS DISTINCT FROM m2.content_fp
        |           THEN 'changed' END AS status
        |  FROM m1 FULL JOIN m2 ON m1.shard = m2.shard
        |)
        |SELECT m1.shard, m1.n_rows, m1.id_sum, m1.content_fp,
        |  coalesce(df.status, 'ok') AS status,
        |  1.0::DOUBLE AS self_diff_empty
        |FROM m1 LEFT JOIN df ON m1.shard = df.shard AND df.status IS NOT NULL
        |ORDER BY m1.shard""".stripMargin,

    // q160: the streamed-and-folded manifest equals the one-shot replay
    // (monoid law — asserted in-engine via the two equality flags and
    // pinned here by replaying the one-shot triple); release N+1's diff
    // statuses replay from the same md5/XOR integer arithmetic.
    "q160_streaming_manifest" ->
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE doc_id IS NOT NULL
        |), enc1 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp
        |  FROM d
        |), m1 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc1 GROUP BY shard
        |), m2 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc1 WHERE doc_id % 7 <> 3 GROUP BY shard
        |), df AS (
        |  SELECT coalesce(m1.shard, m2.shard) AS shard,
        |    CASE WHEN m2.shard IS NULL THEN 'removed'
        |         WHEN m1.shard IS NULL THEN 'added'
        |         WHEN m1.n_rows IS DISTINCT FROM m2.n_rows
        |           OR m1.id_sum IS DISTINCT FROM m2.id_sum
        |           OR m1.content_fp IS DISTINCT FROM m2.content_fp
        |           THEN 'changed' END AS status
        |  FROM m1 FULL JOIN m2 ON m1.shard = m2.shard
        |)
        |SELECT m1.shard, m1.n_rows, m1.id_sum, m1.content_fp,
        |  coalesce(df.status, 'ok') AS status,
        |  1.0::DOUBLE AS streamed_eq_oneshot,
        |  1.0::DOUBLE AS compacted_eq_oneshot
        |FROM m1 LEFT JOIN df ON m1.shard = df.shard AND df.status IS NOT NULL
        |ORDER BY m1.shard""".stripMargin,

    // q161: the parity fraction replays as exact integer counting over
    // the same md5/XOR census (n/16 is binary-exact in double); check
    // and DQDL outcomes asserted via flags.
    "q161_manifest_parity" ->
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE doc_id IS NOT NULL
        |), enc1 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp
        |  FROM d
        |), m1 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc1 GROUP BY shard
        |), t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id = 7 THEN text || 'X'
        |         WHEN doc_id = 41 THEN NULL
        |         ELSE text END AS text
        |  FROM d WHERE doc_id <> 20
        |  UNION ALL
        |  SELECT doc_id, source, text FROM d WHERE doc_id = 33
        |), enc2 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp
        |  FROM t
        |), m2 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc2 GROUP BY shard
        |), j AS (
        |  SELECT coalesce(m1.shard, m2.shard) AS shard,
        |    CASE WHEN m1.shard IS NOT NULL AND m2.shard IS NOT NULL
        |          AND m1.n_rows IS NOT DISTINCT FROM m2.n_rows
        |          AND m1.id_sum IS NOT DISTINCT FROM m2.id_sum
        |          AND m1.content_fp IS NOT DISTINCT FROM m2.content_fp
        |         THEN 1 ELSE 0 END AS ok
        |  FROM m1 FULL JOIN m2 ON m1.shard = m2.shard
        |)
        |SELECT 1.0::DOUBLE AS parity_self,
        |  (SELECT sum(ok)::DOUBLE / count(*) FROM j) AS parity_tampered,
        |  1.0::DOUBLE AS self_check_pass,
        |  1.0::DOUBLE AS tampered_check_fails,
        |  1.0::DOUBLE AS dqdl_strict_fails,
        |  1.0::DOUBLE AS dqdl_floor_passes""".stripMargin,

    // q162: the drifted-shard set and the per-id row census replay from
    // the same md5/XOR integer arithmetic; completeness asserted as a
    // flag (both engines restrict the row scan to the named shards).
    "q162_manifest_drilldown" ->
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE doc_id IS NOT NULL
        |), enc1 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp
        |  FROM d
        |), m1 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc1 GROUP BY shard
        |), t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id = 7 THEN text || 'X'
        |         WHEN doc_id = 41 THEN NULL
        |         ELSE text END AS text
        |  FROM d WHERE doc_id <> 20
        |  UNION ALL
        |  SELECT doc_id, source, text FROM d WHERE doc_id = 33
        |), enc2 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp
        |  FROM t
        |), m2 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc2 GROUP BY shard
        |), sh AS (
        |  SELECT coalesce(m1.shard, m2.shard) AS shard
        |  FROM m1 FULL JOIN m2 ON m1.shard = m2.shard
        |  WHERE m1.shard IS NULL OR m2.shard IS NULL
        |    OR m1.n_rows IS DISTINCT FROM m2.n_rows
        |    OR m1.id_sum IS DISTINCT FROM m2.id_sum
        |    OR m1.content_fp IS DISTINCT FROM m2.content_fp
        |), ra AS (
        |  SELECT doc_id AS id, count(*) AS n_a, bit_xor(fp) AS fp_a
        |  FROM enc1 WHERE shard IN (SELECT shard FROM sh) GROUP BY doc_id
        |), rb AS (
        |  SELECT doc_id AS id, count(*) AS n_b, bit_xor(fp) AS fp_b
        |  FROM enc2 WHERE shard IN (SELECT shard FROM sh) GROUP BY doc_id
        |)
        |SELECT coalesce(ra.id, rb.id) AS id,
        |  CASE WHEN rb.id IS NULL THEN 'removed'
        |       WHEN ra.id IS NULL THEN 'added'
        |       ELSE 'changed' END AS status,
        |  1.0::DOUBLE AS complete_ok
        |FROM ra FULL JOIN rb ON ra.id = rb.id
        |WHERE ra.id IS NULL OR rb.id IS NULL
        |  OR ra.n_a IS DISTINCT FROM rb.n_b
        |  OR ra.fp_a IS DISTINCT FROM rb.fp_b
        |ORDER BY id""".stripMargin,

    // q163: identical row verdicts (the physical shard layout cannot
    // change values); pruning and parity asserted as engine-side flags
    "q163_sharded_release_audit" ->
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE doc_id IS NOT NULL
        |), enc1 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp
        |  FROM d
        |), m1 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc1 GROUP BY shard
        |), t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id = 7 THEN text || 'X'
        |         WHEN doc_id = 41 THEN NULL
        |         ELSE text END AS text
        |  FROM d WHERE doc_id <> 20
        |  UNION ALL
        |  SELECT doc_id, source, text FROM d WHERE doc_id = 33
        |), enc2 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp
        |  FROM t
        |), m2 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp
        |  FROM enc2 GROUP BY shard
        |), sh AS (
        |  SELECT coalesce(m1.shard, m2.shard) AS shard
        |  FROM m1 FULL JOIN m2 ON m1.shard = m2.shard
        |  WHERE m1.shard IS NULL OR m2.shard IS NULL
        |    OR m1.n_rows IS DISTINCT FROM m2.n_rows
        |    OR m1.id_sum IS DISTINCT FROM m2.id_sum
        |    OR m1.content_fp IS DISTINCT FROM m2.content_fp
        |), ra AS (
        |  SELECT doc_id AS id, count(*) AS n_a, bit_xor(fp) AS fp_a
        |  FROM enc1 WHERE shard IN (SELECT shard FROM sh) GROUP BY doc_id
        |), rb AS (
        |  SELECT doc_id AS id, count(*) AS n_b, bit_xor(fp) AS fp_b
        |  FROM enc2 WHERE shard IN (SELECT shard FROM sh) GROUP BY doc_id
        |)
        |SELECT coalesce(ra.id, rb.id) AS id,
        |  CASE WHEN rb.id IS NULL THEN 'removed'
        |       WHEN ra.id IS NULL THEN 'added'
        |       ELSE 'changed' END AS status,
        |  1.0::DOUBLE AS pruned_ok,
        |  1.0::DOUBLE AS matches_unsharded
        |FROM ra FULL JOIN rb ON ra.id = rb.id
        |WHERE ra.id IS NULL OR rb.id IS NULL
        |  OR ra.n_a IS DISTINCT FROM rb.n_b
        |  OR ra.fp_a IS DISTINCT FROM rb.fp_b
        |ORDER BY id""".stripMargin,

    // q164: the per-column lanes replay from the same md5/XOR integer
    // arithmetic, one encoding per (id, column) pair; drifted_columns
    // via null-skipping concat_ws, matching the engine's
    // array_join(filter(...)).
    "q164_columnar_manifest" ->
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE doc_id IS NOT NULL
        |), enc1 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'))), 1, 15))
        |      AS BIGINT) AS fps,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fpt
        |  FROM d
        |), m1 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp,
        |    bit_xor(fps) AS fp_source, bit_xor(fpt) AS fp_text
        |  FROM enc1 GROUP BY shard
        |), t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id = 7 THEN text || 'X'
        |         WHEN doc_id = 41 THEN NULL
        |         ELSE text END AS text
        |  FROM d WHERE doc_id <> 20
        |  UNION ALL
        |  SELECT doc_id, source, text FROM d WHERE doc_id = 33
        |), enc2 AS (
        |  SELECT doc_id % 16 AS shard, doc_id,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fp,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'))), 1, 15))
        |      AS BIGINT) AS fps,
        |    CAST(('0x' || substr(md5(concat_ws(chr(31),
        |      CAST(doc_id AS VARCHAR),
        |      coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT) AS fpt
        |  FROM t
        |), m2 AS (
        |  SELECT shard, count(*) AS n_rows,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    bit_xor(fp) AS content_fp,
        |    bit_xor(fps) AS fp_source, bit_xor(fpt) AS fp_text
        |  FROM enc2 GROUP BY shard
        |), df AS (
        |  SELECT coalesce(m1.shard, m2.shard) AS shard,
        |    CASE WHEN m2.shard IS NULL THEN 'removed'
        |         WHEN m1.shard IS NULL THEN 'added'
        |         WHEN m1.n_rows IS DISTINCT FROM m2.n_rows
        |           OR m1.id_sum IS DISTINCT FROM m2.id_sum
        |           OR m1.content_fp IS DISTINCT FROM m2.content_fp
        |           THEN 'changed' END AS status,
        |    CASE WHEN m1.shard IS NULL OR m2.shard IS NULL
        |         THEN 'source,text'
        |         ELSE concat_ws(',',
        |           CASE WHEN m1.fp_source IS DISTINCT FROM m2.fp_source
        |                THEN 'source' END,
        |           CASE WHEN m1.fp_text IS DISTINCT FROM m2.fp_text
        |                THEN 'text' END) END AS drifted_columns
        |  FROM m1 FULL JOIN m2 ON m1.shard = m2.shard
        |)
        |SELECT m1.shard, m1.n_rows, m1.id_sum, m1.content_fp,
        |  m1.fp_source, m1.fp_text,
        |  coalesce(df.status, 'ok') AS status,
        |  coalesce(df.drifted_columns, '') AS drifted_columns,
        |  1.0::DOUBLE AS self_diff_empty
        |FROM m1 LEFT JOIN df ON m1.shard = df.shard AND df.status IS NOT NULL
        |ORDER BY m1.shard""".stripMargin,

    // q165: the q107 cell-state replay verbatim (same init, same
    // integer assignment keys, same floorDiv centroid update) — the
    // streaming ingest and its compaction are pure engine-side
    // machinery whose parity with this one-shot state is pinned by the
    // stream_ok / post_compact_ok flags (1 when the folded streamed
    // state equals the one-shot build with exact integer equality).
    "q165_streaming_kmeans_state" ->
      """WITH ex AS MATERIALIZED (
        |  SELECT vec_id, (u).i AS i, (u).x AS x FROM (
        |    SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
        |      j -> {'i': j, 'x': CAST(floor(v[j] * 1000 + 0.5) AS BIGINT)}))
        |      AS u
        |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |          WHERE embedding IS NOT NULL) vv)
        |), ids0 AS (
        |  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::INT
        |    AS cell
        |  FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
        |        ORDER BY vec_id LIMIT 4) kk
        |), c0 AS MATERIALIZED (
        |  SELECT ids0.cell, ex.i, ex.x * 1000 AS c
        |  FROM ids0 JOIN ex USING (vec_id)
        |), s1 AS (
        |  SELECT ex.vec_id, c.cell,
        |    2000 * sum(ex.x * c.c) - sum(c.c * c.c) AS key
        |  FROM ex JOIN c0 c USING (i)
        |  GROUP BY ex.vec_id, c.cell
        |), a1 AS MATERIALIZED (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY key DESC, cell DESC) AS rn
        |    FROM s1) rk
        |  WHERE rn = 1
        |), pv AS (
        |  SELECT vec_id, sum(x)::BIGINT AS sall, sum(x * x)::BIGINT AS n2v
        |  FROM ex GROUP BY vec_id
        |), st AS (
        |  SELECT a1.cell, count(*) AS n, sum(pv.sall)::BIGINT AS sum_all,
        |    sum(pv.n2v)::BIGINT AS sum_sq
        |  FROM a1 JOIN pv USING (vec_id) GROUP BY a1.cell
        |), md AS (
        |  SELECT a.cell, ex.i,
        |    CAST((1000 * sum(ex.x)
        |          - (((1000 * sum(ex.x)) % count(*) + count(*)) % count(*)))
        |         / count(*) AS BIGINT) AS c
        |  FROM a1 a JOIN ex USING (vec_id)
        |  GROUP BY a.cell, ex.i
        |), mn AS (
        |  SELECT cell, sum(c * c)::BIGINT AS c_norm2 FROM md GROUP BY cell
        |), cn0 AS (
        |  SELECT cell, sum(c * c)::BIGINT AS c_norm2 FROM c0 GROUP BY cell
        |)
        |SELECT cn0.cell, coalesce(st.n, 0)::BIGINT AS n_docs,
        |  coalesce(st.sum_all, 0)::BIGINT AS sum_all,
        |  coalesce(st.sum_sq, 0)::BIGINT AS sum_sq,
        |  coalesce(mn.c_norm2, cn0.c_norm2)::BIGINT AS c_norm2,
        |  1::BIGINT AS stream_ok,
        |  1::BIGINT AS post_compact_ok
        |FROM cn0 LEFT JOIN st USING (cell) LEFT JOIN mn USING (cell)"""
        .stripMargin,

    // q166: the four staged releases rebuilt in SQL, each reduced to the
    // same md5/XOR 16-shard manifest as the engine, then three pairwise
    // FULL-OUTER manifest diffs tagged with the introducing release —
    // the SQL form of the lineage window (equivalent because a dense
    // per-shard timeline's consecutive-row comparison IS the chain of
    // pairwise release diffs). The same chain backs q170 (the streaming
    // twin): its engine result is pinned equal to the one-shot lineage
    // by construction, so the oracle only adds the two 0/1 parity flags.
    "q166_manifest_lineage" -> lineageOracleSql(withStreamFlags = false),

    "q170_streaming_lineage" -> lineageOracleSql(withStreamFlags = true),

    // q167: the q107 assignment replay (same grid, same integer keys),
    // then per-cell counts of the full corpus vs the non-positive-
    // first-coordinate half-space, the cross-multiplied L1 lanes, and
    // the integer alarm decision. The check/DQDL gates are engine-side
    // machinery pinned at 1 (decade-wide margins around the measured
    // L1 ≈ 0.5 vs the 0.05 / 1.99 ceilings).
    "q167_embedding_drift_state" ->
      """WITH ex AS MATERIALIZED (
        |  SELECT vec_id, (u).i AS i, (u).x AS x FROM (
        |    SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
        |      j -> {'i': j, 'x': CAST(floor(v[j] * 1000 + 0.5) AS BIGINT)}))
        |      AS u
        |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |          WHERE embedding IS NOT NULL) vv)
        |), ids0 AS (
        |  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::INT
        |    AS cell
        |  FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
        |        ORDER BY vec_id LIMIT 4) kk
        |), c0 AS MATERIALIZED (
        |  SELECT ids0.cell, ex.i, ex.x * 1000 AS c
        |  FROM ids0 JOIN ex USING (vec_id)
        |), s1 AS (
        |  SELECT ex.vec_id, c.cell,
        |    2000 * sum(ex.x * c.c) - sum(c.c * c.c) AS key
        |  FROM ex JOIN c0 c USING (i)
        |  GROUP BY ex.vec_id, c.cell
        |), a1 AS MATERIALIZED (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY key DESC, cell DESC) AS rn
        |    FROM s1) rk
        |  WHERE rn = 1
        |), hv AS (
        |  SELECT vec_id FROM (
        |    SELECT vec_id, CAST(floor(v[1] * 1000 + 0.5) AS BIGINT) AS g1
        |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |          WHERE embedding IS NOT NULL) q) h
        |  WHERE g1 <= 0
        |), cnt AS (
        |  SELECT a1.cell, count(*)::BIGINT AS n_a,
        |    sum(CASE WHEN hv.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_b
        |  FROM a1 LEFT JOIN hv USING (vec_id)
        |  GROUP BY a1.cell
        |), tt AS (
        |  SELECT sum(n_a)::BIGINT AS tot_a, sum(n_b)::BIGINT AS tot_b
        |  FROM cnt
        |), l AS (
        |  SELECT cnt.cell, cnt.n_a, cnt.n_b,
        |    abs(cnt.n_a * tt.tot_b - cnt.n_b * tt.tot_a)::BIGINT AS l1_num,
        |    tt.tot_a, tt.tot_b
        |  FROM cnt, tt
        |), al AS (
        |  SELECT CASE WHEN 20 * sum(l1_num) >= max(tot_a) * max(tot_b)
        |              THEN 1 ELSE 0 END::BIGINT AS alarm
        |  FROM l
        |)
        |SELECT l.cell::BIGINT AS cell, l.n_a, l.n_b, l.l1_num,
        |  l.tot_a, l.tot_b, al.alarm,
        |  1::BIGINT AS check_gate, 1::BIGINT AS dqdl_gate
        |FROM l, al ORDER BY cell""".stripMargin,

    // q168: assignments under BOTH the original and the negated grid
    // vectors (xn = floor(-v*1000+0.5) — the same formula both engines
    // apply to the negated values), four day counts, and the exact
    // integer L1 lanes of the three consecutive-day pairs. The
    // repository alarm flags are engine-side machinery pinned at 1
    // (clean changes <= 0.004 vs the ±0.012 band vs injected >= 0.029).
    "q168_embedding_drift_alarm" -> {
      def dayCte(i: Int): String = {
        val cellCol = if (i == 3) "cell_n" else "cell_p"
        s"""d$i AS (
           |  SELECT $cellCol AS cell, count(*)::BIGINT AS n FROM av
           |  WHERE vec_id % 31 <> $i GROUP BY 1
           |)""".stripMargin
      }
      def pairCte(n: Int, a: String, b: String): String =
        s"""p$n AS (
           |  SELECT $n::BIGINT AS pair,
           |    sum(abs(coalesce(a.n, 0) * tb.t - coalesce(b.n, 0) * ta.t))
           |      ::BIGINT AS l1_num_sum,
           |    max(ta.t) AS tot_a, max(tb.t) AS tot_b
           |  FROM $a a FULL JOIN $b b USING (cell),
           |    (SELECT sum(n)::BIGINT AS t FROM $a) ta,
           |    (SELECT sum(n)::BIGINT AS t FROM $b) tb
           |)""".stripMargin
      s"""WITH ex AS MATERIALIZED (
         |  SELECT vec_id, (u).i AS i, (u).x AS x, (u).xn AS xn FROM (
         |    SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
         |      j -> {'i': j, 'x': CAST(floor(v[j] * 1000 + 0.5) AS BIGINT),
         |            'xn': CAST(floor(-v[j] * 1000 + 0.5) AS BIGINT)}))
         |      AS u
         |    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |          WHERE embedding IS NOT NULL) vv)
         |), ids0 AS (
         |  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::INT
         |    AS cell
         |  FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
         |        ORDER BY vec_id LIMIT 4) kk
         |), c0 AS MATERIALIZED (
         |  SELECT ids0.cell, ex.i, ex.x * 1000 AS c
         |  FROM ids0 JOIN ex USING (vec_id)
         |), s1 AS MATERIALIZED (
         |  SELECT ex.vec_id, c.cell,
         |    2000 * sum(ex.x * c.c) - sum(c.c * c.c) AS key,
         |    2000 * sum(ex.xn * c.c) - sum(c.c * c.c) AS keyn
         |  FROM ex JOIN c0 c USING (i)
         |  GROUP BY ex.vec_id, c.cell
         |), ap AS (
         |  SELECT vec_id, cell AS cell_p FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY key DESC, cell DESC) AS rn
         |    FROM s1) r WHERE rn = 1
         |), an AS (
         |  SELECT vec_id, cell AS cell_n FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY keyn DESC, cell DESC) AS rn
         |    FROM s1) r WHERE rn = 1
         |), av AS MATERIALIZED (
         |  SELECT ap.vec_id, ap.cell_p, an.cell_n
         |  FROM ap JOIN an USING (vec_id)
         |), ${dayCte(0)}, ${dayCte(1)}, ${dayCte(2)}, ${dayCte(3)},
         |${pairCte(1, "d0", "d1")},
         |${pairCte(2, "d1", "d2")},
         |${pairCte(3, "d2", "d3")}
         |SELECT pair, l1_num_sum, tot_a, tot_b,
         |  1::BIGINT AS clean_ok, 1::BIGINT AS alarm_ok
         |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
         |      UNION ALL SELECT * FROM p3) u
         |ORDER BY pair""".stripMargin
    },

    // q169: pure-integer permutation keys — exact in any engine. The
    // per-epoch (mul, add) constants and the engine columns are BOTH
    // generated from Mixing.curriculumConstants, so the replays cannot
    // drift; the xorshift pre-mix replays as xor(x, x >> 15) and the
    // high-bit shard as BIGINT floor-div (all values non-negative,
    // everything under 2^62).
    "q169_curriculum_order" -> {
      val consts = graft.pipeline.Mixing.curriculumConstants(2)
        .map { case (e, a, b) =>
          s"(CAST($e AS BIGINT), CAST($a AS BIGINT), CAST($b AS BIGINT))" }
        .mkString(", ")
      val p = graft.pipeline.Mixing.CurriculumP
      val w = (p + 7) / 8 // nShards = 8
      s"""WITH e AS (SELECT * FROM (VALUES $consts) t(epoch, mul, add)),
         |a AS (
         |  SELECT e.epoch, d.doc_id, d.source,
         |    (e.mul * xor(d.doc_id % $p, (d.doc_id % $p) >> 15)
         |      + e.add) % $p AS sort_key
         |  FROM documents d CROSS JOIN e
         |  WHERE d.doc_id IS NOT NULL)
         |SELECT epoch, sort_key // $w AS shard, source,
         |  count(*) AS n_docs,
         |  min(sort_key) AS min_key,
         |  max(sort_key) AS max_key,
         |  min_by(doc_id,
         |    sort_key * 2147483648 + (doc_id % $p)) AS first_doc
         |FROM a
         |GROUP BY 1, 2, 3
         |ORDER BY epoch, shard, source""".stripMargin
    },

    // q171: the exact (shard, suite) contamination census replayed as
    // the q110 string-census (13-token probes with space guards — one
    // gram per probe makes the engine's hash census identical); the
    // bloom stage's properties ride as flags the engine pins.
    "q171_shard_contamination" -> {
      val syntheticProbe = (1 to 13).map(i => s"qq$i").mkString(" ")
      s"""WITH norm AS MATERIALIZED (
         |  SELECT doc_id, array_to_string(list_filter(
         |    string_split_regex(lower(text), '\\s+'), x -> x <> ''), ' ')
         |    AS ntext
         |  FROM documents WHERE doc_id IS NOT NULL
         |), probes AS MATERIALIZED (
         |  SELECT DISTINCT 1 AS suite, array_to_string(
         |    (list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> ''))[6:18], ' ') AS probe
         |  FROM documents
         |  WHERE doc_id IN (20, 30, 45)
         |    AND len(list_filter(string_split_regex(lower(text), '\\s+'),
         |          x -> x <> '')) >= 18
         |  UNION
         |  SELECT DISTINCT 2 AS suite, array_to_string(
         |    (list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x <> ''))[6:18], ' ') AS probe
         |  FROM documents
         |  WHERE doc_id IN (8, 15, 62)
         |    AND len(list_filter(string_split_regex(lower(text), '\\s+'),
         |          x -> x <> '')) >= 18
         |  UNION
         |  SELECT 3 AS suite, '$syntheticProbe' AS probe
         |), m AS (
         |  SELECT n.doc_id % 16 AS shard, p.suite, p.probe, n.doc_id
         |  FROM norm n JOIN probes p
         |    ON contains(' ' || n.ntext || ' ', ' ' || p.probe || ' ')
         |), agg AS (
         |  SELECT shard, suite,
         |    count(DISTINCT probe) AS matched_grams,
         |    count(DISTINCT doc_id) AS contaminated_docs
         |  FROM m GROUP BY 1, 2
         |), grid AS (
         |  SELECT sh.shard, su.suite
         |  FROM (SELECT unnest(range(0, 16)) AS shard) sh
         |  CROSS JOIN (SELECT 1 AS suite UNION ALL SELECT 2
         |              UNION ALL SELECT 3) su
         |)
         |SELECT g.shard::BIGINT AS shard, g.suite::BIGINT AS suite,
         |  coalesce(a.matched_grams, 0)::BIGINT AS matched_grams,
         |  coalesce(a.contaminated_docs, 0)::BIGINT AS contaminated_docs,
         |  1::BIGINT AS no_false_neg,
         |  1::BIGINT AS fp_bounded,
         |  1::BIGINT AS restricted_eq_full
         |FROM grid g LEFT JOIN agg a USING (shard, suite)
         |ORDER BY shard, suite""".stripMargin
    },

    // q172: the per-shard gram-row census replayed exactly — grams
    // DEDUP within a document (the engine's shingle-set semantics), a
    // 1..12-token document contributes its single whole-text fallback
    // gram, an empty or null text contributes none; the three streaming
    // parities are engine-pinned flags.
    "q172_streaming_bloom_states" ->
      """WITH toks AS (
        |  SELECT doc_id, coalesce(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> ''),
        |    []::VARCHAR[]) AS tk
        |  FROM documents WHERE doc_id IS NOT NULL
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) = 0 THEN 0
        |         WHEN len(tk) < 13 THEN 1
        |         ELSE len(list_distinct(list_transform(
        |           range(1, len(tk) - 11),
        |           i -> array_to_string(tk[i:i+12], ' '))))
        |    END AS n_grams
        |  FROM toks
        |)
        |SELECT (doc_id % 16)::BIGINT AS shard,
        |  sum(n_grams)::BIGINT AS n_gram_rows,
        |  1::BIGINT AS streamed_eq_oneshot,
        |  1::BIGINT AS compacted_eq_oneshot,
        |  1::BIGINT AS serve_parity
        |FROM g GROUP BY 1
        |HAVING sum(n_grams) > 0
        |ORDER BY shard""".stripMargin,

    // q173: the epoch-1 curriculum keys replayed from the SAME
    // curriculumConstants, the written layout's manifest lanes from the
    // same md5/XOR arithmetic as q159/q166, and the ord-extremal order
    // witnesses via the combined integer argmin/argmax keys; the
    // round-trip parity is an engine-pinned flag.
    "q173_curriculum_release" -> {
      val (_, a1, b1) = graft.pipeline.Mixing.curriculumConstants(1).head
      val p = graft.pipeline.Mixing.CurriculumP
      val w = (p + 7) / 8
      s"""WITH a AS MATERIALIZED (
         |  SELECT doc_id, source, text,
         |    ($a1 * xor(doc_id % $p, (doc_id % $p) >> 15) + $b1) % $p
         |      AS sort_key
         |  FROM documents WHERE doc_id IS NOT NULL)
         |SELECT sort_key // $w AS shard,
         |  count(*) AS n_rows,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  bit_xor(CAST(('0x' || substr(md5(concat_ws(chr(31),
         |    CAST(doc_id AS VARCHAR),
         |    coalesce(CAST(source AS VARCHAR), chr(1) || 'NULL'),
         |    coalesce(text, chr(1) || 'NULL'))), 1, 15)) AS BIGINT))
         |    AS content_fp,
         |  min_by(doc_id,
         |    sort_key * 2147483648 + (doc_id % $p)) AS first_doc,
         |  max_by(doc_id,
         |    sort_key * 2147483648 + (doc_id % $p)) AS last_doc,
         |  min(sort_key) AS min_key,
         |  max(sort_key) AS max_key,
         |  1::BIGINT AS roundtrip_ok
         |FROM a GROUP BY 1 ORDER BY shard""".stripMargin
    }
  )
}
