package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The end-to-end curation pipeline as a PUBLIC, composable surface —
  * the product face of what q53/q112 hand-roll (q96/q136 run it): a
  * declared list of standard stages (boilerplate removal, text
  * transforms, quality classification, perplexity filtering, URL dedup,
  * arbitrary predicates) executed with the fusion discipline those queries
  * established, so a caller gets the efficient composition without
  * hand-managing it:
  *
  *  - ONE text scan per tokenization epoch: the (doc, term, tf) frame
  *    is built once after the latest text-mutating stage and shared by
  *    every classifier/LM stage that follows (the q96 precomputedTf
  *    fusion), re-restricted per stage by slim semi-joins;
  *  - SLIM persisted state: survivor doc-id sets and the tf frame are
  *    what persists — never a second full-text copy (the r14 q96
  *    finding: stacked text caches were the spill chain);
  *  - per-stage censuses come from counts over those cached slim
  *    frames, so the builder's bookkeeping adds no corpus scans.
  *
  * The builder is EAGER (classifier training and censuses run driver
  * actions as stages execute). `Result.docs` stays lazy over the
  * internal caches; call `Result.release()` after consuming it.
  *
  * 100 TB shape: every stage is map-side-combinable aggregation +
  * broadcast-model scoring + slim-key semi-joins; nothing shuffles the
  * text except the boilerplate line rebuild (one line-level exchange).
  */
object Curation {

  sealed trait Stage

  /** Cross-document boilerplate line removal
    * ([[TextAnalysis.removeBoilerplateLines]]). NARROWS the frame to
    * (idCol, groupCol, text, +removed_lines census) and drops null-id
    * rows — the underlying operator's contract.
    */
  final case class RemoveBoilerplate(
      groupCol: String,
      maxDocFrac: Double = 0.5,
      minDocs: Int = 5) extends Stage

  /** Rewrite the text column with `expr` (may reference any frame
    * column). Invalidates the shared tf frame — later LM/classifier
    * stages re-tokenize the new text (once).
    */
  final case class MapText(name: String, expr: Column) extends Stage

  /** Naive-Bayes quality gate: train on `seedPredicate` rows labeled by
    * `labelExpr` (a string expression over the frame), keep documents
    * scored `keepLabel`. The seed is cut once as (id, label), never with
    * its text; training and scoring share the one tf frame.
    */
  final case class QualityClassifier(
      labelExpr: Column,
      seedPredicate: Column,
      keepLabel: String = "keep",
      alpha: Double = 1.0) extends Stage

  /** CCNet-style perplexity gate: per `groupCol`, unigram-LM
    * cross-entropy terciles (or `nBuckets`-iles) over the CURRENT
    * survivors; keep buckets <= `keepMaxBucket` (1-based).
    */
  final case class PerplexityKeep(
      groupCol: String,
      nBuckets: Int = 3,
      keepMaxBucket: Int = 2) extends Stage

  /** Canonical-URL dedup ([[Domains.dedupByCanonicalUrl]]): `urlExpr`
    * evaluates over the frame; smallest `idCol` per canonical URL wins.
    * The dedup reads only (`idCol`, `urlExpr`), so the text never enters
    * the URL shuffle.
    */
  final case class UrlDedup(urlExpr: Column) extends Stage

  /** Arbitrary row predicate (Gopher/C4-style rule gates compose here). */
  final case class KeepWhere(name: String, predicate: Column) extends Stage

  /** Incremental exact dedup against a persisted seen-state — the
    * daily-ingest stage: drops frame rows whose text was seen by ANY
    * previous ingest under `statePath` (and dedups within the frame,
    * smallest id per text — [[Dedup.exactDedupIncremental]]), then
    * EAGERLY appends this batch's new keys as
    * `statePath/batch=batchId` (a replayed batchId overwrites its own
    * part — idempotent under re-runs). The whole history participates
    * as 128-bit hashed keys only; the corpus behind it never rescans.
    */
  final case class DedupAgainstState(statePath: String, batchId: String)
      extends Stage

  /** `docs`: the lazy surviving frame (consume, then `release()`).
    * `censuses`: ordered (stage_name, value) rows — doc counts per
    * stage plus stage-specific extras (boilerplate removed lines). It
    * resolves LAZILY from named observations riding the stage frames
    * (the q96 action-fusion discipline: a census never adds a job — it
    * fires inside whatever job first materializes its stage). Read it
    * AFTER consuming `docs` (or any full action over the result);
    * reading earlier blocks until the pipeline's frames have
    * materialized once.
    */
  final class Result private[Curation] (
      val docs: DataFrame,
      names: Seq[String],
      resolve: String => Double,
      releaseAll: () => Unit) {
    lazy val censuses: Seq[(String, Double)] = names.map(n => n -> resolve(n))

    /** Releases the pipeline's lineage cuts and caches. `docs` is unusable
      * afterwards: it reads [[CacheLifecycle.truncate]]d frames whose
      * blocks cannot be recomputed, so consuming it after release fails.
      */
    def release(): Unit = releaseAll()
  }

  /** `persistInput = false` skips caching the input frame: the right
    * call when it is a cheap projection over a source scan (as in
    * q96/q136) — the first
    * text-producing stage re-reads it up to three times instead of
    * paying a full-text cache write. Leave true for expensive input
    * lineage. If a stage throws, the cuts, caches and models the earlier
    * stages made are released before the exception propagates.
    */
  def pipeline(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      stages: Seq[Stage],
      persistInput: Boolean = true): Result = {
    require(stages.nonEmpty, "pipeline needs at least one stage")
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val releasers = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val thunks = scala.collection.mutable.Map.empty[String, () => Double]
    def observed(nameIn: String, df: DataFrame, metric: org.apache.spark.sql.Column): DataFrame = {
      // Census names are per-stage-TYPE; two stages of the same type (or
      // two KeepWhere stages sharing a name) must not overwrite each
      // other's thunk — uniquify repeats with an occurrence suffix so
      // `censuses` reports every stage once, in order.
      val name =
        if (!thunks.contains(nameIn)) nameIn
        else Iterator.from(2).map(i => s"${nameIn}_$i")
          .find(!thunks.contains(_)).get
      val obs = org.apache.spark.sql.Observation()
      names += name
      thunks(name) = () => obs.get("v") match {
        case l: java.lang.Long => l.toDouble
        case d: java.lang.Double => d
        case x => x.toString.toDouble
      }
      df.observe(obs, metric.as("v"))
    }

    // ONE persisted full-text copy per text epoch: expensive
    // text-producing stages (input scan, boilerplate rebuild) persist as
    // the epoch BASE; cheap projections (MapText) fold into the base
    // lazily — a second full-text persist was measured as the builder's
    // own spill chain (the same finding that slimmed q96 in r14).
    //
    // Survivor sets are NESTED by construction (stage n's ids are
    // computed from a frame already restricted by stage n-1's), so the
    // current frame is always epochBase ⋈ the LATEST survivor set — ONE
    // slim join, never a growing join chain.
    // caches are TRUNCATING (localCheckpoint, CacheLifecycle.truncate),
    // not plain persists: a persist dedups execution but every reference
    // still re-inlines the frame's whole analyzed lineage, and in this
    // chain the trees multiply stage over stage until PLANNING (analysis
    // + cache-lookup canonicalization) dominates the driver (r19
    // sampling: ~5 s of q136's 13 s). The checkpoint materializes at the
    // same point the first consuming action would and hands every later
    // stage a leaf-sized plan. In-query lifetime; released with Result.
    var epochBase: DataFrame = {
      val in = observed("input_docs", docs, count(lit(1)))
      if (!persistInput) in
      else {
        val p = CacheLifecycle.truncate(in)
        caches += p
        p
      }
    }
    var latestKept: DataFrame = null // slim persisted id set; null = all
    def frame: DataFrame =
      if (latestKept == null) epochBase
      else epochBase.join(latestKept, Seq(idCol))

    // shared (doc, term, tf) per text epoch, persisted once; by the
    // nesting invariant only the LATEST survivor set (if newer than the
    // tf build) restricts it — a single cache-vs-cache semi-join probe
    var tfBase: DataFrame = null
    var tfAtKept: DataFrame = null // survivor set baked into tfBase
    def sharedTf(): DataFrame = {
      if (tfBase == null) {
        tfBase = CacheLifecycle.truncate(
          TextAnalysis.termFrequencies(frame, idCol, textCol))
        caches += tfBase
        tfAtKept = latestKept
      }
      if (latestKept eq tfAtKept) tfBase
      else tfBase.join(latestKept, Seq(idCol), "left_semi")
    }
    def applySurvivors(name: String, ids: DataFrame): Unit = {
      val kept = CacheLifecycle.truncate(
        observed(name, ids, count(lit(1))))
      caches += kept
      latestKept = kept
    }

    def releaseAll(): Unit = {
      caches.foreach(CacheLifecycle.releaseTruncated)
      releasers.foreach(_())
    }
    def runStage(stage: Stage): Unit = stage match {
      case RemoveBoilerplate(groupCol, maxDocFrac, minDocs) =>
        // drop the census column BEFORE the persist: the cache is the
        // pipeline's one full-text copy and every later stage scans it —
        // the observation only needs the column inside its own plan
        val cleaned = CacheLifecycle.truncate(
          observed("boiler_removed_lines",
            TextAnalysis.removeBoilerplateLines(
              frame, idCol, textCol, groupCol, maxDocFrac, minDocs),
            coalesce(sum(col("removed_lines")), lit(0L)))
          .drop("removed_lines"))
        caches += cleaned
        tfBase = null; tfAtKept = null
        // the rebuild consumed the RESTRICTED frame, so the new epoch
        // base already embeds every prior survivor set
        epochBase = cleaned
        latestKept = null

      case MapText(_, expr) =>
        // a projection folded into the epoch base — no new persist, no
        // action, no census (row count is unchanged by construction);
        // restriction commutes with a per-row column rewrite
        epochBase = epochBase.withColumn(textCol, expr)
        tfBase = null; tfAtKept = null

      case QualityClassifier(labelExpr, seedPred, keepLabel, alpha) =>
        val all = sharedTf()
        // the one slim seed cut, (id, label): training reads it as a
        // leaf, and countState's inner join with it restricts the shared
        // tf to seed docs, so the featurizer hands over the tf as it is
        val seed = CacheLifecycle.truncate(
          frame.where(seedPred).select(col(idCol), labelExpr.as("graft_label")))
        caches += seed
        val allTf: Classify.Featurizer = (_, _, _) => all
        val model = Classify.trainNaiveBayes(
          seed, idCol, textCol, "graft_label", alpha, allTf)
        // the scoring job runs lazily inside a LATER stage's (or the
        // caller's) materialization — the model's broadcast state must
        // outlive this stage, so it releases with the Result
        releasers += (() => model.release())
        val keptIds = Classify
          .scoreNaiveBayes(frame, idCol, textCol, model, allTf)
          .where(col("predicted") === keepLabel)
          .select(col(idCol))
        applySurvivors("quality_kept", keptIds)

      case PerplexityKeep(groupCol, nBuckets, keepMax) =>
        // persist the restricted tf when a restriction exists: the LM
        // scorer consumes its tf several times (T/V totals, term
        // counts, the per-doc rollup)
        val tfP = sharedTf() match {
          case t if t eq tfBase => t
          case t =>
            val p = CacheLifecycle.truncate(t)
            caches += p
            p
        }
        val keptIds = TextAnalysis
          .perplexityBuckets(frame, idCol, textCol, groupCol, nBuckets,
            precomputedTf = Some(tfP))
          .where(col("bucket") <= keepMax)
          .select(col(idCol))
        applySurvivors("perplexity_kept", keptIds)

      case UrlDedup(urlExpr) =>
        val keptIds = Domains
          .dedupByCanonicalUrl(
            frame.select(col(idCol), urlExpr.as("graft_curl")),
            "graft_curl", idCol)
          .select(col(idCol))
        applySurvivors("url_dedup_kept", keptIds)

      case KeepWhere(name, predicate) =>
        applySurvivors(name + "_kept",
          frame.where(predicate).select(col(idCol)))

      case DedupAgainstState(statePath, batchId) =>
        val spark = epochBase.sparkSession
        val statePathH = new org.apache.hadoop.fs.Path(statePath)
        val fs = statePathH
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // pin the HISTORY part list now: the survivors evaluate lazily,
        // and a root-dir read would re-list the directory AFTER this
        // stage's own part lands (or a replayed run's leftover) and drop
        // the whole batch as already-seen
        val history: Array[String] =
          if (!fs.exists(statePathH)) Array.empty
          else fs.listStatus(statePathH)
            .filter(st => st.isDirectory &&
              st.getPath.getName != s"batch=$batchId")
            .map(_.getPath.toString)
        val seen: DataFrame =
          if (history.nonEmpty)
            spark.read.parquet(history.toIndexedSeq: _*).select(col("graft_kh"))
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("graft_kh",
                org.apache.spark.sql.types.StringType))))
        // the batch's NEW keys append eagerly (replays overwrite their
        // own part); survivors restrict the frame like any other stage
        Dedup.seenTextKeys(frame, textCol)
          .join(seen, Seq("graft_kh"), "left_anti")
          .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
        applySurvivors("state_dedup_kept",
          Dedup.exactDedupIncremental(frame, textCol, idCol, seen)
            .select(col(idCol)))
    }

    // a throwing stage leaves no materialized cut behind: release what
    // the earlier stages registered, then rethrow
    try stages.foreach(runStage)
    catch { case e: Throwable => releaseAll(); throw e }
    new Result(frame, names.toSeq, n => thunks(n)(), () => releaseAll())
  }
}
