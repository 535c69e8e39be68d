package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.checks.{Check, VerificationResult, VerificationSuite}
import graft.core._
import graft.runners.AnalysisRunner

/** Streaming data quality: incremental verification over micro-batches.
  *
  * The reference has no Structured Streaming surface; its mergeable-state
  * algebra makes one almost free (SURVEY §1, §2.5): each micro-batch's
  * analyzer states merge into a running provider, and checks evaluate on
  * the CUMULATIVE state after every batch — exactly the semantics of its
  * batch-incremental examples, attached to `foreachBatch`.
  */
class StreamingVerifier(
    analyzers: Seq[AnyAnalyzer],
    checks: Seq[Check] = Seq.empty) {

  private val provider = new InMemoryStateProvider
  @volatile private var lastResult: Option[VerificationResult] = None
  @volatile private var lastBatchId: Long = -1L
  // lineage cuts of the frequency tables the provider holds (`live`) and
  // of the batch in flight (`pending`); a cut is released only once the
  // batch that replaced it has committed
  private var liveCuts: Seq[DataFrame] = Nil
  private var pendingCuts: Seq[DataFrame] = Nil

  /** Processes one micro-batch; returns the cumulative verification result. */
  def processBatch(batch: DataFrame): VerificationResult = synchronized {
    val all = (analyzers ++ checks.flatMap(_.requiredAnalyzers())).distinct
    val ctx = AnalysisRunner.run(
      batch, all, aggregateWith = Some(provider), saveStatesWith = Some(provider))
    truncateGroupingLineage(all)
    val result = VerificationSuite.evaluate(checks, ctx)
    liveCuts.foreach(graft.pipeline.CacheLifecycle.releaseTruncated)
    liveCuts = pendingCuts
    pendingCuts = Nil
    lastResult = Some(result)
    result
  }

  /** Idempotent flavor for foreachBatch's at-least-once contract: a
    * replayed batchId is NOT merged twice into the cumulative state — and
    * a batch that FAILS mid-processing (after some analyzers' states were
    * already merged into the provider) rolls the provider back to its
    * pre-batch snapshot before rethrowing, so the replay starts clean
    * instead of double-merging the partially-applied states.
    *
    * The guard assumes ONE streaming query lifetime: batchIds restart at 0
    * on a query with a fresh checkpoint location — call
    * [[resetBatchTracking]] when re-attaching this verifier to a new query
    * so its batches are not mistaken for replays.
    */
  def processBatch(batch: DataFrame, batchId: Long): VerificationResult = synchronized {
    if (batchId <= lastBatchId && lastResult.isDefined) lastResult.get
    else {
      val beforeBatch = provider.contents
      try {
        val r = processBatch(batch)
        lastBatchId = batchId
        r
      } catch {
        case e: Throwable =>
          // the snapshot still holds the live cuts; the failed batch's own
          // cuts are held by nothing once it is restored
          provider.replaceContents(beforeBatch)
          pendingCuts.foreach(graft.pipeline.CacheLifecycle.releaseTruncated)
          pendingCuts = Nil
          throw e
      }
    }
  }

  /** Accepts a new query's restarted batchId sequence while KEEPING the
    * accumulated states — see [[processBatch(batch:DataFrame,batchId:Long)*]].
    */
  def resetBatchTracking(): Unit = synchronized { lastBatchId = -1L }

  /** Cumulative frequency tables grow by one union per batch; after each
    * batch every family's table is cut once with
    * [[graft.pipeline.CacheLifecycle.truncate]] (the one lineage-cut
    * policy), so batch N does not re-execute N stacked unions over every
    * earlier micro-batch's (possibly no-longer-readable) DataFrame. The
    * members of a family share one table, and so one cut.
    */
  private def truncateGroupingLineage(all: Seq[AnyAnalyzer]): Unit = {
    val cutOf = new java.util.IdentityHashMap[DataFrame, DataFrame]()
    all.foreach {
      case g: graft.operators.GroupingAnalyzer[_] =>
        val typed = g.asInstanceOf[graft.core.Analyzer[
          graft.core.State[_], graft.core.Metric[_]]]
        provider.load(typed).foreach {
          case f: graft.operators.FrequenciesAndNumRows =>
            val cut = Option(cutOf.get(f.frequencies)).getOrElse {
              val c = graft.pipeline.CacheLifecycle.truncate(f.frequencies)
              cutOf.put(f.frequencies, c)
              pendingCuts :+= c
              c
            }
            provider.persist(typed, f.copy(frequencies = cut))
          case _ => ()
        }
      case _ => ()
    }
  }

  def latestResult: Option[VerificationResult] = lastResult

  /** foreachBatch hook: `stream.writeStream.foreachBatch(verifier.asForeachBatch(cb))`. */
  def asForeachBatch(onResult: (VerificationResult, Long) => Unit = (_, _) => ())
    : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => onResult(processBatch(batch, batchId), batchId)
}

/** Event-time windowed metrics for streams (and batch backfills of the
  * same query — identical code path, Spark-native).
  */
object StreamingOps {

  /** Tumbling/sliding windowed aggregation with a watermark. Works on a
    * streaming OR batch DataFrame: `window()` + aggregation is the same
    * logical plan either way.
    */
  def windowedAgg(
      data: DataFrame,
      timestampColumn: String,
      windowDuration: String,
      aggregations: Seq[Column],
      slideDuration: Option[String] = None,
      watermarkDelay: Option[String] = None,
      groupingColumns: Seq[String] = Seq.empty): DataFrame = {
    val withWatermark = (data.isStreaming, watermarkDelay) match {
      case (true, Some(delay)) => data.withWatermark(timestampColumn, delay)
      case _ => data
    }
    val win = slideDuration match {
      case Some(slide) => window(col(timestampColumn), windowDuration, slide)
      case None => window(col(timestampColumn), windowDuration)
    }
    withWatermark
      .groupBy(win +: groupingColumns.map(col): _*)
      .agg(aggregations.head, aggregations.tail: _*)
  }

  /** Session windows keyed by `keyColumns` with a gap duration. */
  def sessionized(
      data: DataFrame,
      timestampColumn: String,
      gapDuration: String,
      keyColumns: Seq[String],
      aggregations: Seq[Column],
      watermarkDelay: Option[String] = None): DataFrame = {
    val withWatermark = (data.isStreaming, watermarkDelay) match {
      case (true, Some(delay)) => data.withWatermark(timestampColumn, delay)
      case _ => data
    }
    withWatermark
      .groupBy(session_window(col(timestampColumn), gapDuration) +: keyColumns.map(col): _*)
      .agg(aggregations.head, aggregations.tail: _*)
  }

  /** Streaming exact deduplication on `keys` with BOUNDED state: with an
    * event-time watermark, Spark's stateful dedup expires seen keys once
    * they fall behind the watermark, so state size tracks the watermark
    * window instead of the whole stream — the only shape that survives an
    * unbounded 100-TB-scale ingest. On a batch DataFrame the same call
    * degrades to a plain dropDuplicates (identical semantics, no state).
    *
    * `withinWatermark = true` (the default) uses
    * dropDuplicatesWithinWatermark: duplicates arriving within the delay
    * of each other collapse and seen-key state EXPIRES — the
    * at-least-once-ingest idiom and the only bounded-state shape.
    * `withinWatermark = false` is a global exact dedup on the keys whose
    * state never expires — correct for bounded streams and backfills,
    * unbounded state growth on endless ones.
    */
  def dedupStream(
      data: DataFrame,
      timestampColumn: String,
      watermarkDelay: String,
      keys: Seq[String],
      withinWatermark: Boolean = true): DataFrame = {
    if (!data.isStreaming) data.dropDuplicates(keys)
    else {
      val wm = data.withWatermark(timestampColumn, watermarkDelay)
      if (withinWatermark) wm.dropDuplicatesWithinWatermark(keys)
      else wm.dropDuplicates(keys)
    }
  }

  /** Streaming near-duplicate suppression for text: exact dedup on the
    * 64-bit normalized-text fingerprint (whitespace/case-insensitive),
    * bounded by the watermark like [[dedupStream]]. Map-side fingerprint +
    * stateful dedup — no shuffle beyond the dedup state exchange.
    */
  def dedupStreamByFingerprint(
      data: DataFrame,
      timestampColumn: String,
      watermarkDelay: String,
      textColumn: String): DataFrame = {
    // the marker column would silently overwrite (then drop) a same-named
    // user column
    require(!data.columns.contains("graft_fp"),
      "input data must not contain a column named 'graft_fp' (reserved)")
    val withFp = data.withColumn("graft_fp",
      graft.pipeline.TextAnalysis.fingerprint(col(textColumn)))
    dedupStream(withFp, timestampColumn, watermarkDelay, Seq("graft_fp"))
      .drop("graft_fp")
  }

  /** Streaming ingest that maintains the PERSISTED exact-dedup state
    * ([[graft.pipeline.Dedup.seenTextKeys]]'s family) from a real
    * Structured Streaming query: attach [[DedupIngest.processBatch]] via
    * `foreachBatch`, and each micro-batch appends one slim
    * (graft_kh, graft_min_id) part under `statePath/batch=<id>` —
    * 128-bit text hash, smallest id seen for it in that batch. Because
    * (hash → min id) is a commutative monoid, the parts fold at READ
    * time ([[DedupIngest.survivors]]) to the global smallest id per
    * distinct text REGARDLESS of micro-batch boundaries or file
    * ordering — the emit-on-first-sight alternative would make survivor
    * election depend on whichever batch arrived first. Idempotent under
    * foreachBatch's at-least-once contract: a replayed batchId
    * overwrites its own part. Parts can be compacted offline by folding
    * them into one (the monoid again); the state never stores text.
    */
  final class DedupIngest(
      statePath: String, textCol: String, idCol: String) extends Serializable {

    /** The foreachBatch hook. Null texts/ids are not represented: they
      * can never win a survivor election.
      */
    def processBatch(batch: DataFrame, batchId: Long): Unit = {
      batch
        .where(col(textCol).isNotNull && col(idCol).isNotNull)
        .groupBy(md5(col(textCol).cast("binary")).as("graft_kh"))
        .agg(min(col(idCol)).as("graft_min_id"))
        .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    }

    def asForeachBatch(): (DataFrame, Long) => Unit = processBatch

    /** (graft_kh, graft_min_id) folded across every ingested part: the
      * exact-dedup survivor ids of the whole stream so far.
      */
    def survivors(spark: org.apache.spark.sql.SparkSession): DataFrame =
      spark.read.parquet(livePartPaths(spark, statePath): _*)
        .groupBy(col("graft_kh"))
        .agg(min(col("graft_min_id")).as("graft_min_id"))

    /** Folds every per-batch part into ONE compacted part (the monoid
      * again) so a long-lived ingest does not accumulate unbounded
      * small-file state. Safe between (not during) triggers; crash
      * safety per [[StreamingOps.compactStateDir]].
      */
    def compact(spark: org.apache.spark.sql.SparkSession): Unit =
      compactStateDir(spark, statePath, parts =>
        parts.groupBy(col("graft_kh"))
          .agg(min(col("graft_min_id")).as("graft_min_id")))
  }

  /** Crash-safe compaction shared by the streaming state ingests.
    *
    * Protocol (every step leaves a readable, NON-duplicated state):
    *  1. pin the live part list (excluding parts an earlier manifest
    *     already superseded);
    *  2. fold them into a sibling `-compacting` dir;
    *  3. write a SUPERSESSION MANIFEST `_superseded_<compactId>` naming
    *     the covered parts;
    *  4. rename the fold INTO the live dir as `batch=<compactId>`
    *     (counting down from Long.MaxValue, past any real batchId, so
    *     ingest never overwrites it and each re-compaction picks an
    *     unused id) — the rename's boolean result IS checked: Hadoop
    *     FileSystems report dest-exists/source-missing/object-store
    *     failures by returning false, not throwing, and deleting the
    *     sources after a failed rename would destroy the state;
    *  5. delete the covered parts, then the manifest.
    *
    * Readers ([[livePartPaths]]) honor a manifest ONLY when its
    * `batch=<compactId>` part exists, and then exclude every part it
    * names. So: a crash before step 4 leaves the original parts live
    * (the orphan manifest is inert and swept later); a crash between
    * steps 4 and 5 leaves the compacted part PLUS its sources, but the
    * manifest excludes the sources from every read — this matters
    * because NOT every state fold is idempotent: Misra-Gries counters
    * and KLL weights merge by SUMMING, so "harmless duplicate parts"
    * (the pre-r17 doc's claim) would silently double every count. Only
    * idempotent folds (min-id dedup, HLL register-max, theta union)
    * absorb duplicates; the manifest makes the guarantee uniform.
    */
  private[graft] def compactStateDir(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      fold: DataFrame => DataFrame,
      skipDeletesForCrashTest: Boolean = false): Unit = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    // self-heal first: finish any interrupted prior compaction (delete
    // parts a live manifest covers, then the manifest), drop orphan
    // manifests (no compacted part -> the rename never happened)
    sweepSuperseded(fs, root)
    // pin the part list BEFORE writing anything (lazy-read-after-write
    // rule): the fold must not see the part it is about to create
    val parts = livePartStatuses(fs, root)
    if (parts.size <= 1) return
    val usedIds = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .flatMap(st =>
        scala.util.Try(st.getPath.getName.stripPrefix("batch=").toLong).toOption)
    // fresh id below any prior compaction id, still above real batches
    val priorCompactions = usedIds.filter(_ > Long.MaxValue - 1000000L)
    val compactId =
      if (priorCompactions.isEmpty) Long.MaxValue
      else priorCompactions.min - 1L
    val tmp = new org.apache.hadoop.fs.Path(s"$statePath-compacting")
    fold(spark.read.parquet(parts.map(_.getPath.toString): _*))
      .write.mode("overwrite").parquet(tmp.toString)
    val manifest = new org.apache.hadoop.fs.Path(
      s"$statePath/${SupersededPrefix}$compactId")
    val out = fs.create(manifest, true)
    try out.write(
      parts.map(_.getPath.getName).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dest = new org.apache.hadoop.fs.Path(s"$statePath/batch=$compactId")
    if (!fs.rename(tmp, dest) || !fs.exists(dest)) {
      // failed rename: leave the original parts untouched, remove the
      // now-inert manifest and the staged fold, and fail LOUDLY
      fs.delete(manifest, false)
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"compactStateDir: rename $tmp -> $dest failed; " +
          "state left as-is (no parts were deleted)")
    }
    if (!skipDeletesForCrashTest) {
      parts.foreach(st => fs.delete(st.getPath, true))
      fs.delete(manifest, false)
    }
  }

  private val SupersededPrefix = "_superseded_"

  /** Part dirs that are LIVE: `batch=` dirs minus any part a completed
    * compaction's manifest covers (manifests whose compacted part is
    * absent never completed their rename and are ignored).
    */
  private def livePartStatuses(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val all = fs.listStatus(root).toSeq
    val parts = all.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch="))
    val names = parts.map(_.getPath.getName).toSet
    val covered = all
      .filter(st => st.isFile &&
        st.getPath.getName.startsWith(SupersededPrefix))
      .flatMap { mf =>
        val cid = mf.getPath.getName.stripPrefix(SupersededPrefix)
        if (names.contains(s"batch=$cid")) readManifest(fs, mf.getPath)
        else Seq.empty
      }
      .toSet
    parts.filterNot(st => covered.contains(st.getPath.getName))
  }

  /** The live parquet part paths of a state dir — what [[SketchStateIngest.state]]
    * and [[DedupIngest.survivors]] actually read. Throws the reader's
    * PATH_NOT_FOUND when the dir has never been written (contract
    * unchanged).
    */
  private[graft] def livePartPaths(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq(statePath) // let the reader throw
    val live = livePartStatuses(fs, root).map(_.getPath.toString)
    // an existing dir with zero live batch= parts (e.g. created empty, or
    // every part superseded and swept) must surface the reader's own
    // documented error, not a zero-path schema-inference failure
    if (live.isEmpty) Seq(statePath) else live
  }

  private def readManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(path)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8").split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty)
    } finally in.close()
  }

  /** Finish interrupted compactions: for every manifest whose compacted
    * part exists, delete any still-present covered parts and then the
    * manifest; drop manifests whose compacted part never appeared.
    */
  private def sweepSuperseded(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val all = fs.listStatus(root).toSeq
    val partNames = all.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName).toSet
    all.filter(st => st.isFile &&
        st.getPath.getName.startsWith(SupersededPrefix))
      .foreach { mf =>
        val cid = mf.getPath.getName.stripPrefix(SupersededPrefix)
        if (partNames.contains(s"batch=$cid")) {
          readManifest(fs, mf.getPath).foreach { covered =>
            val p = new org.apache.hadoop.fs.Path(root, covered)
            if (fs.exists(p)) fs.delete(p, true)
          }
        }
        fs.delete(mf.getPath, false)
      }
  }

  /** Streaming maintenance for the persisted per-group sketch-state
    * families ([[graft.sketch.FreqItems]] Misra-Gries frequent items,
    * [[graft.sketch.KllGroupState]] quantiles, [[graft.sketch.HllState]]
    * distincts — any per-group commutative state frame): attach
    * [[asForeachBatch]] to a Structured Streaming query and each
    * micro-batch writes ONE slim per-group state part under
    * `statePath/batch=<id>` via `buildBatchState` (e.g.
    * `FreqItems.freqState(_, ...)`). Because every family is a
    * commutative monoid, the parts fold at READ time ([[state]], via the
    * family's `foldState`) to the same frame a one-shot full-corpus
    * build produces, REGARDLESS of micro-batch boundaries or file
    * ordering — this is the q152/q153 drift family's missing streaming
    * twin: two long-lived ingests (yesterday's crawl, today's) feed
    * StateDrift / the drift checks directly, the corpora never
    * rescanned. Idempotent under foreachBatch's at-least-once contract:
    * a replayed batchId overwrites its own part. Multiple ingests
    * compose in one query (`(b, id) => { mg.processBatch(b, id);
    * kll.processBatch(b, id) }`): each maintains its own state dir.
    */
  final class SketchStateIngest(
      statePath: String,
      buildBatchState: DataFrame => DataFrame,
      foldParts: DataFrame => DataFrame) extends Serializable {

    /** The foreachBatch hook: builds the micro-batch's per-group state
      * frame and stages it as this batch's part.
      */
    def processBatch(batch: DataFrame, batchId: Long): Unit =
      buildBatchState(batch).write.mode("overwrite")
        .parquet(s"$statePath/batch=$batchId")

    def asForeachBatch(): (DataFrame, Long) => Unit = processBatch

    /** The folded per-group state across every ingested part — equal to
      * a one-shot build over the whole stream so far (monoid law). The
      * `batch` partition column is dropped before the fold: it is
      * ingest bookkeeping, not a group key. Throws PATH_NOT_FOUND before
      * the first batch has ever fired (same contract as
      * [[DedupIngest.survivors]]) — an ingest with no history has no
      * schema to fabricate an empty state from.
      */
    def state(spark: org.apache.spark.sql.SparkSession): DataFrame =
      foldParts(
        spark.read.parquet(livePartPaths(spark, statePath): _*).drop("batch"))

    /** Folds every per-batch part into ONE compacted part — crash
      * safety per [[StreamingOps.compactStateDir]]. Safe between (not
      * during) triggers.
      */
    def compact(spark: org.apache.spark.sql.SparkSession): Unit =
      compactStateDir(spark, statePath, foldParts)
  }

  /** Data freshness: fraction of rows within `maxAgeSeconds` of `nowEpoch`
    * (batch analog of the reference's DataFreshness DQDL rule,
    * dqdl/execution/executors/DataFreshnessExecutor.scala:27).
    */
  def freshnessRatio(data: DataFrame, timestampColumn: String,
      maxAgeSeconds: Long, nowEpoch: Long): Double = {
    val row = data.agg(
      coalesce(sum(
        (unix_timestamp(col(timestampColumn)) >= lit(nowEpoch - maxAgeSeconds))
          .cast("long")), lit(0L)),
      count(lit(1))).collect().head
    if (row.getLong(1) == 0L) 1.0 else row.getLong(0).toDouble / row.getLong(1)
  }
}
