package graft.pipeline

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Automatic release of internally persisted frames.
  *
  * Pipeline pair-search functions persist small intermediate frames
  * (signatures, capped LSH buckets) because several join sides probe them.
  * The result DataFrame is lazy, so the function itself cannot unpersist —
  * instead the result is tagged with a uniquely named `observe` metric and a
  * one-shot [[QueryExecutionListener]] unpersists the caches once
  * [[withConsumptions]]-many actions have executed a plan carrying that
  * tag (default: the first). On a long-lived session (the 100-TB pipeline
  * case) caches therefore live exactly as long as the result is
  * unconsumed, instead of forever.
  *
  * Callers that run SEVERAL actions over one returned pair frame (count
  * then collect, write then audit) either wrap the pair-search call in
  * [[withConsumptions]] so the caches survive that many consuming actions,
  * or persist the result themselves. Re-consuming past the declared count
  * recomputes the lineage without the caches — correct (everything is
  * deterministic), just slower — unless that lineage runs through a
  * [[truncate]]d frame whose blocks are released: that read fails.
  * Delivery rides the async listener bus: release is eventual, not
  * synchronous with the action.
  */
object CacheLifecycle {

  /** Materialize `df` NOW and truncate its logical plan to the computed
    * result (`localCheckpoint`): the same single evaluation a persist
    * would buy, but downstream consumers see a `LogicalRDD` leaf instead
    * of the full re-inlined lineage. In the deep curation chains the
    * analyzed tree behind each cached frame multiplies at every
    * reference (execution is deduped by the cache; PLAN SIZE is not),
    * and analysis + cache-lookup canonicalization of those trees — not
    * execution — was the measured dominant driver cost (r19 sampling:
    * ~5 s of a 13 s q136). Pair with [[releaseTruncated]]. Like a
    * persist, the upstream evaluates once and downstream reads the
    * materialized rows; UNLIKE a persist, the cut is not fault-tolerant:
    * the lineage is gone, so a block lost with an executor (loss,
    * decommission, dynamic-allocation scale-down) fails every later read
    * with a checkpoint-block-not-found error instead of recomputing, and
    * the frame is unusable after [[releaseTruncated]]. In-query lifetime
    * only — nothing outlives the query or keys on the input path.
    * If materializing fails, the RDD it marked is released before the
    * exception propagates.
    */
  def truncate(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // localCheckpoint returns no handle on the RDD it marked when its job
    // fails. A unique call site names that RDD (RDD.toString is
    // "<class>[<id>] at <creation site>"), so the catch can release it.
    val site = s"graft truncate #${truncations.incrementAndGet()}"
    val prevSite = sc.getLocalProperty(CallSiteShort)
    sc.setCallSite(site)
    try df.localCheckpoint()
    catch { case e: Throwable =>
      sc.getPersistentRDDs.values.filter(_.toString.endsWith(s"] at $site"))
        .foreach(_.unpersist(blocking = false))
      throw e
    } finally sc.setLocalProperty(CallSiteShort, prevSite)
  }

  private val truncations = new java.util.concurrent.atomic.AtomicLong()
  // SparkContext.setCallSite's local property (org.apache.spark.util.CallSite)
  private val CallSiteShort = "callSite.short"

  /** Release a frame produced by [[truncate]] (the blocks hang off the
    * checkpointed RDD, which Dataset.unpersist does not reach); falls
    * back to a plain unpersist for non-truncated frames, so release
    * lists may mix both kinds.
    */
  def releaseTruncated(df: DataFrame): Unit = {
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => df.unpersist(blocking = false)
    }
    ()
  }

  /** Actions (with or without the tag) after which an unconsumed result's
    * caches are released anyway — a safety valve for results that are
    * abandoned, or whose tagged subtree an optimization pruned away (e.g.
    * AQE empty-relation propagation short-circuiting a join side): the
    * listener and cache markings must not outlive the session.
    */
  private val MaxUnconsumedActions = 200

  private val consumptionsPolicy = new scala.util.DynamicVariable[Int](1)

  /** Runs `body` with every pair-search result constructed inside it
    * keeping its internal caches alive for `n` consuming actions instead
    * of one. The policy binds at RESULT CONSTRUCTION (the pair-search
    * call), not at action time — wrap the call, not the count().
    *
    * {{{
    * val pairs = CacheLifecycle.withConsumptions(2) {
    *   Similarity.cosinePairsLsh(df, "id", "vec", 0.9)
    * }
    * val n = pairs.count()     // caches still alive
    * val rows = pairs.collect() // second consumption -> caches released
    * }}}
    */
  def withConsumptions[T](n: Int)(body: => T): T = {
    require(n >= 1, "consumption count must be >= 1")
    consumptionsPolicy.withValue(n)(body)
  }

  /** Tag `result` so that `caches` are unpersisted (non-blocking) after
    * the action(s) that consume it — see [[withConsumptions]] for >1.
    */
  def releaseOnConsume(result: DataFrame, caches: Seq[DataFrame]): DataFrame =
    releaseOnConsumeAll(Seq(result), caches, consumptionsPolicy.value).head

  /** Multi-result variant: several lazy frames share the SAME caches (e.g.
    * a validator's valid + invalid splits over one marked-and-persisted
    * input). Each result gets its own tag; the caches release once
    * `consumptions` tagged consumptions have run in total — by default
    * one per result TIMES the ambient [[withConsumptions]] policy, so
    * consuming each frame once (or `n` times under the policy) releases
    * everything. An action whose plan carries SEVERAL of the tags (a join
    * or union of the splits) counts one consumption PER tag present — one
    * such action over both splits is full consumption. A result consumed
    * past its share steals another's budget; later consumers then
    * recompute without the caches — correct, just slower (same contract
    * as [[releaseOnConsume]]). The [[MaxUnconsumedActions]] valve still
    * bounds the cache lifetime when some results are abandoned.
    */
  def releaseOnConsumeAll(
      results: Seq[DataFrame],
      caches: Seq[DataFrame],
      consumptions: Int = -1): Seq[DataFrame] = {
    if (caches.isEmpty || results.isEmpty) return results
    val needed =
      if (consumptions >= 1) consumptions
      else results.length * consumptionsPolicy.value
    val base = "graft_release_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val tags = results.indices.map(i => s"${base}_$i")
    val spark = results.head.sparkSession
    val tagged = results.zip(tags).map { case (r, t) => r.observe(t, count(lit(1))) }
    val done = new AtomicBoolean(false)
    val taggedSeen = new AtomicInteger(0)
    val unrelatedActions = new AtomicInteger(0)
    val listener: QueryExecutionListener = new QueryExecutionListener {
      private def maybeRelease(qe: QueryExecution): Unit = {
        val tagsInPlan = tags.count(qe.observedMetrics.contains)
        val consumedEnough =
          tagsInPlan > 0 && taggedSeen.addAndGet(tagsInPlan) >= needed
        val expired = tagsInPlan == 0 &&
          unrelatedActions.incrementAndGet() >= MaxUnconsumedActions
        if ((consumedEnough || expired) && done.compareAndSet(false, true)) {
          caches.foreach(_.unpersist(blocking = false))
          spark.listenerManager.unregister(this)
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        maybeRelease(qe)
    }
    spark.listenerManager.register(listener)
    tagged
  }
}
