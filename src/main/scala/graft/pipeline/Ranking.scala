package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed exact ranking primitives.
  *
  * Spark's own `ntile(n).over(Window.partitionBy(g).orderBy(k))` funnels
  * EVERY row of a group through one reducer task that sorts the whole
  * group — fine when groups are small (a 64-term vocabulary, a per-doc
  * window), fatal when the group is "all documents of one language" and
  * the corpus is 100 TB: the biggest language IS most of the corpus, so
  * one task would sort most of the data. CCNet-style perplexity
  * bucketing ranks exactly that shape.
  *
  * [[groupedNtile]] reproduces the window's EXACT semantics (same tile
  * sizes, same ordering, ties broken by the caller's key) without the
  * per-group sort task: a range repartition over (group, orderCols)
  * spreads each group across many partitions in global order, one slim
  * count pass ships (partition, group, rowCount) triples to the driver
  * (at most P + G rows — groups are contiguous under range
  * partitioning), and a second pass assigns ranks from broadcast prefix
  * offsets. No task ever holds more than one range partition; skew in
  * group size becomes parallelism, not a hot task. This is the
  * [[Packing]] / [[Mixing.tokenBudgetSample]] prefix-sum machinery
  * generalized to keyed groups.
  *
  * reference capability: none (deequ has no ranking operator); part of
  * the beyond-reference LLM-pipeline family (SURVEY §2 pipeline block).
  */
object Ranking {

  /** Exact `ntile(nBuckets)` over `Window.partitionBy(groupCol)
    * .orderBy(orderCols)` — identical output to the Spark window (and to
    * an ANSI-SQL `ntile` replay) for a total per-group ordering, computed
    * without a per-group single-task sort.
    *
    * `orderCols` must make rows totally ordered within a group
    * (include a unique tiebreak column — ties would otherwise land in
    * range-boundary-dependent buckets) and must not contain nulls;
    * ascending, as in the SQL default. Null GROUP values are a group of
    * their own, as in SQL. Columns must be of an orderable primitive
    * type (numeric / string / boolean / date / timestamp).
    *
    * Returns `df` with `bucketCol` (IntegerType, 1-based) appended. The
    * result releases its cache after one consuming action (more under
    * [[CacheLifecycle.withConsumptions]]); consuming it past that count
    * fails, because its lineage runs through a released local checkpoint
    * of the input.
    */
  def groupedNtile(
      df: DataFrame,
      groupCol: String,
      orderCols: Seq[String],
      nBuckets: Int,
      bucketCol: String = "bucket"): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val spark = df.sparkSession
    val schema = df.schema
    val gi = schema.fieldIndex(groupCol)
    orderCols.foreach(schema.fieldIndex) // validate early, by name
    // enforce the documented "orderable primitive type" contract: the
    // driver-side prefix maps key group values with `==`/hashCode, and a
    // non-atomic group column (array/binary/struct) compares by reference
    // there — silently wrong run counts, not an error. Fail fast instead.
    (groupCol +: orderCols).foreach { c =>
      val atomic = schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
            DoubleType | StringType | BooleanType | DateType |
            TimestampType | TimestampNTZType => true
        case _: DecimalType => true
        case _ => false
      }
      require(atomic,
        s"groupedNtile requires atomic (orderable primitive) column types; " +
          s"'$c' is ${schema(c).dataType.simpleString}")
    }
    val sortCols = (groupCol +: orderCols).map(col)
    // cache the input: repartitionByRange SAMPLES its child to pick the
    // range bounds, so an uncached upstream is evaluated at least twice
    // (sample pass + shuffle pass) — and upstreams that release their
    // OWN internal caches after one consumption (the CacheLifecycle
    // convention, e.g. the LM scorers' tf frame) would recompute from
    // the raw corpus on the second pass. A frame the caller already
    // persisted, or cut with CacheLifecycle.truncate (a LogicalRDD leaf
    // over a persisted RDD), is used as-is (and not released).
    val callerCached =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
        (df.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
          case _ => false
        })
    // truncate, not persist: beyond the cache (both evaluate the
    // upstream once), the cut TRUNCATES the logical plan to a LogicalRDD
    // leaf. The `.rdd` conversion below and the count/assign passes each
    // re-plan this subtree, and in the curation chains the analyzed tree
    // behind `df` is huge (every cached frame's full lineage re-inlined
    // at each reference) — planning, not execution, was the measured
    // cost (~3 s of driver RUNNABLE time in q136's perplexity stage).
    val input =
      if (callerCached) df
      else CacheLifecycle.truncate(df)
    val sorted = input
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .rdd
    sorted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one slim pass up: per-partition per-group row counts. Groups are
      // contiguous runs under the range partitioning, so a partition
      // holds at most (runs) groups and the collected total is <= P + G.
      val counts: Array[(Int, Any, Long)] = sorted
        .mapPartitionsWithIndex { (pid, it) =>
          val runs = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
          var cur: Any = null
          var started = false
          var n = 0L
          it.foreach { r =>
            val g = r.get(gi)
            if (!started) { cur = g; started = true; n = 1L }
            else if (g == cur) n += 1L
            else { runs += ((cur, n)); cur = g; n = 1L }
          }
          if (started) runs += ((cur, n))
          runs.iterator.map { case (g, n) => (pid, g, n) }
        }
        .collect()
      // driver: group totals and, per (partition, group), the exclusive
      // rank offset = rows of that group in earlier partitions
      val totals = scala.collection.mutable.HashMap.empty[Any, Long]
      val offsets = scala.collection.mutable.HashMap.empty[(Int, Any), Long]
      counts.sortBy(_._1).foreach { case (pid, g, n) =>
        val sofar = totals.getOrElse(g, 0L)
        offsets((pid, g)) = sofar
        totals(g) = sofar + n
      }
      val bTotals = spark.sparkContext.broadcast(totals.toMap)
      val bOffsets = spark.sparkContext.broadcast(offsets.toMap)
      val nb = nBuckets.toLong
      val out = sorted.mapPartitionsWithIndex { (pid, it) =>
        val tot = bTotals.value
        val off = bOffsets.value
        var cur: Any = null
        var started = false
        var rank = 0L // exclusive rank of the previous row within its group
        var n = 0L
        var q = 0L
        var rem = 0L
        var thr = 0L
        it.map { r =>
          val g = r.get(gi)
          if (!started || g != cur) {
            cur = g; started = true
            rank = off((pid, g))
            n = tot(g)
            q = n / nb
            rem = n % nb
            thr = (q + 1L) * rem // rows in the (q+1)-sized leading tiles
          }
          rank += 1L
          // SQL ntile: the first (n mod b) tiles get ceil(n/b) rows, the
          // rest floor(n/b); rank is 1-based within the group
          val bucket =
            if (rank <= thr) ((rank - 1L) / (q + 1L) + 1L).toInt
            else (rem + (rank - thr - 1L) / q + 1L).toInt
          Row.fromSeq(r.toSeq :+ bucket)
        }
      }
      // cache as a DataFrame (not the RDD — an RDD persist has no
      // release path a caller can see) and materialize BEFORE the
      // sorted cache is released below: the frame is lazy, and
      // re-running the range shuffle would re-sample its bounds. The
      // cache itself releases after the caller's first consumption via
      // CacheLifecycle — nothing strands for the session.
      val cached = spark.createDataFrame(out,
        StructType(schema.fields :+
          StructField(bucketCol, IntegerType, nullable = false)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count()
      CacheLifecycle.releaseOnConsume(
        cached.select(cached.columns.map(col).toSeq: _*), Seq(cached))
    } finally {
      sorted.unpersist(blocking = false)
      if (!callerCached) CacheLifecycle.releaseTruncated(input)
    }
  }

  /** Exact per-group top-k without a window — the public face of the
    * bounded-heap selection the ANN tails use ([[Similarity]]'s
    * TakeOrdered `Aggregator`): identical output contract to
    * `row_number().over(partitionBy(group).orderBy(score desc, id asc))
    * <= k`, but every corpus partition contributes at most k candidates
    * per group to the shuffle (map-side partial combine) and no task
    * ever sorts more than the aggregated survivors. THE replacement for
    * the per-group window whenever a group can be a corpus fraction —
    * top documents per language, per domain, per cluster.
    *
    * Returns (group, id, score, rank) with rank 1..k, ties broken by
    * ascending id; ids must be integral.
    */
  def topKPerGroup(
      scored: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String,
      k: Int): DataFrame =
    Similarity.topKPerQuery(scored, groupCol, idCol, scoreCol, k)
}
