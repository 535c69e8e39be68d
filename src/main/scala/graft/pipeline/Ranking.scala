package graft.pipeline

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
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
  * group size becomes parallelism, not a hot task. The two passes are
  * [[prefixScan]], the one scan every prefix-offset operator
  * ([[Packing]], [[Mixing.tokenBudgetSample]], the exact quantile) runs.
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
    * type (numeric / string / boolean / date / timestamp). With a
    * non-total `orderCols`, tied rows may land in different tiles on
    * different consumptions of the result, since each re-sorts the range
    * partitions.
    *
    * Returns `df` with `bucketCol` (IntegerType, 1-based) appended: a
    * lazy frame over the second pass of [[prefixScan]], which caches
    * nothing. It can be consumed any number of times while the range
    * shuffle's output lives (as long as the frame is reachable).
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
    // cut the input: repartitionByRange SAMPLES its child to pick the
    // range bounds, so an uncut upstream is evaluated at least twice
    // (sample pass + shuffle pass). The cut also truncates the logical
    // plan to a LogicalRDD leaf: in the curation chains the analyzed tree
    // behind `df` is huge, and planning it, not executing it, was the
    // measured cost (~3 s of driver RUNNABLE time in q136's perplexity
    // stage). A frame the caller already persisted, or cut with
    // CacheLifecycle.truncate (a LogicalRDD leaf over a persisted RDD),
    // is used as-is (and not released). The cut is released once the
    // range shuffle is written: pass 2 reads only the shuffle output.
    val callerCached =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
        (df.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
          case _ => false
        })
    val input =
      if (callerCached) df
      else CacheLifecycle.truncate(df)
    val nb = nBuckets.toLong
    val out =
      try prefixScan(input, sortCols)(
        // per-partition group runs in row order: groups are contiguous
        // under the range partitioning, so a partition holds at most
        // (runs) groups and the collected total is <= P + G
        it => {
          val runs = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
          var cur: Any = null
          var n = 0L
          it.foreach { r =>
            val g = r.get(gi)
            if (n > 0 && g == cur) n += 1L
            else { if (n > 0) runs += ((cur, n)); cur = g; n = 1L }
          }
          if (n > 0) runs += ((cur, n))
          runs.toSeq
        })(
        // group totals and, per (partition, group), the exclusive rank
        // offset = rows of that group in earlier partitions
        parts => {
          val totals = scala.collection.mutable.HashMap.empty[Any, Long]
          val offsets = scala.collection.mutable.HashMap.empty[(Int, Any), Long]
          parts.zipWithIndex.foreach { case (runs, pid) =>
            runs.foreach { case (g, n) =>
              val sofar = totals.getOrElse(g, 0L)
              offsets((pid, g)) = sofar
              totals(g) = sofar + n
            }
          }
          (totals.toMap, offsets.toMap)
        }) { case (pid, (tot, off), it) =>
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
        }._2
      finally if (!callerCached) CacheLifecycle.releaseTruncated(input)
    spark.createDataFrame(out,
      StructType(schema.fields :+
        StructField(bucketCol, IntegerType, nullable = false)))
  }

  /** The range-sorted two-pass scan behind every prefix-offset operator
    * ([[groupedNtile]], Packing's document offsets,
    * [[Mixing.tokenBudgetSample]], [[Mixing.ppsSystematicSample]],
    * [[graft.operators.DistributedExactQuantile]] and
    * [[graft.sketch.Distance.exactNumericalDistance]]). `df` is
    * range-partitioned and sorted on `keys`; pass 1 reduces each
    * partition to one `summary` (collected in partition order), `prefix`
    * folds those on the driver, and pass 2 (the returned RDD) runs `emit`
    * over every sorted partition with its index and the broadcast prefix.
    * Returns the prefix and pass 2.
    *
    * Nothing is cached: the range shuffle's output is the only copy, and
    * each action over pass 2 re-reads and re-sorts it (no range shuffle
    * and no bound sampling runs again while that output lives). Rows
    * equal on `keys` may therefore come back in another order on another
    * action, so `keys` must order `df`'s rows totally for pass 2 to be
    * the same on every consumption. Pass 1 and `prefix` (and any
    * `require` in it) run at call time.
    */
  private[graft] def prefixScan[S: ClassTag, P: ClassTag, O: ClassTag](
      df: DataFrame, keys: Seq[Column])(
      summary: Iterator[Row] => S)(
      prefix: Array[S] => P)(
      emit: (Int, P, Iterator[Row]) => Iterator[O]): (P, RDD[O]) = {
    val sorted = df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*).rdd
    val p = prefix(sorted.mapPartitions(it => Iterator.single(summary(it))).collect())
    val bp = df.sparkSession.sparkContext.broadcast(p)
    (p, sorted.mapPartitionsWithIndex((i, it) => emit(i, bp.value, it)))
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
