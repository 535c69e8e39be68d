package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic data-mixture sampling — the "sample the corpus to a target
  * recipe" step of a training-data pipeline (per-source/per-language keep
  * fractions a la C4/The Pile mixture tables; per-group token budgets a la
  * Dolma/RefinedWeb mixture tuning).
  *
  * Everything here is reproducible from the data alone — no RNG state, no
  * partition-order dependence:
  *
  *  - [[sampleHash]] ranks each row by the first 8 lowercase hex chars of
  *    `md5("<seed>:<id>")`, uniform over the 32-bit space. A keep-fraction
  *    compares the rank LEXICOGRAPHICALLY against a fixed-width hex
  *    threshold string — identical to the numeric compare for fixed-width
  *    lowercase hex, and replayable bit-for-bit by any engine with md5
  *    (the oracle does exactly that).
  *  - [[sample]] / [[stratifiedSample]]: pure map-side filters — no
  *    shuffle, no state; the predicate sits directly above the scan, so
  *    column pruning and pushdown survive. Changing the seed re-draws the
  *    sample; growing the corpus never changes the verdict on an existing
  *    row (the property that makes hash-sampling the standard for
  *    incremental corpus builds).
  *  - [[tokenBudgetSample]]: per group, keep documents in deterministic
  *    hash order until the CUMULATIVE (inclusive) whitespace-token count
  *    exceeds the group's budget — the prefix the budget affords. The
  *    running sum is NOT a `Window` partitioned by group (one task per
  *    group dies when a group is most of a 100 TB corpus): like
  *    [[graft.sketch.Distance.exactNumericalDistance]], rows
  *    range-partition on (group, hash, id, tokens), each partition
  *    reports per-group partial token sums (K small maps to the driver,
  *    K = shuffle partitions), and a second pass over the range-sorted
  *    slim projection seeds each partition's running totals from
  *    broadcast offsets ([[Ranking.prefixScan]]). No task ever holds more than
  *    one range partition, whatever the group skew.
  *
  * reference capability: deequ has no mixture sampling; this is part of the
  * beyond-reference LLM-pipeline family (SURVEY §2 pipeline block).
  */
object Mixing {

  /** [[domainReweight]]'s outcome: `weights` = the final grid-snapped
    * mixture weights per domain, `nll` = the snapped per-domain mean
    * NLLs that drove them, `tokens` = exact per-domain token counts,
    * `history` = the weight vector after every iteration.
    */
  final case class DomainReweightResult(
      weights: Map[String, Double],
      nll: Map[String, Double],
      tokens: Map[String, Long],
      history: List[Map[String, Double]])

  /** 8-hex-char deterministic rank of a row id in [0, 2^32), as a string:
    * `substr(md5("<seed>:<id>"), 1, 8)`. Lowercase hex, so lexicographic
    * order == numeric order at fixed width. Null ids rank null — SQL
    * string concatenation semantics, so a null-id row never passes a
    * `rank < threshold` filter, in the engine and in any oracle replay
    * alike (concat_ws would instead silently rank every null id at
    * md5("<seed>"), diverging from the SQL form).
    */
  def sampleHash(id: Column, seed: String): Column =
    substring(md5(concat(lit(seed + ":"), id.cast(StringType))), 1, 8)

  /** The 8-hex threshold string for a keep fraction: a row is kept iff
    * `sampleHash < threshold`. fraction <= 0 keeps nothing (nothing sorts
    * below ""); fraction >= 1 keeps everything ("g" sorts above every hex
    * digit, avoiding the 9-char overflow of %08x at 2^32).
    */
  def hexThreshold(fraction: Double): String =
    if (fraction <= 0.0) ""
    else if (fraction >= 1.0) "g"
    else f"${(fraction * 4294967296.0).toLong.min(4294967295L)}%08x"

  /** Deterministic Bernoulli(fraction) sample keyed on `idCol`. */
  def sample(df: DataFrame, idCol: String, fraction: Double,
      seed: String = "graft"): DataFrame =
    df.where(sampleHash(col(idCol), seed) < lit(hexThreshold(fraction)))

  /** Per-group keep fractions (e.g. per language / per source), one
    * map-side predicate: groups absent from `fractions` use
    * `defaultFraction`. Null group values take the default as well.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0,
      seed: String = "graft"): DataFrame = {
    val thr = fractions.foldLeft(lit(hexThreshold(defaultFraction))) {
      case (acc, (g, f)) =>
        when(col(groupCol) === lit(g), lit(hexThreshold(f))).otherwise(acc)
    }
    df.where(sampleHash(col(idCol), seed) < thr)
  }

  /** Deterministic train/val/test split assignment: appends a `split`
    * column chosen by consecutive [[sampleHash]] ranges, so membership is
    * a pure function of (seed, id) — stable across runs, machines, and
    * re-partitioning, and replayable in any engine that can md5 a string.
    * `fractions` are (name, fraction) in priority order; rows falling
    * beyond the cumulative total (when fractions sum < 1) get the LAST
    * split name, so every keyed row is assigned. Null-id rows get a NULL
    * split — the [[sampleHash]] contract (a null hash passes no range
    * test, in the engine and in any SQL replay alike). Map-side only —
    * no shuffle.
    */
  def splitAssign(
      df: DataFrame,
      idCol: String,
      fractions: Seq[(String, Double)],
      seed: String = "graft"): DataFrame = {
    require(fractions.nonEmpty, "at least one split required")
    require(fractions.forall(_._2 >= 0), "fractions must be non-negative")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9,
      "fractions must sum to at most 1")
    val h = sampleHash(col(idCol), seed)
    val cuts = fractions.init.scanLeft(0.0)(_ + _._2).tail
    val chain = fractions.init.zip(cuts).foldRight(
      lit(fractions.last._1): Column) { case (((name, _), cum), els) =>
      when(h < lit(hexThreshold(cum)), lit(name)).otherwise(els)
    }
    df.withColumn("split", when(h.isNotNull, chain))
  }

  /** Deterministic per-group top-`k` sample (eval-set carving): the k
    * rows with the smallest [[sampleHash]] per group — a uniform k-doc
    * holdout per source that never moves when the corpus grows around it
    * (a given id leaves the sample only when k smaller hashes exist in
    * its group). Null-id rows rank null and are dropped. Ids must be
    * integral and unique per group (they are document ids).
    *
    * Scale shape: delegates the selection to
    * [[Sampling.bottomKSample]] — the identical k-smallest-(hash, id)
    * contract as the former `row_number` window, but as a bounded-heap
    * aggregate (ObjectHashAggregate, map-side partial combine: each
    * input partition contributes at most k candidates per group), so a
    * corpus-sized hot group is never sorted inside one window task. The
    * groups × k picked ids then semi-join the input (null-safe on the
    * group key — a null group is a group) to recover the full rows;
    * that pick set is catalog-sized and broadcastable.
    */
  def groupSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      k: Int,
      seed: String = "graft"): DataFrame = {
    require(k > 0, "k must be positive")
    val picks = Sampling
      .bottomKSample(df.select(col(groupCol), col(idCol)), Seq(groupCol),
        idCol, k, seed)
      .select(col(groupCol).as("graft_gs_g"), col(idCol).as("graft_gs_i"))
    df.join(picks,
        col(groupCol) <=> col("graft_gs_g") &&
          col(idCol) === col("graft_gs_i"),
        "left_semi")
  }

  /** Temperature-weighted token budgets (the mT5 §3.1 / UniMax-style
    * mixture shape): per-group budgets proportional to `n_g^alpha` over a
    * shared `totalBudget`, where `n_g` is the group's token total —
    * `alpha < 1` flattens the mixture toward low-resource groups,
    * `alpha = 1` is proportional sampling. Feed the result straight into
    * [[tokenBudgetSample]] for the deterministic hash-prefix selection.
    *
    * Scale shape: ONE map-side-combinable groupBy collects a
    * catalog-sized (group, token-total) list to the driver; weights are
    * summed in sorted group order so the float total is deterministic.
    * Groups with null keys are ignored (tokenBudgetSample would drop
    * them anyway).
    */
  def temperatureBudgets(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      totalBudget: Long,
      alpha: Double = 0.5,
      tokenCount: Column => Column = tokenCountExpr): Map[String, Long] = {
    require(totalBudget >= 0, "totalBudget must be non-negative")
    val rows = df.where(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast(StringType).as("graft_g"))
      .agg(sum(tokenCount(col(textCol))).as("graft_n"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .sortBy(_._1)
    // n == 0 maps explicitly to weight 0: math.pow(0, 0) == 1 would hand
    // an EMPTY group an equal budget share at alpha = 0. Flooring leaves
    // up to one token per group unallocated — deliberate: budgets must
    // never overshoot totalBudget, and the prefix sampler treats them as
    // inclusive caps.
    val weights = rows.map { case (g, n) =>
      g -> (if (n == 0L) 0.0 else math.pow(n.toDouble, alpha))
    }
    val z = weights.map(_._2).sum
    if (z == 0.0) weights.map { case (g, _) => g -> 0L }.toMap
    else weights.map { case (g, w) =>
      g -> math.floor(totalBudget * w / z).toLong
    }.toMap
  }

  /** Per-domain corpus statistics for [[domainReweight]]: one row per
    * (non-null) domain with its exact token count and its mean per-token
    * negative log-likelihood under the CORPUS-level unigram LM,
    * `nll_d = Σ_t tf_{d,t}·(−ln(cnt_t / T)) / tokens_d` — the "how
    * surprising is this domain relative to the whole mixture" signal
    * that drives the reweighting. Scale shape: one tokenize pass into a
    * (domain, term, tf) frame (map-side-combinable groupBy), corpus term
    * totals derived from THAT frame by a second slim groupBy (vocab-
    * sized, never corpus-sized), one equi-join on term, and a K-row
    * rollup. Nothing corpus-sized shuffles twice.
    */
  def domainNll(
      df: DataFrame,
      domainCol: String,
      textCol: String): DataFrame = {
    val tf = df.where(col(domainCol).isNotNull)
      .select(col(domainCol).cast(StringType).as("graft_d"),
        explode(TextAnalysis.normalizedTokens(col(textCol))).as("graft_t"))
      .groupBy(col("graft_d"), col("graft_t"))
      .agg(count(lit(1)).as("graft_tf"))
      .persist()
    val totals = tf.groupBy(col("graft_t"))
      .agg(sum(col("graft_tf")).as("graft_cnt"))
    val grand = totals
      .agg(coalesce(sum(col("graft_cnt")), lit(0L)).as("graft_grand"))
    val out = tf
      .join(totals, Seq("graft_t"))
      .crossJoin(broadcast(grand))
      .groupBy(col("graft_d").as("domain"))
      .agg(
        sum(col("graft_tf")).as("tokens"),
        (sum(col("graft_tf") *
          -log(col("graft_cnt").cast(DoubleType) / col("graft_grand"))) /
          sum(col("graft_tf"))).as("nll"))
    val rows = out.collect()
    tf.unpersist(blocking = false)
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, arXiv:2305.10429,
    * simplified to a fixed per-domain reference loss): exponentiated-
    * gradient ascent on mixture weights over the per-domain EXCESS loss,
    * `α̃_d ← α_d·exp(η·(nll_d − Σ_e α_e·nll_e))`, then normalize, mix
    * `c/K` uniform smoothing in, and snap to the `roundDecimals` grid —
    * so domains more surprising than the current-mixture average gain
    * weight, the uniform floor keeps every domain sampled, and the whole
    * trajectory is a pure function of the data (the q102/q106 determinism
    * convention; per-domain NLLs are snapped to the same grid BEFORE the
    * chain so distributed float-sum order cannot leak in). The heavy work
    * is the ONE [[domainNll]] corpus pass; iterations are K-row driver
    * math. Returns (sorted-domain) final weights, the snapped NLLs, exact
    * token counts, and the full weight trajectory.
    */
  def domainReweight(
      df: DataFrame,
      domainCol: String,
      textCol: String,
      iterations: Int = 5,
      eta: Double = 0.5,
      uniformMix: Double = 0.1,
      roundDecimals: Int = 6): DomainReweightResult = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(uniformMix >= 0 && uniformMix < 1,
      s"uniformMix must be in [0, 1), got $uniformMix")
    require(roundDecimals >= 0, "roundDecimals is the determinism grid")
    def snap(v: Double): Double =
      BigDecimal(v).setScale(roundDecimals, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val stats = domainNll(df, domainCol, textCol).collect()
      .map(r => (r.getString(0), r.getLong(1),
        snap(if (r.isNullAt(2)) 0.0 else r.getDouble(2))))
      .sortBy(_._1)
    require(stats.nonEmpty, "domainReweight needs at least one domain")
    val k = stats.length
    val nll = stats.map(_._3)
    var alpha = Array.fill(k)(snap(1.0 / k))
    var history = List.empty[Array[Double]]
    for (_ <- 1 to iterations) {
      val baseline = alpha.zip(nll).map { case (a, l) => a * l }.sum
      val unnorm = alpha.zip(nll).map { case (a, l) =>
        a * math.exp(eta * (l - baseline))
      }
      val z = unnorm.sum
      alpha = unnorm.map(u =>
        snap((1.0 - uniformMix) * u / z + uniformMix / k))
      history ::= alpha
    }
    DomainReweightResult(
      stats.map(_._1).zip(alpha).toMap,
      stats.map(s => s._1 -> s._3).toMap,
      stats.map(s => s._1 -> s._2).toMap,
      history.reverse.map(a => stats.map(_._1).zip(a).toMap))
  }

  /** Rows of `df` forming, per group, the hash-ordered prefix whose
    * inclusive cumulative whitespace-token count stays within
    * `budgets(group)`. Groups absent from `budgets` are dropped — the
    * budget map IS the mixture recipe. Ties are broken by id, so the
    * result is a pure function of (data, seed, budgets). Null text counts
    * zero tokens (kept for free if its hash rank falls inside the prefix).
    *
    * Execution: one range exchange on (group, hash, id, tokens) over a
    * slim 4-column projection — the tokens key orders rows sharing an id,
    * so every consumption keeps the same ones — two passes over the
    * range-sorted partitions ([[Ranking.prefixScan]]: partial sums up,
    * offsets broadcast down), then a semi-join back to the full rows —
    * AQE picks broadcast when the kept-id set is small, sort-merge when
    * it is most of the corpus.
    */
  def tokenBudgetSample(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      budgets: Map[String, Long],
      seed: String = "graft",
      tokenCount: Column => Column = tokenCountExpr): DataFrame = {
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val slim = df
      .where(col(idCol).isNotNull &&
        col(groupCol).isin(budgets.keys.toSeq.map(lit): _*))
      .select(
        col(groupCol).cast(StringType).as("graft_g"),
        sampleHash(col(idCol), seed).as("graft_h"),
        col(idCol).as("graft_id"),
        tokenCount(col(textCol)).cast(LongType).as("graft_t"))
    val (_, keptIds) = Ranking.prefixScan(slim, slim.columns.toSeq.map(col))(
      // pass 1: per-partition per-group token totals — K small maps
      it => {
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { r =>
          val g = r.getString(0)
          m.update(g, m.getOrElse(g, 0L) + r.getLong(3))
        }
        m.toMap
      })(
      // offsets(i)(g) = tokens of group g in partitions before i; range
      // partitioning keys on group first, so each group's rows are a
      // contiguous partition run and the offsets are exact prefix sums
      partTotals => {
        val running = scala.collection.mutable.HashMap.empty[String, Long]
        partTotals.map { m =>
          val snap = m.keys.map(g => g -> running.getOrElse(g, 0L)).toMap
          m.foreach { case (g, t) =>
            running.update(g, running.getOrElse(g, 0L) + t)
          }
          snap
        }
      }) { (i, offsets, it) =>
      val cum = scala.collection.mutable.HashMap.empty[String, Long]
      offsets(i).foreach { case (g, o) => cum.update(g, o) }
      it.flatMap { r =>
        val g = r.getString(0)
        val c = cum.getOrElse(g, 0L) + r.getLong(3)
        cum.update(g, c)
        if (c <= budgets(g)) Iterator(Row(r.get(2))) else Iterator.empty
      }
    }
    val keptDf = df.sparkSession.createDataFrame(keptIds,
      StructType(Seq(idField.copy(name = idCol))))
    df.join(keptDf, Seq(idCol), "left_semi")
  }

  /** Whitespace token count matching [[Repetition]] / the oracle
    * convention: split on `\s+`, drop empties, null text = 0. Delegates
    * to [[TextAnalysis.tokenCount]] — the repo's one canonical tokenizer.
    */
  def tokenCountExpr(text: Column): Column =
    coalesce(TextAnalysis.tokenCount(text).cast(LongType), lit(0L))

  // -- deterministic sharding (the output stage) -----------------------------

  /** Deterministic shard id in [0, nShards) from the [[sampleHash]]
    * hex prefix — a pure function of (seed, id), so a re-run, a
    * different cluster, or another engine (the oracle replays it as
    * `('0x' || substr(md5(...), 1, 8))::BIGINT % n`) lands every
    * document in the same shard. Training-data writers shard this way
    * so downstream loaders can address the corpus deterministically.
    * A null id yields a NULL shard ([[sampleHash]] null-propagates) —
    * callers must decide what a keyless row means; [[shardStats]] and
    * [[writeSharded]] drop null-id rows explicitly.
    */
  def shardOf(id: Column, nShards: Int, seed: String = "shard"): Column = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    pmod(conv(sampleHash(id, seed), 16, 10).cast(LongType), lit(nShards.toLong))
  }

  /** Per-shard balance audit: (shard, n_docs, n_tokens, id_sum) — the
    * numbers a loader team checks before training starts. One map-side
    * combinable groupBy over a slim projection; the md5 spreads ids
    * uniformly, so shard sizes concentrate tightly around n/nShards
    * (each doc is an independent coin — no range/modulo striping
    * artifacts from id assignment order).
    */
  def shardStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nShards: Int,
      seed: String = "shard"): DataFrame =
    df.where(col(idCol).isNotNull)
      .select(
        shardOf(col(idCol), nShards, seed).as("shard"),
        col(idCol).as("graft_id"),
        tokenCountExpr(col(textCol)).as("graft_t"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("graft_t")).as("n_tokens"),
        sum(col("graft_id")).as("id_sum"))

  /** Write `df` as parquet partitioned by the deterministic shard id:
    * `dir/shard=<k>/...`. Null-id rows are DROPPED (they have no shard;
    * a loader addressing shards 0..n-1 could never see them anyway —
    * quarantine keyless rows before writing if they matter). The
    * pre-write repartition ON the shard column gives one writer task
    * per shard (no small-file spray: without it, every input partition
    * writes a sliver into every shard directory — nShards ×
    * inputPartitions files).
    */
  def writeSharded(
      df: DataFrame,
      idCol: String,
      dir: String,
      nShards: Int,
      seed: String = "shard"): Unit =
    df.where(col(idCol).isNotNull)
      .withColumn("shard", shardOf(col(idCol), nShards, seed))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)

  /** Systematic probability-proportional-to-size sampling (classic PPS
    * survey design): lay every row's weight on a cumulative line ordered
    * by id, drop k evenly spaced probes at offsets (W*(2j+1)) div (2k)
    * for j in 0..k-1, and sample each row once per probe landing inside
    * its [start, start+w) span. Heavy rows can be hit more than once —
    * that multiplicity IS the PPS estimate's weighting, reported rather
    * than hidden.
    *
    * Fully deterministic and integer-exact: the prefix line comes from
    * [[Ranking.prefixScan]] (range repartition on (id, weight) +
    * broadcast prefix, no global window), and the per-row
    * hit count is CLOSED-FORM — #{j : probe_j < x} inverts to one integer
    * division, so no probe set is ever materialized or joined. One
    * shuffle (the range partition), then pure map-side arithmetic.
    *
    * Returns (idCol, weight, start, pps_mult); rows with weight 0 can
    * never be hit. Requires 2*k*W to fit a long.
    */
  def ppsSystematicSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val slim = df
      .where(col(idCol).isNotNull)
      .select(col(idCol).as("graft_id"),
        coalesce(col(weightCol).cast(LongType), lit(0L)).as("graft_w"))
    val (_, rows) = Ranking.prefixScan(slim, Seq(col("graft_id"), col("graft_w")))(
      it => it.foldLeft(0L)(_ + _.getLong(1)))(
      partTotals => {
        val offsets = partTotals.scanLeft(0L)(_ + _)
        val totalW = offsets.last
        require(totalW > 0, "ppsSystematicSample needs positive total weight")
        require(totalW <= Long.MaxValue / (2L * k),
          s"2*k*W overflows a long (W=$totalW, k=$k)")
        offsets
      }) { (i, offsets, it) =>
      val totalW = offsets.last
      var running = offsets(i)
      // #{j in [0,k) : (W*(2j+1)) div (2k) < x} — probes strictly
      // below x; floor(y) < x for integer x iff y < x
      def probesBelow(x: Long): Long = {
        val num = 2L * k * x - totalW
        if (num <= 0) 0L
        else math.min(k.toLong, (num - 1) / (2L * totalW) + 1)
      }
      it.map { r =>
        val w = r.getLong(1)
        val start = running
        running += w
        Row(r.get(0), w, start, probesBelow(start + w) - probesBelow(start))
      }
    }
    df.sparkSession.createDataFrame(rows, StructType(Seq(
      idField.copy(name = idCol),
      StructField("weight", LongType, nullable = false),
      StructField("start", LongType, nullable = false),
      StructField("pps_mult", LongType, nullable = false))))
  }

  // -- deterministic training-order curriculum (epoch shuffle) ---------------

  /** Modulus for the curriculum permutation keys: 2^31 − 1 (Mersenne
    * prime). Prime so every non-zero multiplier is invertible — each
    * epoch's affine stage is a bijection on [0, p) and ids never
    * collapse onto one key by the arithmetic itself.
    */
  val CurriculumP: Long = 2147483647L

  /** MINSTD generator — epoch `e`'s multiplier is `MulA^(e+1) mod p`, a
    * full-size (~p) pseudo-random constant per epoch, so consecutive
    * epochs draw unrelated permutations. A SMALL multiplier here is a
    * real defect, not a style choice: with `a = 48272` the key map of
    * consecutive ids is locally monotonic (no shuffle at all for id
    * ranges under p/a) — caught by MixingSpec's distinct-permutation
    * case. */
  val CurriculumMulA: Long = 48271L

  /** Knuth's 2^32 golden-ratio constant reduced mod [[CurriculumP]];
    * scaled by the epoch it decorrelates the additive lane. */
  val CurriculumAddB: Long = 2654435761L % 2147483647L

  /** The per-epoch affine constants, one row per epoch `e` in
    * `[1, epochs]`: `(e, MulA^(e+1) mod p, AddB·e mod p)`. Driver-side
    * BigInt powmod — the engine columns and the oracle SQL are BOTH
    * generated from this one sequence, so the two replays cannot
    * drift. */
  def curriculumConstants(epochs: Int): Seq[(Long, Long, Long)] =
    (1 to epochs).map { e =>
      val a = BigInt(CurriculumMulA)
        .modPow(BigInt(e + 1), BigInt(CurriculumP)).toLong
      val b = (BigInt(CurriculumAddB) * e % BigInt(CurriculumP)).toLong
      (e.toLong, a, b)
    }

  /** Per-row, per-epoch deterministic training order. Each epoch `e`
    * ranks every document by
    * `key = (mul_e · mix(id mod p) + add_e) mod p` where
    * `mix(x) = x XOR (x >> 15)` (an xorshift pre-mix — breaks the
    * id-locality a bare affine map preserves) and `(mul_e, add_e)` come
    * from [[curriculumConstants]]; lands it in shard
    * `key div ceil(p/nShards)` (HIGH key bits — low-bit `mod` inherits
    * any common factor between a multiplier and the shard count, which
    * once put an entire epoch in one shard); and totally orders it by
    * `ord = key·2^31 + (id mod p)` (unique per epoch while ids are
    * distinct mod p — the id lane breaks exact key ties
    * deterministically). Pure integer expressions, exact in any
    * engine: a re-run, another cluster, or the DuckDB oracle
    * reproduces every position bit-for-bit; no RNG state or
    * partition-order dependence — the property [[sampleHash]] gives
    * keep/drop decisions, extended to a total order.
    *
    * Why an engine needs this: training wants a different document
    * order every epoch, but a SHUFFLED-ONCE corpus re-read N times
    * repeats its order and a runtime `rand()` shuffle is neither
    * reproducible nor resumable. Deriving epoch order from (id, epoch)
    * alone means any worker can reconstruct any slice of any epoch
    * independently — the property loaders like webdataset/Megatron
    * sample-index builders rely on.
    *
    * Scale shape: ONE corpus scan; the epoch fan-out is a narrow
    * `explode(sequence(…))` (no join, no second scan), every key is a
    * map-side expression, and the arithmetic stays under 2^62
    * everywhere on the Long lane (multiplier < p < 2^31, mixed residue
    * < 2^31, `ord` < 2^62) — no overflow. Writing the actual epoch
    * files is `repartition(epoch, shard)` + `sortWithinPartitions(ord)`
    * on top of this frame; the audit over it is [[curriculumAudit]].
    *
    * Output: the input columns plus `epoch`, `sort_key`, `shard`,
    * `ord`. Null ids are dropped (a keyless row has no deterministic
    * position by construction).
    */
  def curriculumAssign(
      df: DataFrame,
      idCol: String,
      epochs: Int,
      nShards: Int): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    require(epochs <= 10000,
      s"epochs=$epochs — the constants table is a literal array column; "
        + "thousands of epochs is a misuse of the API")
    val consts = curriculumConstants(epochs)
    val mulArr = typedLit(consts.map(_._2))
    val addArr = typedLit(consts.map(_._3))
    val shardWidth = (CurriculumP + nShards - 1) / nShards
    val p = lit(CurriculumP)
    val idm = pmod(col(idCol).cast(LongType), p)
    val mixed = idm.bitwiseXOR(shiftright(idm, 15))
    val key = col("sort_key")
    df.where(col(idCol).isNotNull)
      .withColumn("epoch", explode(sequence(lit(1L), lit(epochs.toLong))))
      .withColumn("sort_key",
        pmod(element_at(mulArr, col("epoch").cast("int")) * mixed
          + element_at(addArr, col("epoch").cast("int")), p))
      // exact floor-div of non-negatives: key − (key mod w) is an exact
      // integer multiple ≤ key < 2^53, so the double quotient is exact
      .withColumn("shard",
        ((key - pmod(key, lit(shardWidth))) / lit(shardWidth))
          .cast(LongType))
      .withColumn("ord", key * lit(1L << 31) + idm)
  }

  /** The curriculum audit a release gate reads: per (epoch, shard,
    * stratum) — `n_docs` (is every shard a representative mix of every
    * stratum, every epoch?), the exact `min_key`/`max_key` span, and
    * `first_doc` = the id that leads the (epoch, shard, stratum) slice
    * in training order (`min_by` over the total-order `ord` lane — a
    * deterministic, hash-pinnable witness that the ORDER itself, not
    * just the membership, is reproducible). One `groupBy` with
    * map-side partial aggregation; output rows = epochs · nShards ·
    * |strata|, corpus-size-independent.
    */
  def curriculumAudit(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      epochs: Int,
      nShards: Int): DataFrame =
    curriculumAssign(df, idCol, epochs, nShards)
      .groupBy(col("epoch"), col("shard"), col(stratumCol))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("sort_key")).as("min_key"),
        max(col("sort_key")).as("max_key"),
        min_by(col(idCol), col("ord")).as("first_doc"))
}
