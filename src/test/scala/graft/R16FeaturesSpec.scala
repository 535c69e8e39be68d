package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.anomaly.AbsoluteChangeStrategy
import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
import graft.operators.{ItemFrequencyDrift, Size}
import graft.repository.{InMemoryMetricsRepository, ResultKey}
import graft.sketch.FreqItems
import graft.streaming.StreamingOps

/** Round-16 additions: the streaming sketch-state ingest (per-batch
  * parts + read-time fold + crash-safe compaction), the whole-history
  * drift check (Check builder + DQDL rule), the N-way foldState fold,
  * the length-prefixed FreqItems state serde, and the l1_err total
  * bound.
  */
class R16FeaturesSpec extends AnyWordSpec with Matchers with SparkSpec {

  private def docs(rows: Seq[(String, Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("source", "doc_id", "text")
  }

  private val corpus = docs(Seq(
    ("s1", 1L, "a b a"), ("s1", 2L, "b c"), ("s1", 3L, "a a"),
    ("s2", 4L, "x y"), ("s2", 5L, "y y z"), ("s2", 6L, "x")))

  private def toks(d: DataFrame): DataFrame =
    d.select(col("source"),
      explode(split(col("text"), " ")).as("item"))

  private def mgCells(st: DataFrame): Set[(String, String, Long, Long)] =
    st.select(col("source"), col("mg.n").as("n"),
        explode(col("mg.counters")).as(Seq("item", "est")))
      .collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(3), r.getLong(1)))
      .toSet

  "SketchStateIngest" should {
    "fold per-batch parts to the one-shot state and survive compaction" in {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-r16-ingest").toString
      try {
        val ingest = new StreamingOps.SketchStateIngest(s"$tmp/mg",
          b => FreqItems.freqState(toks(b), Seq("source"), "item", 16),
          parts => FreqItems.foldState(parts, 16))
        // three uneven batches, written out of order
        ingest.processBatch(corpus.where(col("doc_id") > 4), 2L)
        ingest.processBatch(corpus.where(col("doc_id") <= 2), 0L)
        ingest.processBatch(
          corpus.where(col("doc_id") > 2 && col("doc_id") <= 4), 1L)
        val oneShot = FreqItems.freqState(toks(corpus), Seq("source"), "item", 16)
        mgCells(ingest.state(spark)) shouldBe mgCells(oneShot)

        // a replayed batchId overwrites its own part — no double count
        ingest.processBatch(corpus.where(col("doc_id") <= 2), 0L)
        mgCells(ingest.state(spark)) shouldBe mgCells(oneShot)

        // compaction: one part left, fold unchanged
        ingest.compact(spark)
        val fs = new org.apache.hadoop.fs.Path(s"$tmp/mg")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/mg"))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        parts.length shouldBe 1
        mgCells(ingest.state(spark)) shouldBe mgCells(oneShot)
        // re-compaction with a single part is a no-op
        ingest.compact(spark)
        mgCells(ingest.state(spark)) shouldBe mgCells(oneShot)
        // a further ingest after compaction still folds correctly
        ingest.processBatch(
          docs(Seq(("s1", 7L, "c c"))), 3L)
        val extended = FreqItems.freqState(
          toks(corpus.unionByName(docs(Seq(("s1", 7L, "c c"))))),
          Seq("source"), "item", 16)
        mgCells(ingest.state(spark)) shouldBe mgCells(extended)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
  }

  "SketchStateIngest.compact crash recovery" should {
    "fold correctly over a stale -compacting dir from a crashed run" in {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-r16-crash").toString
      try {
        val ingest = new StreamingOps.SketchStateIngest(s"$tmp/mg",
          b => FreqItems.freqState(toks(b), Seq("source"), "item", 16),
          parts => FreqItems.foldState(parts, 16))
        ingest.processBatch(corpus.where(col("doc_id") <= 3), 0L)
        ingest.processBatch(corpus.where(col("doc_id") > 3), 1L)
        // simulate a crash mid-compaction: a stale sibling fold exists but
        // was never renamed in — the live dir still covers full history
        FreqItems.freqState(toks(corpus.where(col("doc_id") <= 3)),
            Seq("source"), "item", 16)
          .write.mode("overwrite").parquet(s"$tmp/mg-compacting")
        val oneShot = FreqItems.freqState(toks(corpus), Seq("source"), "item", 16)
        mgCells(ingest.state(spark)) shouldBe mgCells(oneShot)
        // a re-run compaction overwrites the stale dir and converges
        ingest.compact(spark)
        mgCells(ingest.state(spark)) shouldBe mgCells(oneShot)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
  }

  "SketchStateIngest with theta states" should {
    "fold streamed theta parts to the one-shot snapshot (exact regime)" in {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-r16-theta").toString
      try {
        import graft.sketch.Theta
        val ingest = new StreamingOps.SketchStateIngest(s"$tmp/theta",
          b => Theta.thetaState(b, Seq("source"), Seq("text")),
          parts => Theta.foldState(parts))
        ingest.processBatch(corpus.where(col("doc_id") % 2 === 0), 0L)
        ingest.processBatch(corpus.where(col("doc_id") % 2 === 1), 1L)
        def estimates(st: DataFrame): Map[String, Long] =
          Theta.overlap(st, st).select(col("source"), col("est_a"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val oneShot = Theta.thetaState(corpus, Seq("source"), Seq("text"))
        // far below 2^lgK: theta estimates are exact distinct counts
        estimates(ingest.state(spark)) shouldBe estimates(oneShot)
        ingest.compact(spark)
        estimates(ingest.state(spark)) shouldBe estimates(oneShot)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
  }

  "streamed sketch states" should {
    "feed the drift checks directly — the full streaming drift loop" in {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-r16-loop").toString
      try {
        def ingestFor(path: String) = new StreamingOps.SketchStateIngest(path,
          b => FreqItems.freqState(toks(b), Seq("source"), "item", 16),
          parts => FreqItems.foldState(parts, 16))
        // yesterday's crawl and today's, each maintained by its own ingest
        val yA = ingestFor(s"$tmp/a")
        val yB = ingestFor(s"$tmp/b")
        yA.processBatch(corpus.where(col("doc_id") % 2 === 0), 0L)
        yA.processBatch(corpus.where(col("doc_id") % 2 === 1), 1L)
        yB.processBatch(corpus, 0L) // same corpus: drift must be ~zero
        val joined = yA.state(spark).withColumnRenamed("mg", "mg_a")
          .join(yB.state(spark).withColumnRenamed("mg", "mg_b"), Seq("source"))
        val result = VerificationSuite().onData(joined)
          .addCheck(Check(CheckLevel.Error, "streamed drift")
            .hasItemFrequencyDrift("mg_a", "mg_b", _ <= 1e-9))
          .run()
        result.status shouldBe CheckStatus.Success
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
  }

  "SketchStateIngest with PQ code states" should {
    "stage streamed code batches identical to the one-shot encode" in {
      val s = spark
      import s.implicits._
      import graft.pipeline.Similarity
      val vecs = (0 until 64).map(i => (i.toLong,
          Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
        .toDF("vec_id", "vec")
      val model = Similarity.trainPq(vecs, "vec", m = 4, ksub = 4,
        sampleSize = 64, iterations = 4)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-r16-pq").toString
      try {
        val ingest = new StreamingOps.SketchStateIngest(s"$tmp/codes",
          b => Similarity.pqCodesState(b, "vec_id", "vec", model),
          parts => parts) // code rows are a bag under the frozen codebooks
        ingest.processBatch(vecs.where(col("vec_id") % 2 === 0), 0L)
        ingest.processBatch(vecs.where(col("vec_id") % 2 === 1), 1L)
        val oneShot = Similarity.pqCodesState(vecs, "vec_id", "vec", model)
        def parity(st: DataFrame): Boolean =
          st.exceptAll(oneShot).count() == 0L &&
            oneShot.exceptAll(st).count() == 0L
        parity(ingest.state(spark)) shouldBe true
        ingest.compact(spark)
        parity(ingest.state(spark)) shouldBe true
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
  }

  "SketchStateIngest edge cases" should {
    "absorb empty micro-batches and fold them as identities" in {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-r16-empty").toString
      try {
        val ingest = new StreamingOps.SketchStateIngest(s"$tmp/mg",
          b => FreqItems.freqState(toks(b), Seq("source"), "item", 16),
          parts => FreqItems.foldState(parts, 16))
        ingest.processBatch(corpus.limit(0), 0L) // empty trigger
        ingest.processBatch(corpus, 1L)
        ingest.processBatch(corpus.limit(0), 2L) // empty trigger
        val oneShot = FreqItems.freqState(toks(corpus), Seq("source"), "item", 16)
        mgCells(ingest.state(spark)) shouldBe mgCells(oneShot)
        ingest.compact(spark)
        mgCells(ingest.state(spark)) shouldBe mgCells(oneShot)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }

    "no-op compaction on a missing or single-part state dir" in {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-r16-noop").toString
      try {
        val ingest = new StreamingOps.SketchStateIngest(s"$tmp/absent",
          b => FreqItems.freqState(toks(b), Seq("source"), "item", 16),
          parts => FreqItems.foldState(parts, 16))
        noException should be thrownBy ingest.compact(spark) // dir missing
        ingest.processBatch(corpus, 0L)
        val before = mgCells(ingest.state(spark))
        ingest.compact(spark) // one part: nothing to fold
        mgCells(ingest.state(spark)) shouldBe before
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
  }

  "hasNonAnomalousDriftHistory edge cases" should {
    "pass with an empty repository (no changes to judge)" in {
      val strategy = AbsoluteChangeStrategy(Some(-5.0), Some(5.0))
      VerificationSuite().onData(spark.range(10).toDF("id"))
        .addCheck(Check(CheckLevel.Error, "h")
          .hasNonAnomalousDriftHistory(new InMemoryMetricsRepository,
            strategy, Size()))
        .run().status shouldBe CheckStatus.Success
    }
  }

  "DedupIngest.compact" should {
    "leave one covering part and identical survivors" in {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-r16-dedup").toString
      try {
        val ingest = new StreamingOps.DedupIngest(s"$tmp/state", "text", "doc_id")
        ingest.processBatch(corpus.where(col("doc_id") % 2 === 0), 0L)
        ingest.processBatch(corpus.where(col("doc_id") % 2 === 1), 1L)
        val before = ingest.survivors(spark).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        ingest.compact(spark)
        val fs = new org.apache.hadoop.fs.Path(s"$tmp/state")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/state"))
          .count(st => st.isDirectory && st.getPath.getName.startsWith("batch=")) shouldBe 1
        val after = ingest.survivors(spark).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        after shouldBe before
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
  }

  "hasNonAnomalousDriftHistory" should {
    val strategy = AbsoluteChangeStrategy(Some(-5.0), Some(5.0))
    def sized(n: Int): DataFrame =
      spark.range(n).toDF("id")
    def repoWith(sizes: Seq[Long]): InMemoryMetricsRepository = {
      val repo = new InMemoryMetricsRepository
      sizes.zipWithIndex.foreach { case (n, i) =>
        repo.save(ResultKey(i + 1L),
          graft.runners.AnalysisRunner.run(sized(n.toInt), Seq(Size())))
      }
      repo
    }

    "pass on a clean history" in {
      val status = VerificationSuite().onData(sized(12))
        .addCheck(Check(CheckLevel.Error, "h")
          .hasNonAnomalousDriftHistory(repoWith(Seq(10L, 11L)), strategy, Size()))
        .run().status
      status shouldBe CheckStatus.Success
    }

    "alarm on an OLD anomaly the newest-point check misses" in {
      // 10 -> 50 spike two days ago; today's change is small
      val repo = repoWith(Seq(10L, 50L))
      val newest = VerificationSuite().onData(sized(51))
        .addCheck(Check(CheckLevel.Error, "n")
          .isNewestPointNonAnomalous(repo, strategy, Size()))
        .run().status
      newest shouldBe CheckStatus.Success
      val history = VerificationSuite().onData(sized(51))
        .addCheck(Check(CheckLevel.Error, "h")
          .hasNonAnomalousDriftHistory(repo, strategy, Size()))
        .run().status
      history shouldBe CheckStatus.Error
    }

    "loosen with maxAnomalies and narrow with afterDate" in {
      val repo = repoWith(Seq(10L, 50L))
      VerificationSuite().onData(sized(51))
        .addCheck(Check(CheckLevel.Error, "h")
          .hasNonAnomalousDriftHistory(repo, strategy, Size(), maxAnomalies = 1))
        .run().status shouldBe CheckStatus.Success
      // afterDate is inclusive >=; date 2 alone leaves one change (50->51)
      VerificationSuite().onData(sized(51))
        .addCheck(Check(CheckLevel.Error, "h")
          .hasNonAnomalousDriftHistory(repo, strategy, Size(),
            afterDate = Some(2L)))
        .run().status shouldBe CheckStatus.Success
    }
  }

  "DQDL NonAnomalousDriftHistory" should {
    def mgPair(a: DataFrame, b: DataFrame): DataFrame =
      FreqItems.freqState(toks(a).withColumn("source", lit("g")),
          Seq("source"), "item", 16)
        .withColumnRenamed("mg", "mg_a")
        .join(FreqItems.freqState(toks(b).withColumn("source", lit("g")),
          Seq("source"), "item", 16)
          .withColumnRenamed("mg", "mg_b"), Seq("source"))

    val day1 = docs(Seq(("s1", 1L, "a b a b")))
    val day2 = docs(Seq(("s1", 2L, "a b a b")))
    val day3 = docs(Seq(("s1", 3L, "z z z z")))

    "pass on a stable series and fail when a step blows the band" in {
      val drift = ItemFrequencyDrift("mg_a", "mg_b")
      val repo = new InMemoryMetricsRepository
      repo.save(ResultKey(1L),
        graft.runners.AnalysisRunner.run(mgPair(day1, day2), Seq(drift)))
      val clean = graft.dqdl.EvaluateDataQuality.process(mgPair(day1, day2),
        """Rules = [ NonAnomalousDriftHistory "mg_a" "mg_b" <= 0.1 ]""",
        repository = Some(repo))
      clean.select("outcome").collect().head.getString(0) shouldBe "Passed"
      val spiked = graft.dqdl.EvaluateDataQuality.process(mgPair(day2, day3),
        """Rules = [ NonAnomalousDriftHistory "mg_a" "mg_b" <= 0.1 ]""",
        repository = Some(repo))
      spiked.select("outcome").collect().head.getString(0) shouldBe "Failed"
    }

    "reject a run without a repository" in {
      val out = graft.dqdl.EvaluateDataQuality.process(mgPair(day1, day2),
        """Rules = [ NonAnomalousDriftHistory "mg_a" "mg_b" <= 0.1 ]""")
      out.select("outcome").collect().head.getString(0) shouldBe "Failed"
    }
  }

  "FreqItems.foldState" should {
    "equal chained mergeStates over many parts" in {
      val parts = Seq(
        corpus.where(col("doc_id") <= 2),
        corpus.where(col("doc_id") > 2 && col("doc_id") <= 4),
        corpus.where(col("doc_id") > 4))
        .map(d => FreqItems.freqState(toks(d), Seq("source"), "item", 16))
      val folded = FreqItems.foldState(
        parts.reduce(_ unionByName _), 16)
      val chained = parts.reduce(FreqItems.mergeStates(_, _, 16))
      mgCells(folded) shouldBe mgCells(chained)
    }
  }

  "FreqItems state persistence" should {
    "round-trip counter keys longer than 65535 UTF-8 bytes" in {
      val longKey = "k" * 70000
      val s = spark
      import s.implicits._
      val frame = FreqItems.freqState(
        Seq.fill(5)(("g", longKey)).appendedAll(Seq(("g", "x")))
          .toDF("source", "item"),
        Seq("source"), "item", 8)
        .withColumnRenamed("mg", "mg_state")
      val analyzer = graft.operators.ApproxItemFrequencyFromState(
        "mg_state", longKey)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-r16-serde").toString
      try {
        val provider = new graft.core.HdfsStateProvider(spark, s"$tmp/state")
        graft.runners.AnalysisRunner.run(frame, Seq(analyzer),
          saveStatesWith = Some(provider))
        val restored = graft.runners.AnalysisRunner
          .runOnAggregatedStates(Seq(analyzer), Seq(provider))
        val direct = graft.runners.AnalysisRunner.run(frame, Seq(analyzer))
        restored.metric(analyzer).get.value.get.asInstanceOf[Double] shouldBe
          direct.metric(analyzer).get.value.get.asInstanceOf[Double]
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
  }

  "DatasetManifest" should {
    import graft.pipeline.DatasetManifest
    def frame(rows: Seq[(Long, String)]) = {
      val s = spark
      import s.implicits._
      rows.toDF("id", "text")
    }
    val base = frame((0L until 20L).map(i => (i, s"text$i")))

    "self-diff empty; detect mutation, drop, duplication, and null-vs-empty" in {
      val m = DatasetManifest.build(base, "id", Seq("text"), shards = 4)
      DatasetManifest.diff(m, m).isEmpty shouldBe true
      val tampered = frame(
        (0L until 20L).filter(_ != 5L).map { i =>
          (i, if (i == 2L) "textX"
              else if (i == 7L) null
              else s"text$i")
        } :+ (8L, "text8"))
      val d = DatasetManifest.diff(m,
        DatasetManifest.build(tampered, "id", Seq("text"), shards = 4))
        .select("shard", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // ids 2, 5, 7, 8 -> shards 2, 1, 3, 0: all four flagged, nothing else
      d shouldBe Map(0L -> "changed", 1L -> "changed",
        2L -> "changed", 3L -> "changed")
      // null text and empty text must fingerprint differently (sentinel)
      val withNull = DatasetManifest.build(
        frame(Seq((1L, null))), "id", Seq("text"), shards = 1)
      val withEmpty = DatasetManifest.build(
        frame(Seq((1L, ""))), "id", Seq("text"), shards = 1)
      DatasetManifest.diff(withNull, withEmpty).count() shouldBe 1L
    }

    "flag added and removed shards on a layout change" in {
      val m4 = DatasetManifest.build(base, "id", Seq("text"), shards = 4)
      val m2 = DatasetManifest.build(
        base.where(col("id") % 4 < 2), "id", Seq("text"), shards = 4)
      val d = DatasetManifest.diff(m4, m2).select("shard", "status")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      d shouldBe Map(2L -> "removed", 3L -> "removed")
      val dRev = DatasetManifest.diff(m2, m4).select("shard", "status")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      dRev shouldBe Map(2L -> "added", 3L -> "added")
    }
  }

  "frequencyDrift l1_err" should {
    "bound |l1_est - exact L1| under a bounded capacity" in {
      val s = spark
      import s.implicits._
      // 40-item vocab per side, capacity 4: heavy eviction on both sides
      val a = (1 to 40).flatMap(i => Seq.fill(i % 5 + 1)(("g", s"a$i")))
        .toDF("grp", "item")
      val b = (1 to 40).flatMap(i => Seq.fill((i + 2) % 7 + 1)(("g", s"b${i % 20}")))
        .toDF("grp", "item")
      def tally(d: DataFrame) = d.groupBy(col("item"))
        .agg(count(lit(1)).as("c"))
      val na = a.count().toDouble
      val nb = b.count().toDouble
      val exactL1 = tally(a).withColumnRenamed("c", "ca")
        .join(tally(b).withColumnRenamed("c", "cb"), Seq("item"), "full_outer")
        .agg(sum(abs(coalesce(col("ca"), lit(0L)).cast("double") / na -
          coalesce(col("cb"), lit(0L)).cast("double") / nb)))
        .collect().head.getDouble(0)
      val cap = 4
      val drift = graft.sketch.StateDrift.frequencyDrift(
        FreqItems.freqState(a, Seq("grp"), "item", cap),
        FreqItems.freqState(b, Seq("grp"), "item", cap), cap)
        .collect().head
      val l1Est = drift.getAs[Double]("l1_est")
      val l1Err = drift.getAs[Double]("l1_err")
      math.abs(l1Est - exactL1) should be <= l1Err
      // and exact mode still reports a zero bound
      val exactDrift = graft.sketch.StateDrift.frequencyDrift(
        FreqItems.freqState(a, Seq("grp"), "item", 4096),
        FreqItems.freqState(b, Seq("grp"), "item", 4096), 4096)
        .collect().head
      exactDrift.getAs[Double]("l1_err") shouldBe 0.0
    }
  }
}
