package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.checks.{Check, CheckLevel, CheckStatus, VerificationSuite}
import graft.operators.{ApproxCountDistinctFromState, ApproxQuantileFromState, SnapshotOverlap}
import graft.sketch.{HllState, KllGroupState, Theta}

/** Checks evaluated FROM persisted sketch states (q143): the checked
  * frame is a per-group state table; the corpus behind it never
  * rescans. Values are exact here — the fixtures sit far below the
  * sketches' exact-mode bounds.
  */
class SketchStateChecksSpec extends AnyWordSpec with Matchers with SparkSpec {

  private def docs = {
    val s = spark
    import s.implicits._
    (0 until 300).map(i => (i.toLong, s"g${i % 3}", s"text-$i"))
      .toDF("id", "grp", "text")
  }

  "ApproxCountDistinctFromState" should {
    "fold a parquet-staged per-group HLL state to the corpus distinct count" in {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sketchcheck").toString
      try {
        HllState.writeState(
          HllState.distinctState(docs, Seq("grp"), Seq("text")), dir)
        val state = HllState.readState(spark, dir)
        state.count() shouldBe 3L
        val m = ApproxCountDistinctFromState("hll").calculate(state)
        // 300 distincts, lgK 12: comfortably exact-accurate
        math.abs(m.value.get - 300.0) should be <= 15.0
        // the Check surface over the same state
        val res = VerificationSuite().onData(state)
          .addCheck(Check(CheckLevel.Error, "state distinct")
            .hasApproxCountDistinctFromState("hll",
              d => math.abs(d - 300.0) <= 15.0))
          .run()
        res.status shouldBe CheckStatus.Success
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  "SnapshotOverlap" should {
    def joined = {
      // A = ids [0, 200), B = ids [100, 300): |A∩B| = 100, |A∪B| = 300
      val a = Theta.thetaState(docs.where(col("id") < 200),
        Seq("grp"), Seq("text")).withColumnRenamed("theta", "theta_a")
      val b = Theta.thetaState(docs.where(col("id") >= 100),
        Seq("grp"), Seq("text")).withColumnRenamed("theta", "theta_b")
      a.join(b, Seq("grp"), "full_outer")
    }

    "report the exact Jaccard overlap below the exact-mode bound" in {
      val m = SnapshotOverlap("theta_a", "theta_b").calculate(joined)
      m.value.get shouldBe (100.0 / 300.0) +- 1e-9
    }

    "merge per-slice states to the full-frame metric (scan-shareable law)" in {
      val f = joined.persist()
      val s1 = SnapshotOverlap("theta_a", "theta_b")
        .computeStateFrom(f.where(col("grp") === "g0")).get
      val s2 = SnapshotOverlap("theta_a", "theta_b")
        .computeStateFrom(f.where(col("grp") =!= "g0")).get
      val full = SnapshotOverlap("theta_a", "theta_b")
        .computeStateFrom(f).get
      s1.merge(s2).metricValue() shouldBe full.metricValue() +- 1e-9
      f.unpersist(blocking = false)
    }

    "drive the Check and DQDL surfaces from the joined state frame" in {
      val res = VerificationSuite().onData(joined)
        .addCheck(Check(CheckLevel.Error, "drift")
          .hasSnapshotOverlap("theta_a", "theta_b",
            d => math.abs(d - 1.0 / 3.0) <= 0.01))
        .run()
      res.status shouldBe CheckStatus.Success
      val out = graft.dqdl.EvaluateDataQuality.process(joined,
        """Rules = [ SnapshotOverlap "theta_a" "theta_b" between 0.2 and 0.5 ]""")
        .collect()
      out.length shouldBe 1
      out.head.getString(1) shouldBe "Passed"
      out.head.getDouble(3) shouldBe (1.0 / 3.0) +- 0.01
    }

    "expose the KLL quantile state family end to end" in {
      val s = spark
      import s.implicits._
      // values 1..1000 split across 4 groups; per-group and folded
      // quantiles are near-exact at this size
      val vals = (1 to 1000).map(i => (s"g${i % 4}", i.toDouble))
        .toDF("grp", "v")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-kllstate").toString
      try {
        KllGroupState.writeState(
          KllGroupState.quantileState(vals.where(col("v") <= 500),
            Seq("grp"), "v"), dir)
        val merged = KllGroupState.mergeStates(
          KllGroupState.readState(spark, dir),
          KllGroupState.quantileState(vals.where(col("v") > 500),
            Seq("grp"), "v"))
        val qs = KllGroupState.quantiles(merged, Seq(0.5), Seq("med"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        qs.keySet shouldBe Set("g0", "g1", "g2", "g3")
        // per-group median ~500 (each group holds an arithmetic strand)
        qs.values.foreach(m => math.abs(m - 500.0) should be <= 25.0)
        // folded-from-state global median via the analyzer + Check + DQDL
        val m = ApproxQuantileFromState("kll", 0.5).calculate(merged)
        math.abs(m.value.get - 500.0) should be <= 25.0
        VerificationSuite().onData(merged)
          .addCheck(Check(CheckLevel.Error, "median drift")
            .hasApproxQuantileFromState("kll", 0.5,
              d => math.abs(d - 500.0) <= 25.0))
          .run().status shouldBe CheckStatus.Success
        val out = graft.dqdl.EvaluateDataQuality.process(merged,
          """Rules = [ ApproxQuantileFromState "kll" "0.5" between 450 and 550 ]""")
          .collect()
        out.head.getString(1) shouldBe "Passed"
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }

    "round-trip all three from-state analyzer states through HdfsStateProvider" in {
      val s = spark
      import s.implicits._
      val frame = {
        // one frame carrying an hll column, two theta columns, a kll
        // column — per "group" row, the state-table shape
        val hll = HllState.distinctState(docs, Seq("grp"), Seq("text"))
        val a = Theta.thetaState(docs.where(col("id") < 200), Seq("grp"),
          Seq("text")).withColumnRenamed("theta", "theta_a")
        val b = Theta.thetaState(docs.where(col("id") >= 100), Seq("grp"),
          Seq("text")).withColumnRenamed("theta", "theta_b")
        val kll = KllGroupState.quantileState(
          docs.withColumn("v", col("id").cast("double")), Seq("grp"), "v")
        hll.join(a, Seq("grp")).join(b, Seq("grp")).join(kll, Seq("grp"))
      }
      val analyzers: Seq[graft.core.AnyAnalyzer] = Seq(
        ApproxCountDistinctFromState("hll"),
        SnapshotOverlap("theta_a", "theta_b"),
        ApproxQuantileFromState("kll", 0.5))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-fromstate").toString
      try {
        val provider = new graft.core.HdfsStateProvider(spark, s"$tmp/state")
        graft.runners.AnalysisRunner.run(frame, analyzers,
          saveStatesWith = Some(provider))
        val restored = graft.runners.AnalysisRunner
          .runOnAggregatedStates(analyzers, Seq(provider))
        val direct = graft.runners.AnalysisRunner.run(frame, analyzers)
        analyzers.foreach { a =>
          withClue(s"analyzer $a: ") {
            restored.metric(a).get.value.get.asInstanceOf[Double] shouldBe
              direct.metric(a).get.value.get.asInstanceOf[Double] +- 1e-9
          }
        }
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(tmp))
    }

    "evaluate drift checks from two state columns and round-trip them" in {
      val s = spark
      import s.implicits._
      import graft.operators.{ItemFrequencyDrift, QuantileShift}
      import graft.sketch.FreqItems
      // A: x,x,y per group; B: x,z,z — exact-mode MG, L1 = 4/3
      val a = (0 until 3).flatMap(g =>
        Seq((s"g$g", "x", 1.0), (s"g$g", "x", 2.0), (s"g$g", "y", 3.0)))
        .toDF("grp", "item", "v")
      val b = (0 until 3).flatMap(g =>
        Seq((s"g$g", "x", 11.0), (s"g$g", "z", 12.0), (s"g$g", "z", 13.0)))
        .toDF("grp", "item", "v")
      val frame = FreqItems.freqState(a, Seq("grp"), "item", 16)
        .withColumnRenamed("mg", "mg_a")
        .join(FreqItems.freqState(b, Seq("grp"), "item", 16)
          .withColumnRenamed("mg", "mg_b"), Seq("grp"))
        .join(KllGroupState.quantileState(a, Seq("grp"), "v")
          .withColumnRenamed("kll", "kll_a"), Seq("grp"))
        .join(KllGroupState.quantileState(b, Seq("grp"), "v")
          .withColumnRenamed("kll", "kll_b"), Seq("grp"))
        .join(HllState.distinctState(a, Seq("grp"), Seq("item"))
          .withColumnRenamed("hll", "hll_a"), Seq("grp"))
        .join(HllState.distinctState(b, Seq("grp"), Seq("item"))
          .withColumnRenamed("hll", "hll_b"), Seq("grp"))
      val drift = ItemFrequencyDrift("mg_a", "mg_b")
      val shiftA = QuantileShift("kll_a", "kll_b", 0.5)
      val ratio = graft.operators.DistinctCountRatio("hll_a", "hll_b")
      drift.calculate(frame).value.get shouldBe (4.0 / 3.0) +- 1e-12
      shiftA.calculate(frame).value.get shouldBe 10.0 +- 1e-12 // 12 - 2
      ratio.calculate(frame).value.get shouldBe 1.0 +- 1e-9 // {x,y} vs {x,z}
      val res = VerificationSuite().onData(frame)
        .addCheck(Check(CheckLevel.Error, "drift")
          .hasItemFrequencyDrift("mg_a", "mg_b", _ <= 1.5)
          .hasQuantileShift("kll_a", "kll_b", 0.5, _ == 10.0))
        .run()
      res.status shouldBe CheckStatus.Success
      val dq = graft.dqdl.EvaluateDataQuality.process(frame,
        """Rules = [ ItemFrequencyDrift "mg_a" "mg_b" <= 1.5, QuantileShift "kll_a" "kll_b" "0.5" between 9 and 11 ]""")
      dq.where(org.apache.spark.sql.functions.col("outcome") === "Passed")
        .count() shouldBe 2L
      // provider round trip
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-driftstate").toString
      try {
        val provider = new graft.core.HdfsStateProvider(spark, s"$tmp/st")
        val analyzers: Seq[graft.core.AnyAnalyzer] = Seq(drift, shiftA, ratio)
        graft.runners.AnalysisRunner.run(
          frame, analyzers, saveStatesWith = Some(provider))
        val restored = graft.runners.AnalysisRunner
          .runOnAggregatedStates(analyzers, Seq(provider))
        restored.metric(drift).get.value.get
          .asInstanceOf[Double] shouldBe (4.0 / 3.0) +- 1e-12
        restored.metric(shiftA).get.value.get
          .asInstanceOf[Double] shouldBe 10.0 +- 1e-12
        restored.metric(ratio).get.value.get
          .asInstanceOf[Double] shouldBe 1.0 +- 1e-9
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(tmp))
    }

    "treat a group missing on one side as an empty snapshot side" in {
      val s = spark
      import s.implicits._
      // g9 exists only in A: its rows join with a null theta_b, which
      // the union must SKIP (not fail) — A's union still counts g9
      val extra = Theta.thetaState(
        (0 until 50).map(i => (s"only-$i", "g9")).toDF("text", "grp"),
        Seq("grp"), Seq("text")).withColumnRenamed("theta", "theta_a")
      val withMissing = joined.unionByName(
        extra.withColumn("theta_b",
          lit(null).cast(org.apache.spark.sql.types.BinaryType)))
      val m = SnapshotOverlap("theta_a", "theta_b").calculate(withMissing)
      // |A| grows to 250, |A∪B| to 350, |A∩B| stays 100
      m.value.get shouldBe (100.0 / 350.0) +- 1e-9
    }
  }
}
