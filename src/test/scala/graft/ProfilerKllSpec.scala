package graft

import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.checks._
import graft.profiles._
import graft.sketch._
import graft.suggestions._

class ProfilerKllSpec extends AnyWordSpec with Matchers with SparkSpec {

  private lazy val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  "ColumnProfiler" should {
    "profile every column in three passes" in {
      val profiles = ColumnProfiler.profile(orders)
      profiles.numRecords shouldBe 1500

      val keyProfile = profiles.profiles("o_orderkey").asInstanceOf[NumericColumnProfile]
      keyProfile.completeness shouldBe 1.0
      keyProfile.approximateNumDistinctValues.toDouble shouldBe 1500.0 +- 100.0
      keyProfile.minimum.get shouldBe 0.0 +- 10.0

      val statusProfile = profiles.profiles("o_orderstatus")
      statusProfile.dataType shouldBe "String"
      statusProfile.histogram.isDefined shouldBe true
      statusProfile.histogram.get.values.keySet should contain("O")

      val priceProfile = profiles.profiles("o_totalprice").asInstanceOf[NumericColumnProfile]
      priceProfile.mean.isDefined shouldBe true
      priceProfile.approxPercentiles.get should have size 3
      // string columns carry observed length bounds for the length rules
      val statusLengths = profiles.profiles("o_orderstatus")
        .asInstanceOf[graft.profiles.StringColumnProfile]
      statusLengths.minLength shouldBe Some(1.0)
      statusLengths.maxLength shouldBe Some(1.0)
    }
  }

  "ColumnProfiler edge cases" should {
    "return empty profiles for an empty or unmatched column restriction" in {
      ColumnProfiler.profile(orders, restrictToColumns = Some(Seq.empty))
        .profiles shouldBe empty
      ColumnProfiler.profile(orders, restrictToColumns = Some(Seq("no_such_col")))
        .profiles shouldBe empty
    }

    "mark predefined-typed columns as NOT inferred" in {
      val p = ColumnProfiler.profile(orders,
        restrictToColumns = Some(Seq("o_orderstatus")),
        predefinedTypes = Map("o_orderstatus" -> "String"))
        .profiles("o_orderstatus")
      p.isDataTypeInferred shouldBe false
    }
  }

  "data-type conformance" should {
    "assert among non-null values with integers conforming to Fractional" in {
      val s = spark
      import s.implicits._
      // incomplete integral column: the raw bin ratio (2/3 with the null
      // in the denominator) made == 1.0 unsatisfiable
      val withNull = Seq(Option("1"), Option("2"), Option.empty[String]).toDF("c")
      VerificationSuite().onData(withNull)
        .addCheck(Check(CheckLevel.Error, "t").hasDataType("c", "Integral"))
        .run().status shouldBe CheckStatus.Success
      // mixed integral/fractional conforms to Fractional
      val mixed = Seq("1", "2.5").toDF("c")
      VerificationSuite().onData(mixed)
        .addCheck(Check(CheckLevel.Error, "t").hasDataType("c", "Fractional"))
        .run().status shouldBe CheckStatus.Success
      // a truly non-conforming column still fails
      VerificationSuite().onData(Seq("1", "abc").toDF("c"))
        .addCheck(Check(CheckLevel.Error, "t").hasDataType("c", "Integral"))
        .run().status shouldBe CheckStatus.Error
    }
  }

  "suggestion escaping and holdout" should {
    "escape backslashes in categorical constraints and evaluate them" in {
      val s = spark
      import s.implicits._
      val df = (Seq.fill(40)("C:\\temp") ++ Seq.fill(30)("D:\\data") ++
        Seq.fill(30)("plain")).toDF("path")
      val result = ConstraintSuggestionRunner.run(df, rules = Rules.DEFAULT)
      val sugg = result.suggestions.getOrElse("path", Seq.empty)
        .find(_.constraintName == "CategoricalRangeConstraint")
      sugg.isDefined shouldBe true
      // the generated code keeps the backslash escaped, and the evaluable
      // constraint matches the real values (no mis-parsed escape)
      sugg.get.codeForConstraint should include("C:\\\\temp")
      val check = Check(CheckLevel.Error, "roundtrip", Seq(sugg.get.constraint.get))
      VerificationSuite().onData(df).addCheck(check)
        .run().status shouldBe CheckStatus.Success
    }

    "evaluate numeric suggestions for inferred-numeric string columns on holdout" in {
      val s = spark
      import s.implicits._
      val rng = new scala.util.Random(3)
      val df = (1 to 400).map(_ => (rng.nextInt(1000) + 100).toString).toDF("num_str")
      val result = ConstraintSuggestionRunner.run(df, rules = Rules.EXTENDED,
        testsetRatio = Some(0.25))
      val numericSuggs = result.suggestions.getOrElse("num_str", Seq.empty)
        .filter(sugg => Seq("MinimumConstraint", "MaximumConstraint", "MeanConstraint")
          .contains(sugg.constraintName))
      numericSuggs should not be empty
      // the test split is cast like the profiler's pass 2: the numeric
      // analyzers must EVALUATE (pass here), not fail their precondition
      numericSuggs.foreach { sugg =>
        withClue(s"${sugg.constraintName}: ") {
          result.testEvaluation.get(sugg.codeForConstraint) shouldBe
            Some(ConstraintStatus.Success)
        }
      }
    }
  }

  "ColumnProfiler on a wide table" should {
    "profile every column across chunked passes" in {
      val s = spark
      import org.apache.spark.sql.functions.{col, lit}
      val wide = (0 until 120).foldLeft(
        s.range(50).toDF("base")) { (d, i) => d.withColumn(s"c$i", col("base") * lit(i)) }
      val profiles = graft.profiles.ColumnProfiler.profile(
        wide, maxColumnsPerPass = 25)
      profiles.numRecords shouldBe 50L
      profiles.profiles.size shouldBe 121
      // chunked passes must not lose per-column metrics
      val p = profiles.profiles("c7").asInstanceOf[graft.profiles.NumericColumnProfile]
      p.completeness shouldBe 1.0
      p.maximum shouldBe Some(49.0 * 7)
    }
  }

  "ConstraintSuggestionRunner" should {
    "suggest sensible constraints" in {
      val result = ConstraintSuggestionRunner.run(orders)
      val all = result.suggestions.values.flatten.toSeq
      all.map(_.codeForConstraint) should contain(""".isComplete("o_orderkey")""")
      all.map(_.codeForConstraint) should contain(""".isUnique("o_orderkey")""")
      // o_orderstatus is low-cardinality => categorical range suggestion
      all.filter(_.columnName == "o_orderstatus")
        .map(_.constraintName) should contain("CategoricalRangeConstraint")
      // numeric keys are non-negative
      all.filter(_.columnName == "o_totalprice")
        .map(_.constraintName) should contain("NonNegativeConstraint")
    }

    "add bounds rules in the EXTENDED set and validate on a holdout split" in {
      val result = ConstraintSuggestionRunner.run(orders,
        rules = graft.suggestions.Rules.EXTENDED,
        testsetRatio = Some(0.25))
      val priceRules = result.suggestions("o_totalprice").map(_.constraintName)
      priceRules should contain allOf ("MinimumConstraint", "MaximumConstraint",
        "MeanConstraint", "StandardDeviationConstraint")
      // string columns get observed value-length bounds
      val statusRules = result.suggestions("o_orderstatus").map(_.constraintName)
      statusRules should contain allOf ("MinLengthConstraint", "MaxLengthConstraint")
      // interval strategies: Wilson is tighter-from-below than Wald away
      // from the boundaries and both stay below the observed ratio
      import graft.suggestions.{WaldIntervalStrategy, WilsonScoreIntervalStrategy}
      val (p, n) = (0.9, 1000.0)
      val wilson = WilsonScoreIntervalStrategy.lowerBound(p, n)
      val wald = WaldIntervalStrategy.lowerBound(p, n)
      wilson should be < p
      wald should be < p
      (wilson - wald).abs should be < 0.01

      result.testEvaluation should not be empty
      // stable properties must hold on the held-out quarter
      val statusFor = result.testEvaluation
      statusFor(""".isComplete("o_orderkey")""") shouldBe
        graft.checks.ConstraintStatus.Success
      // most suggestions should validate (min/max CAN fail on a holdout,
      // that is the point of the split — but not the bulk)
      val successRatio = statusFor.values.count(_ ==
        graft.checks.ConstraintStatus.Success).toDouble / statusFor.size
      successRatio should be >= 0.7
    }
  }

  "KLLSketch" should {
    "approximate quantiles and merge correctly" in {
      val s1 = new KLLSketch(256)
      val s2 = new KLLSketch(256)
      (1 to 5000).foreach(i => s1.update(i.toDouble))
      (5001 to 10000).foreach(i => s2.update(i.toDouble))
      val merged = s1.merge(s2)
      merged.count shouldBe 10000
      merged.quantile(0.5) shouldBe 5000.0 +- 500.0
      merged.quantile(0.1) shouldBe 1000.0 +- 300.0
      merged.min shouldBe 1.0
      merged.max shouldBe 10000.0
    }

    "keep bucket counts summing to n after multi-partition compactions" in {
      // a skewed bulk plus three far outliers: most buckets are empty and
      // the bucket holding the maximum is thin
      val values = (0 until 60000).map(i => (i % 1000) * (i % 1000) / 1000.0) ++
        Seq(5000.0, 5000.0, 5000.0)
      val n = values.size.toLong
      val eps = 0.01 // the default sketch size's rank error
      // per-partition sketches merged as the distributed path does, over
      // several seed sets: the compaction coin flips move the sketch's
      // total weight above or below n
      (0 until 6).foreach { trial =>
        val parts = Array.tabulate(8)(p => new KLLSketch(seed = (trial.toLong << 20) + p))
        values.zipWithIndex.foreach { case (v, i) => parts(i % 8).update(v) }
        val sketch = parts.reduce(_ merge _)
        val buckets = sketch.buckets(10)
        withClue(s"trial $trial, buckets $buckets: ") {
          sketch.data.size should be > 1 // compacted at least once
          buckets.map(_.count).sum shouldBe n
          buckets.last.count should be > 0L
          // exact counts over the same [lo, hi) buckets, the last closed
          buckets.zipWithIndex.foreach { case (b, i) =>
            val exact = values.count(v => v >= b.lowValue &&
              (if (i == buckets.size - 1) v <= b.highValue else v < b.highValue))
            math.abs(b.count - exact).toDouble should be <= 2 * eps * n
          }
        }
      }
    }

    "round-trip serialization" in {
      val s = new KLLSketch(128)
      (1 to 1000).foreach(i => s.update(i.toDouble))
      val restored = KLLSketch.deserialize(s.serialize())
      restored.count shouldBe s.count
      restored.quantile(0.5) shouldBe s.quantile(0.5)
    }

    "back kllSketchSatisfies" in {
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val check = Check(CheckLevel.Error, "kll")
        .kllSketchSatisfies("l_quantity", { dist =>
          dist.sketch.quantile(0.5) >= 20 && dist.sketch.quantile(0.5) <= 30 &&
            dist.buckets.map(_.count).sum == 6000
        })
      val result = VerificationSuite().onData(li).addCheck(check).run()
      result.status shouldBe CheckStatus.Success
    }
  }

  "Distance" should {
    "measure numerical and categorical drift" in {
      val s1 = new KLLSketch(256)
      val s2 = new KLLSketch(256)
      (1 to 1000).foreach(i => s1.update(i.toDouble))
      (1 to 1000).foreach(i => s2.update(i.toDouble + 500))
      Distance.numericalDistance(s1, s2) should be > 0.3

      val s3 = new KLLSketch(256)
      (1 to 1000).foreach(i => s3.update(i.toDouble))
      Distance.numericalDistance(s1, s3) should be < 0.05

      import graft.core.{Distribution, DistributionValue}
      val d1 = Distribution(Map(
        "a" -> DistributionValue(50, 0.5), "b" -> DistributionValue(50, 0.5)), 2)
      val d2 = Distribution(Map(
        "a" -> DistributionValue(90, 0.9), "b" -> DistributionValue(10, 0.1)), 2)
      Distance.categoricalDistance(d1, d2) shouldBe 0.4 +- 1e-9
      Distance.populationStabilityIndex(d1, d2) should be > 0.5
      Distance.chiSquare(d1, d2) should be > 10.0
    }

    "pin the chi-square Yates, missing-category and PSI-clamp branches exactly" in {
      import graft.core.{Distribution, DistributionValue}
      // 2-category table takes the Yates continuity correction:
      // (|90-50|-0.5)^2/50 + (|10-50|-0.5)^2/50 = 2 * 39.5^2 / 50 = 62.41
      val obs = Distribution(Map(
        "a" -> DistributionValue(90, 0.9), "b" -> DistributionValue(10, 0.1)), 2)
      val exp = Distribution(Map(
        "a" -> DistributionValue(50, 0.5), "b" -> DistributionValue(50, 0.5)), 2)
      Distance.chiSquare(obs, exp) shouldBe 62.41 +- 1e-9

      // a category observed but ABSENT from the expected distribution is
      // floored at 0.5 expected count (maximal divergence, not skipped):
      // a: (|50-100|-0.5)^2/100 ; c: (|50-0.5|-0.5)^2/0.5
      val withNew = Distribution(Map(
        "a" -> DistributionValue(50, 0.5), "c" -> DistributionValue(50, 0.5)), 2)
      val aOnly = Distribution(Map("a" -> DistributionValue(100, 1.0)), 1)
      Distance.chiSquare(withNew, aOnly) shouldBe (24.5025 + 4802.0) +- 1e-6

      // PSI with disjoint supports: both sides clamp at epsilon 1e-4 —
      // 2 * (1 - 1e-4) * ln(1 / 1e-4)
      val aDist = Distribution(Map("a" -> DistributionValue(100, 1.0)), 1)
      val bDist = Distribution(Map("b" -> DistributionValue(100, 1.0)), 1)
      Distance.populationStabilityIndex(aDist, bDist) shouldBe
        (2.0 * (1.0 - 1e-4) * math.log(1e4)) +- 1e-9

      // degenerate inputs stay defined
      val empty = Distribution(Map.empty, 0)
      Distance.categoricalDistance(empty, empty) shouldBe 0.0
      Distance.chiSquare(empty, aDist) shouldBe 0.0
      Distance.numericalDistance(new KLLSketch(256), new KLLSketch(256)) shouldBe 0.0
    }

    "compute the exact two-sample KS distributed (prefix sums, no window)" in {
      val s = spark
      import s.implicits._
      import org.apache.spark.sql.functions.col
      // ties between sides, values unique to one side, a null, and a row
      // in NEITHER side (ignored); many range partitions will be empty —
      // exercising the offset seeding for zero-width partitions
      val rows: Seq[(java.lang.Double, String)] = Seq(
        (1.0, "A"), (1.0, "B"), (2.0, "A"), (3.0, "B"), (3.0, "B"),
        (4.0, "A"), (5.0, "B"), (6.0, "A"), (null, "A"), (9.0, "X"))
      val df = rows.toDF("v", "side").repartition(7)
      val got = Distance.exactNumericalDistance(df, "v",
        col("side") === "A", col("side") === "B")
      // hand-computed reference: running CDFs over sorted distinct values
      val a = rows.collect { case (v, "A") if v != null => v.toDouble }.sorted
      val b = rows.collect { case (v, "B") if v != null => v.toDouble }
      val expected = (a ++ b).distinct.sorted.map { v =>
        math.abs(a.count(_ <= v).toDouble / a.size - b.count(_ <= v).toDouble / b.size)
      }.max
      got shouldBe expected +- 1e-12

      // agrees with the sketch KS on a larger shifted pair
      val big = (1 to 2000).map(i => (i.toDouble, "A")) ++
        (1 to 2000).map(i => (i.toDouble + 500, "B"))
      val bigDf = big.toDF("v", "side")
      val exact = Distance.exactNumericalDistance(bigDf, "v",
        col("side") === "A", col("side") === "B")
      exact shouldBe 0.25 +- 1e-12 // shift 500 over 2000 values

      // degenerate: one side empty
      Distance.exactNumericalDistance(df, "v",
        col("side") === "A", col("side") === "Z") shouldBe 0.0
    }
  }

  "row-level results" should {
    "produce per-row outcomes for scan and grouping constraints" in {
      val s = spark
      import s.implicits._
      val df = Seq(
        (1, Some(10.0), "a"),
        (2, None, "b"),
        (3, Some(-5.0), "b"),
        (4, Some(7.0), "c")
      ).toDF("id", "value", "tag")

      val check = Check(CheckLevel.Error, "row_outcomes")
        .isComplete("value")
        .isNonNegative("value")
        .isUnique("tag")
      val result = VerificationSuite().onData(df).addCheck(check).run()
      val withOutcomes = VerificationResult.rowLevelResultsAsDataFrame(spark, result, df)

      val rows = withOutcomes.orderBy("id")
        .select("id", "row_outcomes").collect()
        .map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      rows(1) shouldBe true    // complete, non-negative, unique tag
      rows(2) shouldBe false   // null value
      rows(3) shouldBe false   // negative + duplicate tag
      rows(4) shouldBe true
    }
  }
}
