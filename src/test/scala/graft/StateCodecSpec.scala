package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.core._
import graft.operators._
import graft.runners.AnalysisRunner
import graft.sketch.{FreqItems, HllState => HllStates, KLLSketchAnalyzer, KllGroupState, Theta}

/** The state codecs of [[HdfsStateProvider]], listed from one catalog:
  * every concrete analyzer class of the library is either catalogued (a
  * sample analyzer over a small frame, round-tripped through a provider)
  * or refused (its state is never persisted). An analyzer added without
  * a codec, or a codec deleted, fails the spec.
  */
class StateCodecSpec extends AnyWordSpec with Matchers with SparkSpec {

  private lazy val plain: DataFrame = {
    val s = spark
    import s.implicits._
    val t = Seq("1", "2.5", "true", "abc", null)
    (0 until 60).map { i =>
      val fp = if (i % 7 == 0) i + 1L else i.toLong
      (i.toLong, (i * 7 % 13) - 3.0, i * 0.5 + i % 3, if (i % 11 == 0) null else s"v${i % 5}",
        s"c${i % 4}", t(i % 5), 10L + i, i * 3L, i.toLong, 10L + i, i * 3L, fp,
        i % 6, (i % 5).toLong, (i % 3).toLong)
    }.toDF("id", "x", "y", "s", "cat", "t", "n_rows_a", "id_sum_a", "content_fp_a",
      "n_rows_b", "id_sum_b", "content_fp_b", "cell", "n_a", "n_b")
  }

  // per-group sketch states of two overlapping snapshots, joined on the group
  private lazy val states: DataFrame = {
    val s = spark
    import s.implicits._
    val docs = (0 until 300).map(i => (i.toLong, s"g${i % 3}", s"w${i % 7}", i.toDouble))
      .toDF("id", "grp", "item", "v")
    def side(df: DataFrame, n: String): DataFrame =
      HllStates.distinctState(df, Seq("grp"), Seq("item")).withColumnRenamed("hll", s"hll_$n")
        .join(Theta.thetaState(df, Seq("grp"), Seq("item"))
          .withColumnRenamed("theta", s"theta_$n"), "grp")
        .join(KllGroupState.quantileState(df, Seq("grp"), "v")
          .withColumnRenamed("kll", s"kll_$n"), "grp")
        .join(FreqItems.freqState(df, Seq("grp"), "item", 16)
          .withColumnRenamed("mg", s"mg_$n"), "grp")
    side(docs.where(col("id") < 200), "a").join(side(docs.where(col("id") >= 100), "b"), "grp")
  }

  private def catalog: Seq[(AnyAnalyzer, DataFrame)] = {
    plain.createOrReplaceTempView("graft_codec_v")
    Seq[AnyAnalyzer](
      Size(), Completeness("s"), Compliance("x_pos", "x > 0"), PatternMatch("s", "v[0-2]"),
      Minimum("x"), Maximum("x"), ValueRange("x"), Mean("x"), Sum("x"), RatioOfSums("x", "y"),
      ZerosCount("x"), MinLength("s"), MaxLength("s"), ApproxCountDistinct("cat"),
      DataTypeAnalyzer("t"), StandardDeviation("x"), Variance("x"), Skewness("x"),
      Kurtosis("x"), Correlation("x", "y"), ApproxQuantile("y", 0.5),
      ApproxQuantiles("y", Seq(0.25, 0.75)), KLLSketchAnalyzer("y"), ColumnCount(),
      ColumnExists("x"), CustomSql("SELECT sum(x) FROM graft_codec_v"),
      Uniqueness(Seq("cat")), UniqueValueRatio(Seq("s")), Distinctness(Seq("cat", "s")),
      CountDistinct(Seq("cat")), Entropy("cat"), DuplicateRowCount(Seq("cat")),
      MutualInformation(Seq("cat", "s")), Histogram("cat"), ManifestParity(),
      CellPopulationDrift()
    ).map(_ -> plain) ++ Seq[AnyAnalyzer](
      ApproxCountDistinctFromState("hll_a"), ApproxQuantileFromState("kll_a", 0.5),
      ApproxItemFrequencyFromState("mg_a", "w1"), ItemFrequencyDrift("mg_a", "mg_b"),
      DistinctCountRatio("hll_a", "hll_b"), QuantileShift("kll_a", "kll_b", 0.5),
      SnapshotOverlap("theta_a", "theta_b")
    ).map(_ -> states)
  }

  // states that are never persisted: non-mergeable, or an identity that
  // is not stable across runs
  private def refused: Seq[AnyAnalyzer] = Seq(
    HistogramBinned("x"), ExactQuantile("x", 0.5), InterquartileRange("x"),
    CustomAggregator(df => AggregatedMetricState(Map("rows" -> df.count()), 1L), "rows"),
    DatasetMatchAnalyzer(plain.select("id", "x"), Map("id" -> "id")))

  /** Every concrete [[Analyzer]] class compiled under `graft`. */
  private def analyzerClasses: Set[Class[_]] = {
    val root = Paths.get(classOf[Analyzer[_, _]].getProtectionDomain.getCodeSource.getLocation.toURI)
    val files = Files.walk(root.resolve("graft"))
    try files.iterator.asScala.filter(_.toString.endsWith(".class")).toList.map { f =>
      Class.forName(root.relativize(f).toString.stripSuffix(".class").replace('/', '.'), false,
        getClass.getClassLoader)
    }.filter(c => classOf[Analyzer[_, _]].isAssignableFrom(c) && !c.isInterface &&
      !Modifier.isAbstract(c.getModifiers)).toSet
    finally files.close()
  }

  /** A metric value as named numbers: doubles, and the numbers inside
    * maps, sequences and case classes (distributions, KLL buckets).
    */
  private def numbers(v: Any, at: String = ""): Seq[(String, Double)] = v match {
    case d: Double => Seq(at -> d)
    case n: Long => Seq(at -> n.toDouble)
    case n: Int => Seq(at -> n.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).flatMap { case (k, x) => numbers(x, s"$at/$k") }
    case s: Seq[_] => s.zipWithIndex.flatMap { case (x, i) => numbers(x, s"$at/$i") }
    case p: Product => p.productIterator.zipWithIndex.toSeq.flatMap { case (x, i) =>
        numbers(x, s"$at.$i")
      }
    case _ => Nil
  }

  private def close(x: Double, y: Double): Boolean =
    x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))

  private def withTmp[T](body: String => T): T = {
    val tmp = Files.createTempDirectory("graft-codec")
    try body(tmp.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  private def stateFile(dir: String): Path = {
    val files = Files.list(Paths.get(dir))
    try files.iterator.asScala.filter(_.toString.endsWith(".bin")).toList match {
      case Seq(f) => f
      case other => fail(s"expected one state file, found $other")
    } finally files.close()
  }

  // a rewrite the local filesystem's checksum file would not vouch for
  private def overwrite(file: Path, bytes: Array[Byte]): Unit = {
    Files.write(file, bytes)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }

  "The state codec catalog" should {
    "list every concrete analyzer class, catalogued or refused" in {
      val listed = (catalog.map(_._1) ++ refused).map(_.getClass)
      listed.distinct.size shouldBe listed.size
      analyzerClasses.map(_.getName) shouldBe listed.map(_.getName).toSet
    }

    "re-render every catalogued analyzer from a fresh provider" in withTmp { tmp =>
      catalog.groupBy(_._2).toSeq.zipWithIndex.foreach { case ((frame, entries), i) =>
        val analyzers = entries.map(_._1)
        val location = s"$tmp/frame-$i/state"
        val direct = AnalysisRunner.run(frame, analyzers,
          saveStatesWith = Some(new HdfsStateProvider(spark, location)))
        val restored = AnalysisRunner.runOnAggregatedStates(analyzers,
          Seq(new HdfsStateProvider(spark, location)))
        analyzers.foreach { a =>
          withClue(s"analyzer $a: ") {
            val d = numbers(direct.metric(a).get.value.get)
            val r = numbers(restored.metric(a).get.value.get)
            d should not be empty
            r.map(_._1) shouldBe d.map(_._1)
            r.zip(d).foreach { case ((k, x), (_, y)) =>
              withClue(s"$k: $x vs $y ") { close(x, y) shouldBe true }
            }
          }
        }
      }
    }

    "refuse every refused analyzer's state on persist, and load None for it" in withTmp { tmp =>
      val provider = new HdfsStateProvider(spark, s"$tmp/state")
      refused.foreach { a =>
        withClue(s"analyzer $a: ") {
          val state = a.asInstanceOf[Analyzer[State[_], _]].computeStateFrom(plain).get
          an[IllegalArgumentException] should be thrownBy
            provider.persist(a.asInstanceOf[Analyzer[State[_], _]], state)
          provider.load(a) shouldBe None
        }
      }
      new java.io.File(tmp).list() shouldBe empty
    }

    "name the analyzer of a non-mergeable state it refuses" in withTmp { tmp =>
      val a = InterquartileRange("x")
      val e = the[IllegalArgumentException] thrownBy
        new HdfsStateProvider(spark, s"$tmp/state").persist(a, a.computeStateFrom(plain).get)
      e.getMessage should include("InterquartileRange")
    }
  }

  "HdfsStateProvider" should {
    "refuse DatasetMatchAnalyzers whose reference frames render alike" in withTmp { tmp =>
      val s = spark
      import s.implicits._
      val small = (1L to 3L).map(i => (i, i, i)).toDF("id", "x", "y")
      val large = (1L to 7L).map(i => (i, i * 2, i)).toDF("id", "x", "z")
      val a1 = DatasetMatchAnalyzer(small, Map("id" -> "id"), Map("x" -> "x"))
      val a2 = DatasetMatchAnalyzer(large, Map("id" -> "id"), Map("x" -> "x"))
      // Spark renders both frames as [id: bigint, x: bigint ... 1 more
      // field]: one file name for two different states
      a1.toString shouldBe a2.toString
      val data = (1L to 5L).map(i => (i, i)).toDF("id", "x")
      val provider = new HdfsStateProvider(spark, s"$tmp/state")
      Seq(a1, a2).foreach { a =>
        an[IllegalArgumentException] should be thrownBy
          provider.persist(a, a.computeStateFrom(data).get)
        provider.load(a) shouldBe None
      }
    }

    "fail a load of a file without the header, naming it" in withTmp { tmp =>
      val provider = new HdfsStateProvider(spark, s"$tmp/state")
      provider.persist(Size(), NumMatches(3L))
      val file = stateFile(tmp)
      overwrite(file, "not a state file".getBytes("UTF-8"))
      val e = the[IllegalStateException] thrownBy provider.load(Size())
      e.getMessage should include(file.getFileName.toString)
      overwrite(file, Array[Byte](1, 2))
      (the[IllegalStateException] thrownBy provider.load(Size())).getMessage should
        include(file.getFileName.toString)
    }

    "fail a load of a file with an unknown tag, naming it" in withTmp { tmp =>
      val provider = new HdfsStateProvider(spark, s"$tmp/state")
      provider.persist(Size(), NumMatches(3L))
      val file = stateFile(tmp)
      val bytes = Files.readAllBytes(file)
      bytes(4) = 99.toByte // the tag follows the 4-byte magic number
      overwrite(file, bytes)
      val e = the[IllegalStateException] thrownBy provider.load(Size())
      e.getMessage should include(file.getFileName.toString)
      e.getMessage should include("99")
    }
  }
}
