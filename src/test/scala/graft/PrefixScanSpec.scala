package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.pipeline.{Mixing, Packing, Ranking}

/** The results of the prefix-offset operators ([[Ranking.prefixScan]]
  * callers) are lazy frames over the scan's second pass and cache
  * nothing: each is consumed three times and must give the same rows
  * every time, rerun none of the shuffles written before that
  * consumption (the range shuffle's output is re-read, not recomputed),
  * and leave `getPersistentRDDs` as it found it, right after the call.
  */
class PrefixScanSpec extends AnyWordSpec with Matchers with SparkSpec {

  /** Calls `result`, then collects it three times, each through a new
    * frame over it (repeated actions on one Dataset object share its
    * physical plan and so its shuffles; a new frame plans, and shuffles,
    * afresh). `mapOnly`: the consuming plan has no exchange of its own,
    * so the second and third consumption must run no shuffle-map stage.
    */
  private def consumeThrice(mapOnly: Boolean)(result: => DataFrame): Unit = {
    val sc = spark.sparkContext
    val drainMarker = "graft-prefix-scan-drain"
    // (job description, stage id) of every stage submission, in order. A
    // skipped stage (its map output already present) is not submitted,
    // and a shuffle that reruns is resubmitted under its old stage id.
    val submitted = new ConcurrentLinkedQueue[(String, Int)]()
    val mapStageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        submitted.add((Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull,
          e.stageInfo.stageId))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask") mapStageIds.add(e.stageId)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == drainMarker)
          markerJobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) drained.countDown()
    }
    def tagged[T](desc: String)(body: => T): T = {
      sc.setJobDescription(desc)
      try body finally sc.setJobDescription(null)
    }
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    val rows = try {
      val df = tagged("call")(result)
      sc.getPersistentRDDs.keySet shouldBe before
      val rows = (1 to 3).map { k =>
        tagged(s"consume-$k")(df.select("*").collect().map(_.toString).sorted.toSeq)
      }
      // events arrive in order: once the marker job ends, every stage
      // of the call and the consumptions has been recorded
      tagged(drainMarker)(sc.parallelize(Seq(1), 1).count())
      drained.await(60, TimeUnit.SECONDS) shouldBe true
      rows
    } finally sc.removeSparkListener(listener)
    sc.getPersistentRDDs.keySet shouldBe before
    rows.head should not be empty
    rows(1) shouldBe rows.head
    rows(2) shouldBe rows.head
    val stages = submitted.asScala.toSeq.filter(st => mapStageIds.contains(st._2))
    for (k <- 2 to 3) {
      val earlier = stages.takeWhile(_._1 != s"consume-$k").map(_._2).toSet
      val now = stages.filter(_._1 == s"consume-$k").map(_._2)
      withClue(s"consumption $k reran an earlier shuffle: ") {
        now.filter(earlier.contains) shouldBe empty
      }
      if (mapOnly) withClue(s"consumption $k ran shuffle-map stages: ") {
        now shouldBe empty
      }
    }
  }

  // 60 docs over 3 partitions; ids 7 and 19 appear twice with other texts
  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    val base = (0 until 60).map { i =>
      (i.toLong, Seq("en", "de", "fr")(i % 3),
        (0 to (i * 7) % 9).map(j => s"w${(i + j) % 11}").mkString(" "))
    }
    val dups = Seq((7L, "en", "x y z"), (19L, "de", "p q r s t u"))
    (base ++ dups).toDF("doc_id", "lang", "text").repartition(3)
  }

  "a prefix-offset result" should {
    "be the same on every consumption and pin nothing: groupedNtile" in {
      consumeThrice(mapOnly = true) {
        Ranking.groupedNtile(docs.where("doc_id not in (7, 19)")
          .selectExpr("doc_id", "lang", "length(text) as len"),
          "lang", Seq("len", "doc_id"), 4)
      }
    }

    "be the same on every consumption and pin nothing: packStats" in {
      consumeThrice(mapOnly = true) {
        Packing.packStats(docs, "doc_id", "text", seqLen = 8)
      }
    }

    "be the same on every consumption and pin nothing: packSequences" in {
      consumeThrice(mapOnly = false) {
        Packing.packSequences(docs, "doc_id", "text", seqLen = 8)
      }
    }

    "be the same on every consumption and pin nothing: lengthBuckets" in {
      consumeThrice(mapOnly = true) {
        Packing.lengthBuckets(docs.where("doc_id not in (7, 19)"),
          "doc_id", "text", nBuckets = 5)
      }
    }

    "be the same on every consumption and pin nothing: tokenBudgetSample" in {
      consumeThrice(mapOnly = false) {
        Mixing.tokenBudgetSample(docs, "doc_id", "text", "lang",
          Map("en" -> 60L, "de" -> 25L))
      }
    }

    "be the same on every consumption and pin nothing: ppsSystematicSample" in {
      consumeThrice(mapOnly = true) {
        Mixing.ppsSystematicSample(
          docs.selectExpr("doc_id", "length(text) as w"), "doc_id", "w", k = 9)
      }
    }
  }
}
