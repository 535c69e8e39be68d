package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.pipeline.Curation

/** The public pipeline builder: stage composition, censuses, tf-epoch
  * invalidation on text mutation, release on a failing stage. q96/q136
  * pin the full five-stage composition against their DuckDB oracle; this
  * spec covers the generic pieces in isolation.
  */
class CurationSpec extends AnyWordSpec with Matchers with SparkSpec {

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "a", "good solid body of text here"),
      (2L, "a", "tiny"),
      (3L, "b", "another good solid body of words"),
      (4L, "b", "spam spam spam spam spam spam"))
      .toDF("doc_id", "source", "text")
  }

  "Curation.pipeline" should {
    "apply KeepWhere gates in order and report censuses" in {
      val r = Curation.pipeline(docs, "doc_id", "text", Seq(
        Curation.KeepWhere("min_len",
          org.apache.spark.sql.functions.length(col("text")) > 10),
        Curation.KeepWhere("no_spam", !col("text").contains("spam"))))
      val kept = r.docs.select("doc_id").collect().map(_.getLong(0)).toSet
      kept shouldBe Set(1L, 3L)
      r.censuses shouldBe Seq(
        "input_docs" -> 4.0, "min_len_kept" -> 3.0, "no_spam_kept" -> 2.0)
      r.release()
    }

    "release its caches when a stage throws" in {
      val sc = spark.sparkContext
      // delta-based: other suites share this session and may hold caches
      val before = sc.getPersistentRDDs.keySet
      // raises when the KeepWhere survivor set materializes, after the
      // input cut has been registered
      val boom = Curation.KeepWhere("boom",
        when(col("doc_id") === 3L, raise_error(lit("boom")))
          .otherwise(lit(true)))
      val e = intercept[Exception] {
        Curation.pipeline(docs, "doc_id", "text", Seq(boom),
          persistInput = true)
      }
      e.getMessage should include ("boom")
      // unpersist is non-blocking: allow the block manager to catch up
      def leaked = sc.getPersistentRDDs.keySet -- before
      val deadline = System.currentTimeMillis() + 15000
      while (leaked.nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      leaked shouldBe empty
    }

    "dedup each ingest batch against the persisted seen-state" in {
      val s = spark
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-curstate").toString
      try {
        val state = s"$dir/seen"
        val b1 = Seq((5L, "alpha"), (9L, "alpha"), (7L, "beta"))
          .toDF("doc_id", "text")
        val b2 = Seq((2L, "alpha"), (4L, "gamma"), (6L, "gamma"))
          .toDF("doc_id", "text")
        val r1 = Curation.pipeline(b1, "doc_id", "text",
          Seq(Curation.DedupAgainstState(state, "b1")), persistInput = false)
        r1.docs.select("doc_id").as[Long].collect().sorted shouldBe
          Seq(5L, 7L) // within-batch min-id election
        r1.censuses shouldBe Seq("input_docs" -> 3.0, "state_dedup_kept" -> 2.0)
        r1.release()
        val r2 = Curation.pipeline(b2, "doc_id", "text",
          Seq(Curation.DedupAgainstState(state, "b2")), persistInput = false)
        // "alpha" was seen by b1; "gamma" dedups within b2
        r2.docs.select("doc_id").as[Long].collect().sorted shouldBe Seq(4L)
        r2.release()
        // replaying b2 must not see its own keys (idempotent part name)
        val r2b = Curation.pipeline(b2, "doc_id", "text",
          Seq(Curation.DedupAgainstState(state, "b2")), persistInput = false)
        r2b.docs.select("doc_id").as[Long].collect().sorted shouldBe Seq(4L)
        r2b.release()
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }

    "uniquify censuses when two stages share a name" in {
      // two KeepWhere stages with the SAME name: both censuses must
      // survive, in stage order, not overwrite each other's thunk
      val r = Curation.pipeline(docs, "doc_id", "text", Seq(
        Curation.KeepWhere("gate",
          org.apache.spark.sql.functions.length(col("text")) > 10),
        Curation.KeepWhere("gate", !col("text").contains("spam"))))
      r.docs.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
        Set(1L, 3L)
      r.censuses shouldBe Seq(
        "input_docs" -> 4.0, "gate_kept" -> 3.0, "gate_kept_2" -> 2.0)
      r.release()
    }

    "re-tokenize after MapText so later stages see the new text" in {
      val r = Curation.pipeline(docs, "doc_id", "text", Seq(
        Curation.MapText("zap", lit("only these four tokens")),
        // identical texts -> identical cross-entropy; the ntile is
        // POSITIONAL (rank key ties break on doc_id), so bucket 1 holds
        // the lower doc id of each source's pair
        Curation.PerplexityKeep("source", nBuckets = 2, keepMaxBucket = 1)))
      r.docs.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
        Set(1L, 3L)
      r.docs.select("text").distinct().collect()
        .map(_.getString(0)).toSeq shouldBe Seq("only these four tokens")
      r.release()
    }

    "dedup by canonical url keeping the smallest id" in {
      val url = concat(lit("https://x.com/p/"),
        (col("doc_id") % 2).cast("string"))
      val r = Curation.pipeline(docs, "doc_id", "text", Seq(
        Curation.UrlDedup(url)))
      r.docs.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
        Set(1L, 2L)
      r.censuses.toMap.apply("url_dedup_kept") shouldBe 2.0
      r.release()
    }

    "train and apply the quality gate from seed labels" in {
      val s = spark
      import s.implicits._
      val labeled = (0 until 40).map { i =>
        val keep = i % 2 == 0
        (i.toLong, "a",
          if (keep) "alpha beta alpha beta alpha beta"
          else "junk garbage junk garbage junk garbage")
      }.toDF("doc_id", "source", "text")
      val r = Curation.pipeline(labeled, "doc_id", "text", Seq(
        Curation.QualityClassifier(
          labelExpr = when(pmod(col("doc_id"), lit(2)) === 0, lit("keep"))
            .otherwise(lit("toss")),
          seedPredicate = col("doc_id") < 10)))
      val kept = r.docs.select("doc_id").collect().map(_.getLong(0)).toSet
      kept shouldBe (0L until 40L by 2).toSet
      r.censuses.toMap.apply("quality_kept") shouldBe 20.0
      r.release()
    }

    "keep every physical-plan description of q136's chain under 32 KiB" in {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
      import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
      // Spark renders each execution's physical plan on the driver before
      // it runs; a plan that re-inlines a deep expression per use shows
      // up here first (a nested canonical-URL Column put ~86 KB into the
      // URL stage's)
      val sc = spark.sparkContext
      val drainMarker = "graft-plan-size-drain"
      val lengths = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val drained = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case st: SparkListenerSQLExecutionStart =>
            if (st.description == drainMarker) drained.countDown()
            else lengths.add(st.physicalPlanDescription.length)
          case _ =>
        }
      }
      SparkEntry.withTempDir("graft-plan-size") { dir =>
        // a small corpus in q136's input layout: six sources, texts that
        // share words across documents
        spark.range(600).select(col("id").as("doc_id"),
          concat(lit("src"), (col("id") % 6).cast("string")).as("source"),
          concat_ws(" ", lit("the corpus holds"), (col("id") % 13).cast("string"),
            lit("words and"), (col("id") % 7).cast("string"), lit("more words"))
            .as("text"))
          .write.parquet(s"$dir/documents.parquet")
        sc.addSparkListener(listener)
        try {
          // q136's whole body: its input, stage list and URL expression,
          // consumed through shard stats, then released
          SparkEntry.queries("q136_curation_builder")(spark, dir)
            .collect() should have length 1
          // listener events arrive in order: once the marker execution is
          // seen, every execution of the chain has been recorded
          sc.setJobDescription(drainMarker)
          try spark.range(1).collect() finally sc.setJobDescription(null)
          drained.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
        } finally sc.removeSparkListener(listener)
      }
      import scala.jdk.CollectionConverters._
      val got = lengths.asScala.toSeq
      got should not be empty
      all(got) should be < 32 * 1024
    }
  }
}
