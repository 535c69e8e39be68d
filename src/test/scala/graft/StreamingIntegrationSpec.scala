package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.checks.{Check, CheckLevel, CheckStatus}
import graft.core._
import graft.operators.{Completeness, CountDistinct, Entropy, Mean, Size, Uniqueness}
import graft.streaming.{StreamingOps, StreamingVerifier}

/** End-to-end Structured Streaming integration: a real MemoryStream source
  * driving foreachBatch incremental verification and a windowed aggregation
  * with a watermark.
  */
class StreamingIntegrationSpec extends AnyWordSpec with Matchers with SparkSpec {

  "StreamingVerifier over a real stream" should {
    "verify cumulatively via foreachBatch" in {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

      val input = MemoryStream[Double]
      val verifier = new StreamingVerifier(
        Seq[AnyAnalyzer](Size(), Mean("value")),
        Seq(Check(CheckLevel.Error, "stream check").isComplete("value")))

      val query = input.toDF().select(col("value"))
        .writeStream
        .outputMode("append")
        .foreachBatch(verifier.asForeachBatch())
        .start()
      try {
        input.addData(1.0, 2.0, 3.0)
        query.processAllAvailable()
        input.addData(4.0, 5.0, 6.0)
        query.processAllAvailable()
      } finally query.stop()

      val result = verifier.latestResult.get
      result.status shouldBe CheckStatus.Success
      val size = result.metrics.collectFirst {
        case (a: Size, m) => m.value.get.asInstanceOf[Double]
      }
      val mean = result.metrics.collectFirst {
        case (a: Mean, m) => m.value.get.asInstanceOf[Double]
      }
      size shouldBe Some(6.0)
      mean shouldBe Some(3.5)
    }

    "replay idempotently, roll back failed batches, and resume after resetBatchTracking" in {
      val s = spark
      import s.implicits._
      val verifier = new StreamingVerifier(Seq[AnyAnalyzer](Size()))
      def sizeOf(r: graft.checks.VerificationResult): Double =
        r.metrics.collectFirst { case (_: Size, m) =>
          m.value.get.asInstanceOf[Double] }.get
      val b1 = Seq(1.0, 2.0, 3.0).toDF("value")

      sizeOf(verifier.processBatch(b1, 0L)) shouldBe 3.0
      // at-least-once replay of the SAME batchId must not merge twice
      sizeOf(verifier.processBatch(b1, 0L)) shouldBe 3.0
      sizeOf(verifier.processBatch(b1, 1L)) shouldBe 6.0

      // a batch that fails mid-processing must leave the cumulative state
      // untouched so the replay starts clean (no double-merge)
      val poisoned = Seq(4.0).toDF("value")
        .filter(org.apache.spark.sql.functions
          .expr("raise_error('boom') IS NULL OR value > 0"))
      // the per-analyzer containment turns the data error into a failure
      // metric (no states persisted for it); cumulative size is unchanged
      verifier.processBatch(poisoned, 2L)
      sizeOf(verifier.processBatch(b1, 3L)) shouldBe 9.0

      // fresh query restarts batchIds at 0: without the reset these would
      // be mistaken for replays and silently dropped
      sizeOf(verifier.processBatch(b1, 0L)) shouldBe 9.0 // stale guard hit
      verifier.resetBatchTracking()
      sizeOf(verifier.processBatch(b1, 0L)) shouldBe 12.0
    }
  

    "hold at most one lineage cut per grouping key across micro-batches" in {
      val s = spark
      import s.implicits._
      val analyzers = Seq[AnyAnalyzer](
        Uniqueness(Seq("k")), Entropy("k"), CountDistinct(Seq("j")))
      val verifier = new StreamingVerifier(analyzers)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val batches = (0 until 5).map { b =>
        (0 until 50).map(i => (b * 40L + i, s"j${i % 7}")).toDF("k", "j")
      }
      batches.zipWithIndex.foreach { case (batch, id) => verifier.processBatch(batch, id.toLong) }
      // two grouping keys (k, j): two cuts, the replaced ones released
      (sc.getPersistentRDDs.keySet -- before).size should be <= 2
      val full = graft.runners.AnalysisRunner.run(batches.reduce(_ unionByName _), analyzers)
      analyzers.foreach { a =>
        val got = verifier.latestResult.get.metrics(a).value.get.asInstanceOf[Double]
        got shouldBe full.metric(a).get.value.get.asInstanceOf[Double] +- 1e-12
      }
    }
}

  "streaming dedup with bounded state" should {
    "drop duplicate keys across micro-batches and keep state watermark-bounded" in {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:00:$sec%02d")
      val deduped = StreamingOps.dedupStream(
        input.toDF().toDF("doc_id", "text", "event_time"),
        "event_time", "10 seconds", Seq("doc_id"))
      val query = deduped.writeStream
        .format("memory").queryName("graft_dedup_out")
        .outputMode("append").start()
      try {
        input.addData((1L, "a", ts(1)), (2L, "b", ts(2)), (1L, "a-dup", ts(3)))
        query.processAllAvailable()
        // cross-batch duplicate of key 2 within the watermark window
        input.addData((2L, "b-dup", ts(4)), (3L, "c", ts(5)))
        query.processAllAvailable()
      } finally query.stop()
      val out = s.table("graft_dedup_out").collect()
      out.map(_.getLong(0)).sorted shouldBe Seq(1L, 2L, 3L)

      // batch degradation: same call, plain dropDuplicates
      val batchDf = Seq((1L, "x", ts(1)), (1L, "y", ts(2))).toDF("doc_id", "text", "event_time")
      StreamingOps.dedupStream(batchDf, "event_time", "10 seconds", Seq("doc_id"))
        .count() shouldBe 1L
    }

    "suppress near-duplicate text by fingerprint across batches" in {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:00:$sec%02d")
      val deduped = StreamingOps.dedupStreamByFingerprint(
        input.toDF().toDF("doc_id", "text", "event_time"),
        "event_time", "10 seconds", "text")
      val query = deduped.writeStream
        .format("memory").queryName("graft_fp_dedup_out")
        .outputMode("append").start()
      try {
        input.addData((1L, "Hello  World", ts(1)), (2L, "other doc", ts(2)))
        query.processAllAvailable()
        // same fingerprint (case/whitespace-insensitive), different id
        input.addData((3L, "hello world", ts(3)))
        query.processAllAvailable()
      } finally query.stop()
      val out = s.table("graft_fp_dedup_out").collect()
      out.map(_.getLong(0)).sorted shouldBe Seq(1L, 2L)
    }
  }

  "DedupIngest over foreachBatch" should {
    "elect the global min-id survivors regardless of batch order and replays" in {
      val s = spark
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
      try {
        val ingest = new StreamingOps.DedupIngest(s"$dir/state", "text", "id")
        val b1 = Seq((7L, "a"), (9L, "b"), (11L, null: String)).toDF("id", "text")
        val b2 = Seq((3L, "a"), (8L, "c")).toDF("id", "text")
        // batches arrive OUT of corpus order; b2 replays (at-least-once)
        ingest.processBatch(b2, 0L)
        ingest.processBatch(b1, 1L)
        ingest.processBatch(b2, 0L)
        val surv = ingest.survivors(s)
          .select(col("graft_min_id")).as[Long].collect().sorted
        surv shouldBe Seq(3L, 8L, 9L) // min id per text; null text skipped

        // compaction folds the parts into one and changes nothing; later
        // batches keep folding against the compacted part
        ingest.compact(s)
        ingest.survivors(s).select(col("graft_min_id"))
          .as[Long].collect().sorted shouldBe Seq(3L, 8L, 9L)
        ingest.processBatch(Seq((1L, "a"), (4L, "d")).toDF("id", "text"), 2L)
        ingest.survivors(s).select(col("graft_min_id"))
          .as[Long].collect().sorted shouldBe Seq(1L, 4L, 8L, 9L)
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  "IVF index state under streaming ingest" should {
    "append postings per micro-batch to the one-shot index" in {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import graft.pipeline.Similarity
      val rnd = new scala.util.Random(31)
      val corpus = (0 until 120).map { i =>
        (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
      }
      val corpusDf = corpus.toDF("vec_id", "embedding")
      val centroids = Similarity.trainIvfCentroids(corpusDf, "embedding",
        nlist = 4, sampleSize = 120)
      val dir = java.nio.file.Files.createTempDirectory("graft-ivfstream").toString
      try {
        val input = MemoryStream[(Long, Array[Float])]
        val query = input.toDF().toDF("vec_id", "embedding")
          .writeStream
          .option("checkpointLocation", s"$dir/ckpt")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            Similarity.ivfIndexState(batch, "vec_id", "embedding", centroids)
              .write.mode("overwrite").parquet(s"$dir/post/batch=$id")
          }
          .start()
        try {
          corpus.grouped(40).foreach { g =>
            input.addData(g: _*)
            query.processAllAvailable()
          }
        } finally query.stop()
        val streamed = s.read.parquet(s"$dir/post")
          .select(col("graft_cell"), col("neighbor_id"))
        val oneShot = Similarity.ivfIndexState(corpusDf, "vec_id",
          "embedding", centroids).select(col("graft_cell"), col("neighbor_id"))
        streamed.exceptAll(oneShot).count() shouldBe 0L
        oneShot.exceptAll(streamed).count() shouldBe 0L
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  "windowed aggregation with watermark on a real stream" should {
    "produce closed windows downstream" in {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

      val input = MemoryStream[(java.sql.Timestamp, Double)]
      val windowed = StreamingOps.windowedAgg(
        input.toDF().toDF("ts", "value"),
        timestampColumn = "ts",
        windowDuration = "1 minute",
        aggregations = Seq(sum(col("value")).as("total"), count(lit(1)).as("n")),
        watermarkDelay = Some("30 seconds"))

      val query = windowed.writeStream
        .outputMode("update")
        .format("memory")
        .queryName("graft_windows")
        .start()
      try {
        def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
        input.addData((ts(10), 1.0), (ts(20), 2.0), (ts(70), 10.0))
        query.processAllAvailable()
        input.addData((ts(80), 5.0))
        query.processAllAvailable()
      } finally query.stop()

      val out = spark.sql(
        "SELECT window.start, total, n FROM graft_windows ORDER BY window.start, total")
        .collect()
      // window [.:00, +1:00) holds 1+2; window [+1:00, +2:00) ends at 10 then 15
      out.map(_.getDouble(1)).toSet should contain(3.0)
      out.map(_.getDouble(1)).max shouldBe 15.0
    }
  }

  "SparkEntry.eventsTable" should {
    // The test-data generator has shipped events.ts as BOTH parquet
    // TIMESTAMP(NANOS) (read as Long under nanosAsLong) and timestamp[us]
    // (read natively as TIMESTAMP/TIMESTAMP_NTZ). Both encodings of the
    // same instants must produce identical window boundaries (r10 verdict:
    // the adapter went stale on an encoding change and q37/q38 died).
    "produce identical windows for int64-nanos and timestamp[us] encodings" in {
      import org.apache.spark.sql.functions.{count => fcount, date_format}
      import org.apache.spark.sql.types.{LongType, StructField, StructType, StringType => SStr}
      val s = spark
      val base = 1600000000L * 1000000000L // 2020-09-13 12:26:40 UTC, in nanos
      val rows = Seq( // (user, offsetSeconds) spanning two hour buckets + a session gap
        ("u1", 0L), ("u1", 120L), ("u1", 900L), // 10-min gap splits after this
        ("u1", 2400L), ("u2", 100L), ("u2", 4000L))
      val schema = StructType(Seq(
        StructField("user_id", SStr), StructField("ts", LongType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val nanosDf = s.createDataFrame(
        s.sparkContext.parallelize(rows.map { case (u, off) =>
          org.apache.spark.sql.Row(u, base + off * 1000000000L, 1.0) }, 2), schema)

      val dirA = java.nio.file.Files.createTempDirectory("graft_ev_nanos").toString
      val dirB = java.nio.file.Files.createTempDirectory("graft_ev_micros").toString
      nanosDf.write.mode("overwrite").parquet(s"$dirA/events.parquet")
      nanosDf
        .withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        .write.mode("overwrite").parquet(s"$dirB/events.parquet")

      def windows(dir: String): Seq[(String, Long)] =
        StreamingOps.windowedAgg(
            SparkEntry.eventsTable(s, dir), "ts", "1 hour",
            Seq(fcount(org.apache.spark.sql.functions.lit(1)).as("n")))
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w"), col("n"))
          .orderBy("w").collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      def sessions(dir: String): Seq[(String, Long)] =
        StreamingOps.sessionized(
            SparkEntry.eventsTable(s, dir), "ts", "10 minutes", Seq("user_id"),
            Seq(fcount(org.apache.spark.sql.functions.lit(1)).as("n")))
          .select(col("user_id"), col("n"))
          .orderBy("user_id", "n").collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

      val (wA, wB) = (windows(dirA), windows(dirB))
      val (sA, sB) = (sessions(dirA), sessions(dirB))
      wA shouldBe wB
      sA shouldBe sB
      // hard-pin the epoch-aligned hour boundaries: base = 12:26:40, so
      // bucket 12:00 holds offsets {0,120,900} + u2's 100, bucket 13:00
      // holds {2400 (13:06:40), 4000 (13:33:20)}
      wA shouldBe Seq(("2020-09-13 12:00:00", 4L), ("2020-09-13 13:00:00", 2L))
      // u1: [0,120] then 13-min gap → [900] then 25-min gap → [2400]:
      // three sessions (2,1,1); u2: [100] and [4000]: two singletons
      sA shouldBe Seq(("u1", 1L), ("u1", 1L), ("u1", 2L), ("u2", 1L), ("u2", 1L))
    }
  }

  "map-side pipeline operators under Structured Streaming" should {
    // the quality/filter family is pure per-row expressions (no shuffle,
    // no state), so it must run UNMODIFIED inside a streaming query and
    // agree with its batch verdicts — the claim that lets a curation
    // recipe built on these ops move from backfill to live ingestion
    "produce batch-identical C4 and quality verdicts on a live stream" in {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

      val texts = Seq(
        (1L, "this line has five words.\nshort.\nanother good line with words!"
          + "\na third fine line right here?\nand one more decent line here."),
        (2L, "only one good line here.\ntiny."),
        (3L, "visit our javascript powered site.\ngood line number two here.\n"
          + "good line number three here.\ngood line number four here."))
      val batch = graft.pipeline.TextAnalysis
        .c4Clean(texts.toDF("doc_id", "text"), "doc_id", "text")
        .select(col("doc_id"), col("kept"),
          graft.pipeline.TextAnalysis.qualityScore(col("text_clean")).as("q"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getDouble(2))).toSet

      val input = MemoryStream[(Long, String)]
      val streamed = scala.collection.mutable.Set[(Long, Boolean, Double)]()
      val query = graft.pipeline.TextAnalysis
        .c4Clean(input.toDF().toDF("doc_id", "text"), "doc_id", "text")
        .select(col("doc_id"), col("kept"),
          graft.pipeline.TextAnalysis.qualityScore(col("text_clean")).as("q"))
        .writeStream
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          streamed.synchronized {
            streamed ++= df.collect()
              .map(r => (r.getLong(0), r.getBoolean(1), r.getDouble(2)))
          }
          ()
        }
        .start()
      try {
        input.addData(texts.take(2): _*)
        query.processAllAvailable()
        input.addData(texts.drop(2): _*)
        query.processAllAvailable()
      } finally query.stop()

      streamed.toSet shouldBe batch
    }

    "dedup a live ingest against seed state like batch exactDedupIncremental" in {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

      // micro-batch 1 seeds "yesterday's corpus" into the dedup state;
      // micro-batch 2 is today's ingest — the streaming twin of q69's
      // batch shape (state = dropDuplicates' key store instead of a
      // parquet hash table)
      val old = Seq((1L, "alpha"), (2L, "beta"))
      val today = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"),
        (13L, "delta"))

      val input = MemoryStream[(Long, String)]
      val arrived = scala.collection.mutable.Buffer[(Long, String)]()
      val query = input.toDF().toDF("doc_id", "text")
        .withColumn("graft_kh", md5(col("text").cast("binary")))
        .dropDuplicates("graft_kh")
        .writeStream
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          arrived.synchronized {
            arrived ++= df.select(col("doc_id"), col("text")).collect()
              .map(r => (r.getLong(0), r.getString(1)))
          }
          ()
        }
        .start()
      try {
        input.addData(old: _*)
        query.processAllAvailable()
        input.addData(today: _*)
        query.processAllAvailable()
      } finally query.stop()

      // survivors of today's batch: first-arrived per new text; streaming
      // tie-breaks within a micro-batch are arrival-order, so compare the
      // surviving TEXT set against the deterministic batch operator
      val streamedTexts = arrived.filter(_._1 >= 10L).map(_._2).toSet
      val batchTexts = graft.pipeline.Dedup.exactDedupIncremental(
        today.toDF("doc_id", "text"), "text", "doc_id",
        graft.pipeline.Dedup.seenTextKeys(old.toDF("doc_id", "text"), "text"))
        .select("text").collect().map(_.getString(0)).toSet
      streamedTexts shouldBe Set("gamma", "delta")
      streamedTexts shouldBe batchTexts
    }

    "near-dedup a live ingest against LSH state like batch nearDedupIncremental" in {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

      // micro-batch 1 seeds the persisted MinHash-LSH state; micro-batch 2
      // is today's ingest, near-deduped against the state inside
      // foreachBatch — the streaming twin of q76's batch shape. The fuzzy
      // path's tie-breaks are min-id (not arrival order), so ids compare
      // directly against the batch operator.
      val old = Seq((1L,
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"))
      val today = Seq(
        // fuzzy dup of doc 1 (last token changed): dropped vs state
        (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi pi"),
        // within-batch near-dup pair: keep 11
        (11L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
        (12L, "one two three four five six seven eight nine ten eleven twelve fourteen"),
        // novel: kept
        (13L, "totally novel content words completely unrelated any overlap whatsoever distinct vocabulary"))

      val stateDir =
        java.nio.file.Files.createTempDirectory("graft_stream_lsh").toString
      val input = MemoryStream[(Long, String)]
      val survived = scala.collection.mutable.Buffer[Long]()
      var seeded = false
      val query = input.toDF().toDF("doc_id", "text")
        .writeStream
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!seeded) {
            graft.pipeline.Dedup.writeLshState(
              graft.pipeline.Dedup.lshState(df, "doc_id", "text"), stateDir)
            seeded = true
          } else {
            val st = graft.pipeline.Dedup.readLshState(df.sparkSession, stateDir)
            val surv = graft.pipeline.Dedup.nearDedupIncremental(
              df, "doc_id", "text", st, threshold = 0.5)
            survived.synchronized {
              survived ++= surv.select("doc_id").collect().map(_.getLong(0))
            }
            // fold the survivors into the state for the next micro-batch —
            // the full daily-ingestion algebra
            graft.pipeline.Dedup.writeLshState(
              st.merge(graft.pipeline.Dedup.lshState(surv, "doc_id", "text")),
              stateDir + "_next")
          }
          ()
        }
        .start()
      try {
        input.addData(old: _*)
        query.processAllAvailable()
        input.addData(today: _*)
        query.processAllAvailable()
      } finally query.stop()

      val batchIds = graft.pipeline.Dedup.nearDedupIncremental(
        today.toDF("doc_id", "text"), "doc_id", "text",
        graft.pipeline.Dedup.lshState(old.toDF("doc_id", "text"), "doc_id", "text"),
        threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      survived.toSet shouldBe Set(11L, 13L)
      survived.toSet shouldBe batchIds
      // the folded state absorbed the surviving batch docs
      graft.pipeline.Dedup.readLshState(s, stateDir + "_next")
        .signatures.count() shouldBe 3L

      import scala.jdk.CollectionConverters._
      Seq(stateDir, stateDir + "_next").foreach { d =>
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        try st.iterator().asScala.toSeq.reverseIterator
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
        finally st.close()
      }
    }

    "score a live ingest with a pre-trained NB model like batch scoring" in {
      val s = spark
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

      // the production quality-filter shape: the model is trained offline
      // on a seed set; the stream scores each micro-batch against the
      // broadcast model (per-doc pure, so streaming == batch exactly)
      val train = Seq(
        (1L, "clean prose sentence", "keep"),
        (2L, "buy now click here", "toss"))
        .toDF("doc_id", "text", "label")
      val model = graft.pipeline.Classify
        .trainNaiveBayes(train, "doc_id", "text", "label")
      val docs = Seq(
        (10L, "clean prose here"), (11L, "click now"),
        (12L, "prose sentence clean"), (13L, "totally oov tokens"))

      val batch = graft.pipeline.Classify
        .scoreNaiveBayes(docs.toDF("doc_id", "text"), "doc_id", "text", model)
        .select("doc_id", "predicted").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet

      val input = MemoryStream[(Long, String)]
      val streamed = scala.collection.mutable.Set[(Long, String)]()
      val query = input.toDF().toDF("doc_id", "text")
        .writeStream
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val scored = graft.pipeline.Classify
            .scoreNaiveBayes(df, "doc_id", "text", model)
            .select("doc_id", "predicted").collect()
            .map(r => (r.getLong(0), r.getString(1)))
          streamed.synchronized { streamed ++= scored }
          ()
        }
        .start()
      try {
        input.addData(docs.take(2): _*)
        query.processAllAvailable()
        input.addData(docs.drop(2): _*)
        query.processAllAvailable()
      } finally query.stop()

      streamed.toSet shouldBe batch
      model.release()
    }
  }
}
