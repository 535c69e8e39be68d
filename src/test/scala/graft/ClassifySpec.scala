package graft

import graft.pipeline.Classify
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

class ClassifySpec extends AnyWordSpec with Matchers with SparkSpec {

  "trainNaiveBayes / scoreNaiveBayes" should {
    "reproduce the closed-form multinomial NB posteriors" in {
      val s = spark
      import s.implicits._
      val train = Seq(
        (1L, "good good nice", "hi"),
        (2L, "bad awful", "lo"))
        .toDF("doc_id", "text", "label")
      val m = Classify.trainNaiveBayes(train, "doc_id", "text", "label")
      m.vocabSize shouldBe 4L
      // V=4, alpha=1: P(good|hi)=(2+1)/(3+4), P(good|lo)=(0+1)/(2+4)
      val probs = m.termLogProb.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      probs(("good", "hi")) shouldBe math.log(3.0 / 7) +- 1e-12
      probs(("good", "lo")) shouldBe math.log(1.0 / 6) +- 1e-12
      probs(("awful", "hi")) shouldBe math.log(1.0 / 7) +- 1e-12
      probs.size shouldBe 8 // dense: 4 terms x 2 classes

      val scored = Classify.scoreNaiveBayes(
        Seq((10L, "good nice zzz"), (11L, "awful bad bad"),
          (12L, "zzz yyy")).toDF("doc_id", "text"),
        "doc_id", "text", m)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
          r.getDouble(3)))).toMap
      // OOV 'zzz' ignored; scores are prior + sum tf*log_cond
      val hi10 = math.log(0.5) + math.log(3.0 / 7) + math.log(2.0 / 7)
      val lo10 = math.log(0.5) + math.log(1.0 / 6) + math.log(1.0 / 6)
      scored(10L)._1 shouldBe "hi"
      scored(10L)._2 shouldBe hi10 +- 1e-12
      scored(10L)._3 shouldBe (hi10 - lo10) +- 1e-12
      scored(11L)._1 shouldBe "lo"
      // all-OOV doc: priors tie -> ascending label wins
      scored(12L)._1 shouldBe "hi"
      scored(12L)._3 shouldBe 0.0 +- 1e-12
    }

    "merge count states exactly (monoid laws + train-on-union equality)" in {
      val s = spark
      import s.implicits._
      val a = Seq((1L, "x x y", "hi"), (2L, "z", "lo")).toDF("doc_id", "text", "label")
      val b = Seq((3L, "x z z", "hi"), (4L, "y y", "lo")).toDF("doc_id", "text", "label")
      val both = a.unionByName(b)
      def counts(st: Classify.NbCountState) =
        st.termCounts.collect()
          .map(r => (r.getString(1), r.getString(0)) -> r.getLong(2)).toMap
      def docs(st: Classify.NbCountState) =
        st.classDocs.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sa = Classify.countState(a, "doc_id", "text", "label")
      val sb = Classify.countState(b, "doc_id", "text", "label")
      val merged = Classify.mergeCounts(sa, sb)
      val full = Classify.countState(both, "doc_id", "text", "label")
      counts(merged) shouldBe counts(full) // integer-exact
      docs(merged) shouldBe docs(full)
      // commutative
      counts(Classify.mergeCounts(sb, sa)) shouldBe counts(merged)
      // derived models classify identically
      val corpus = Seq((10L, "x y"), (11L, "z z")).toDF("doc_id", "text")
      def preds(m: Classify.NbModel) =
        Classify.scoreNaiveBayes(corpus, "doc_id", "text", m)
          .select("doc_id", "predicted").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      preds(Classify.modelFromCounts(merged)) shouldBe
        preds(Classify.modelFromCounts(full))
    }

    "filter by label and margin" in {
      val s = spark
      import s.implicits._
      val train = Seq(
        (1L, "alpha alpha beta", "keep"),
        (2L, "gamma delta delta", "toss"))
        .toDF("doc_id", "text", "label")
      val m = Classify.trainNaiveBayes(train, "doc_id", "text", "label")
      val corpus = Seq(
        (10L, "alpha beta"), (11L, "gamma delta"), (12L, "oov only"))
        .toDF("doc_id", "text")
      val kept = Classify
        .filterByClassifier(corpus, "doc_id", "text", m, "keep",
          minMargin = 0.1)
        .select("doc_id").as[Long].collect().toSet
      kept shouldBe Set(10L) // 11 predicts toss; 12 ties at margin 0
    }

    "persist count states through parquet and merge to the full-train model" in {
      val s = spark
      import s.implicits._
      val day1 = Seq(
        (1L, "alpha alpha beta", "keep"),
        (2L, "gamma delta", "toss")).toDF("doc_id", "text", "label")
      val day2 = Seq(
        (3L, "alpha beta beta", "keep"),
        (4L, "delta delta epsilon", "toss")).toDF("doc_id", "text", "label")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_nbstate_spec").toString
      // day 1 writes; day 2 reads it back, merges its own shard, writes
      // the union; a fresh read of the union derives the model
      Classify.writeCountState(
        Classify.countState(day1, "doc_id", "text", "label"), s"$dir/s1")
      val merged = Classify.mergeCounts(
        Classify.readCountState(s, s"$dir/s1"),
        Classify.countState(day2, "doc_id", "text", "label"))
      Classify.writeCountState(merged, s"$dir/union")
      val viaDisk = Classify.modelFromCounts(
        Classify.readCountState(s, s"$dir/union"))
      val full = Classify.modelFromCounts(Classify.countState(
        day1.unionByName(day2), "doc_id", "text", "label"))
      def probs(m: Classify.NbModel) = m.termLogProb.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      def priors(m: Classify.NbModel) = m.classLogPrior.collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      probs(viaDisk) shouldBe probs(full) // bit-identical from integer counts
      priors(viaDisk) shouldBe priors(full)
      viaDisk.release(); full.release()
    }
  }

  "modelFromCounts" should {
    "equal a driver-side reference built from the collected counts, bit for bit" in {
      val s = spark
      import s.implicits._
      // "mute" has two seed docs and no token: empty and null text
      val train = Seq[(Long, String, String)](
        (1L, "good good nice", "hi"), (2L, "nice day", "hi"),
        (3L, "bad awful bad", "lo"), (4L, "awful day day", "lo"),
        (5L, "", "mute"), (6L, null, "mute"))
        .toDF("doc_id", "text", "label")
      val alpha = 0.5
      val state = Classify.countState(train, "doc_id", "text", "label")
      val cnt = state.termCounts.collect()
        .map(r => (r.getAs[String]("term"), r.getAs[String]("label")) ->
          r.getAs[Long]("cnt")).toMap
      val docs = state.classDocs.collect()
        .map(r => r.getAs[String]("label") -> r.getAs[Long]("docs")).toMap
      val vocab = cnt.keySet.map(_._1)
      val v = vocab.size.toLong
      val tot = cnt.groupMapReduce(_._1._2)(_._2)(_ + _)
      val total = docs.values.sum
      // Spark's `log` is StrictMath.log; the arithmetic replays the
      // model's expressions operation for operation
      val expectedCond = (for (t <- vocab; l <- docs.keySet) yield
        (t, l) -> StrictMath.log(
          (cnt.getOrElse((t, l), 0L).toDouble + alpha) /
            (tot.getOrElse(l, 0L).toDouble + alpha * v.toDouble))).toMap
      val expectedPrior = docs.map { case (l, d) =>
        l -> StrictMath.log(d.toDouble / total.toDouble) }

      val m = Classify.modelFromCounts(state, alpha)
      try {
        val rows = m.termLogProb.collect()
        val got = rows.map(r => (r.getAs[String]("term"),
          r.getAs[String]("label")) -> r.getAs[Double]("log_cond")).toMap
        m.vocabSize shouldBe v
        v shouldBe 5L
        rows should have length (v * docs.size) // dense: V x C, no repeats
        got shouldBe expectedCond
        // the token-less class still carries the smoothed floor on every
        // vocabulary term
        vocab.foreach(t => got((t, "mute")) shouldBe
          StrictMath.log(alpha / (alpha * v.toDouble)))
        m.classLogPrior.collect()
          .map(r => r.getAs[String]("label") -> r.getAs[Double]("log_prior"))
          .toMap shouldBe expectedPrior
      } finally m.release()
    }

    "derive an empty table, V = 0, and the priors from a seed with no token" in {
      val s = spark
      import s.implicits._
      val train = Seq[(Long, String, String)](
        (1L, "", "hi"), (2L, null, "lo"), (3L, "  ", "lo"))
        .toDF("doc_id", "text", "label")
      val m = Classify.trainNaiveBayes(train, "doc_id", "text", "label")
      try {
        m.vocabSize shouldBe 0L
        m.termLogProb.count() shouldBe 0L
        m.classLogPrior.collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe
          Map("hi" -> StrictMath.log(1.0 / 3.0), "lo" -> StrictMath.log(2.0 / 3.0))
        // every document is classified by the priors alone
        Classify.scoreNaiveBayes(Seq((10L, "any text")).toDF("doc_id", "text"),
          "doc_id", "text", m)
          .select("predicted").as[String].collect() shouldBe Array("lo")
      } finally m.release()
    }

    "train from one lineage cut: no cached relation in any plan, a bounded job count, nothing pinned after release" in {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
      import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
      import org.apache.spark.sql.functions.{col, concat, concat_ws, lit}
      import scala.jdk.CollectionConverters._
      val sc = spark.sparkContext
      val probe = "graft-nb-train-probe"
      val drainMarker = "graft-nb-train-drain"
      val execIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val drained = new java.util.concurrent.CountDownLatch(1)
      // every plan text the driver renders for training — at execution
      // start and on each adaptive re-plan — and every job it runs
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null &&
              e.properties.getProperty("spark.job.description") == probe)
            jobs.incrementAndGet()
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case st: SparkListenerSQLExecutionStart =>
            if (st.description == drainMarker) drained.countDown()
            else if (st.description == probe) {
              execIds.add(st.executionId)
              plans.add(st.physicalPlanDescription)
            }
          case u: SparkListenerSQLAdaptiveExecutionUpdate
              if execIds.contains(u.executionId) =>
            plans.add(u.physicalPlanDescription)
          case _ =>
        }
      }
      // a fixed corpus: 600 docs over 3 labels and 17 + 5 + 1 terms
      val train = spark.range(600).select(col("id").as("doc_id"),
        concat_ws(" ", concat(lit("t"), (col("id") % 17).cast("string")),
          concat(lit("u"), (col("id") % 5).cast("string")), lit("common"))
          .as("text"),
        concat(lit("c"), (col("id") % 3).cast("string")).as("label"))
      val before = sc.getPersistentRDDs.keySet
      sc.addSparkListener(listener)
      val model = try {
        sc.setJobDescription(probe)
        val m = try Classify.trainNaiveBayes(train, "doc_id", "text", "label")
        finally sc.setJobDescription(null)
        // listener events arrive in order: once the marker execution is
        // seen, every training execution has been recorded
        sc.setJobDescription(drainMarker)
        try spark.range(1).collect() finally sc.setJobDescription(null)
        drained.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
        m
      } finally sc.removeSparkListener(listener)
      try {
        model.vocabSize shouldBe 23L
        val got = plans.asScala.toSeq
        got should not be empty
        all(got) should not include "InMemoryRelation"
        // local[4], AQE on: 6 jobs (16 when the counts were persisted
        // and counted eagerly, with the priors re-derived from the seed)
        jobs.get should be <= 8
        (sc.getPersistentRDDs.keySet -- before) should not be empty
      } finally model.release()
      // unpersist is non-blocking: allow the block manager to catch up
      def pinned = sc.getPersistentRDDs.keySet -- before
      val deadline = System.currentTimeMillis() + 15000
      while (pinned.nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      pinned shouldBe empty
    }
  }
}
