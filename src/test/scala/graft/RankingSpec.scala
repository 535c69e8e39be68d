package graft

import graft.pipeline.Ranking
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

/** [[Ranking.groupedNtile]] must be bit-identical to Spark's own
  * `ntile(...).over(Window.partitionBy(g).orderBy(k...))` — the window IS
  * the semantics; groupedNtile only changes the execution shape (range
  * repartition + broadcast prefix offsets instead of a per-group
  * single-task sort).
  */
class RankingSpec extends AnyWordSpec with Matchers with SparkSpec {

  "groupedNtile" should {
    "match the Spark ntile window exactly on skewed groups" in {
      val s = spark
      import s.implicits._
      // deterministic pseudo-random data; group sizes 1, 2, 37, 160 —
      // including groups smaller than nBuckets and a null group
      val rows = (0 until 200).map { i =>
        val g =
          if (i == 0) "solo"
          else if (i <= 2) "pair"
          else if (i <= 39) null
          else "big"
        // xorshift-ish deterministic key with DELIBERATE ties (mod 17)
        val k = ((i * 2654435761L) >>> 7) % 17
        (i.toLong, g, k)
      }
      val df = rows.toDF("id", "grp", "k").repartition(7)
      for (nb <- Seq(2, 3, 5, 64)) {
        val got = Ranking
          .groupedNtile(df, "grp", Seq("k", "id"), nb)
          .select("id", "bucket").as[(Long, Int)].collect().toMap
        val want = df
          .withColumn("bucket",
            ntile(nb).over(Window.partitionBy("grp").orderBy("k", "id")))
          .select("id", "bucket").as[(Long, Int)].collect().toMap
        got shouldBe want
      }
    }

    "preserve the input columns and reject bad arguments" in {
      val s = spark
      import s.implicits._
      val df = Seq((1L, "a", 5L), (2L, "a", 3L)).toDF("id", "grp", "k")
      val out = Ranking.groupedNtile(df, "grp", Seq("k"), 2)
      out.columns.toSeq shouldBe Seq("id", "grp", "k", "bucket")
      out.orderBy("id").select("bucket").as[Int].collect() shouldBe
        Array(2, 1) // id=2 has the smaller key -> bucket 1
      an[IllegalArgumentException] should be thrownBy
        Ranking.groupedNtile(df, "grp", Seq.empty, 2)
      an[IllegalArgumentException] should be thrownBy
        Ranking.groupedNtile(df, "grp", Seq("k"), 0)
    }
  

    "use a truncated input as it is: no second cut, the same tiles" in {
      import graft.pipeline.CacheLifecycle
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
      val s = spark
      import s.implicits._
      val df = (0 until 120).map(i => (i.toLong, s"g${i % 3}", (i * 7919L) % 101))
        .toDF("id", "grp", "k")
      def tiles(in: org.apache.spark.sql.DataFrame) =
        Ranking.groupedNtile(in, "grp", Seq("k", "id"), 4)
          .select("id", "bucket").as[(Long, Int)].collect().toMap
      val want = tiles(df)
      val sc = spark.sparkContext
      val cut = CacheLifecycle.truncate(df)
      val before = sc.getPersistentRDDs.keySet
      // a cut runs its job under the call site "graft truncate #n"
      val cutJobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
              .exists(_.startsWith("graft truncate"))) cutJobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      val got =
        try {
          val t = tiles(cut)
          Thread.sleep(1000) // let the listener bus drain
          t
        } finally sc.removeSparkListener(listener)
      got shouldBe want
      cutJobs.get shouldBe 0
      // the call caches nothing of its own, and the caller's cut stays
      sc.getPersistentRDDs.keySet shouldBe before
      CacheLifecycle.releaseTruncated(cut)
    }
}
}
