package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

/** The query-body scaffolding in SparkEntry: temp dirs, staged streams and
  * collect-then-release endings, on their failure paths too. */
class SparkEntryHelpersSpec extends AnyWordSpec with Matchers with SparkSpec {

  "withTempDir" should {
    "remove its dir when the body throws" in {
      var dir: String = null
      val e = intercept[IllegalStateException] {
        SparkEntry.withTempDir("graft-helpers") { tmp =>
          dir = tmp
          Files.writeString(Paths.get(tmp, "part"), "x")
          throw new IllegalStateException("boom")
        }
      }
      e.getMessage shouldBe "boom"
      Files.exists(Paths.get(dir)) shouldBe false
    }
  }

  "collectReleasing" should {
    "run release when the collect throws" in {
      var released = 0
      val failing = spark.range(8).select(
        when(col("id") === 5L, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
      intercept[Exception](SparkEntry.collectReleasing(spark, failing)(released += 1))
      released shouldBe 1
      // success path: a local frame over the same schema and rows
      val ok = spark.range(3).toDF("id")
      val local = SparkEntry.collectReleasing(spark, ok)(released += 1)
      released shouldBe 2
      local.schema shouldBe ok.schema
      local.collect().map(_.getLong(0)).sorted shouldBe Array(0L, 1L, 2L)
    }
  }

  "streamStaged" should {
    "process one micro-batch per staged file" in {
      val batchIds = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val rows = new java.util.concurrent.atomic.AtomicLong()
      SparkEntry.withTempDir("graft-helpers") { tmp =>
        SparkEntry.streamStaged(spark, spark.range(100).toDF("id"), 4, tmp) {
          (b, id) =>
            batchIds.add(id)
            rows.addAndGet(b.count())
        }
      }
      batchIds.asScala.toSeq.sorted shouldBe Seq(0L, 1L, 2L, 3L)
      rows.get shouldBe 100L
    }
  }
}
