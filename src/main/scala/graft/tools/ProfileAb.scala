package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch A/B harness (r19): run selected queries under extra session
  * confs (SPARK_GRAFT_CONF="k=v;k=v"), report per-query medians — the
  * controlled instrument for adjudicating config-tier hypotheses
  * (anti-scaling cohort, AQE coalescing) without touching Bench.
  */
object ProfileAb {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY",
      "q136_curation_builder").split(",").toSeq
    var b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b = b.config(k.trim, v.trim)
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same warmup shape as Bench so first-touch JIT is untimed
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.range(20000)
      .select(xxhash64(trim(regexp_replace(lower(concat(lit("a b  c "), col("id"))), "\\s+", " "))).as("fp"))
      .agg(countDistinct(col("fp"))).collect()
    names.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      fn(spark, sfDir).count() // warm
      System.gc()
      val ts = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[ab] $q%-28s median ${ts(ts.length / 2)}%6.2f s  all ${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
