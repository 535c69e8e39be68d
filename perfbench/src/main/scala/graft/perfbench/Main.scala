package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One workload in one fresh JVM: session start, untimed warm-up ops,
  * then closed-loop timed ops (whole rounds) for at least `--seconds`.
  * Writes `ops.jsonl` (one record per op), `summary.json` and, when
  * traced, `spans.json` into `--out`; `run.py` checks the outputs
  * and computes the metrics.
  *
  * Usage: Main --workload W --data DIR --work DIR --out DIR --suites FILE
  *             --seconds S --trace 0|1 --cores N [--warmup K]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val out = new File(opts("out"))
    val work = new File(opts("work"))
    out.mkdirs()
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = Counters.install(spark)
    val tracer = new Tracer(traced)
    val suites = Suites.parse(opts("suites"))
    val workload = Workload(workloadName, spark, new File(opts("data")), work, out, suites, tracer)
    val warmupOps = opts.get("warmup").map(_.toInt).getOrElse(workload.warmupOps)
    val records = new PrintWriter(new File(out, "ops.jsonl"), "UTF-8")
    def runOp(seq: Int, index: Int, warm: Boolean): Double = {
      tracer.op = index
      org.apache.spark.perfbench.SparkInternals.drainListenerBus(spark.sparkContext)
      val before = Counters.read(probe)
      probe.resetStoragePeak()
      val t0 = System.nanoTime()
      val result = scala.util.Try(workload.op(seq, warm))
      val wall = (System.nanoTime() - t0) / 1e9
      val jvmAfter = Counters.read(probe)
      org.apache.spark.perfbench.SparkInternals.drainListenerBus(spark.sparkContext)
      val after = Counters.read(probe).copy(gcMs = jvmAfter.gcMs, jitMs = jvmAfter.jitMs,
        stealTicks = jvmAfter.stealTicks, driverCpuNs = jvmAfter.driverCpuNs)
      val d = after - before
      val peak = probe.storagePeakBytes
      if (traced && !warm && result.isSuccess) workload.extras(seq)
      val fields = Seq(
        "op" -> Json.num(index), "warm" -> Json.bool(warm), "ok" -> Json.bool(result.isSuccess),
        "wall_s" -> Json.num(wall),
        "rows" -> Json.num(result.map(_._1.toDouble).getOrElse(0.0)),
        "driver_cpu_s" -> Json.num(d.driverCpuNs / 1e9),
        "task_cpu_s" -> Json.num(d.taskCpuNs / 1e9),
        "jobs" -> Json.num(d.jobs.toDouble), "tasks" -> Json.num(d.tasks.toDouble),
        "input_records" -> Json.num(d.inputRecords.toDouble),
        "shuffle_write_mb" -> Json.num(d.shuffleWriteBytes / 1048576.0),
        "spill_mb" -> Json.num(d.spillBytes / 1048576.0),
        "plan_s" -> Json.num(d.planNs / 1e9),
        "codegen_compiles" -> Json.num(d.codegenCompiles.toDouble),
        "gc_s" -> Json.num(d.gcMs / 1e3), "jit_s" -> Json.num(d.jitMs / 1e3),
        "steal_s" -> Json.num(d.stealTicks / Counters.TicksPerSecond),
        "storage_peak_mb" -> Json.num(peak / 1048576.0),
        "output" -> result.map(_._2).getOrElse(Json.Null),
        "error" -> result.failed.toOption.map(e => Json.str(
          e.getClass.getName + ": " + String.valueOf(e.getMessage).take(500))).getOrElse(Json.Null)) ++
        (if (traced) Seq("layers" -> layerJson(tracer, index)) else Nil)
      records.println(Json.obj(fields: _*).render)
      records.flush()
      result.failed.foreach(e => e.printStackTrace())
      wall
    }

    (0 until warmupOps).foreach(i => runOp(i, -1 - i, warm = true))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val loopStart = System.nanoTime()
    var seq = 0
    while (seq == 0 || seq % workload.roundLength != 0 ||
        (System.nanoTime() - loopStart) / 1e9 < seconds) {
      runOp(seq, seq, warm = false)
      seq += 1
    }
    val timedS = (System.nanoTime() - loopStart) / 1e9
    records.close()

    // the ContextCleaner drops broadcast and shuffle blocks only after a
    // GC has found them unreachable; the second collection frees them
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    if (workloadName == "curation") {
      val w = new PrintWriter(new File(out, "oracle_q136.sql"), "UTF-8")
      try w.print(graft.SparkEntry.oracleSql("q136_curation_builder")) finally w.close()
    }
    if (traced) {
      val w = new PrintWriter(new File(out, "spans.json"), "UTF-8")
      try w.print(tracer.toJson) finally w.close()
    }
    val summary = new PrintWriter(new File(out, "summary.json"), "UTF-8")
    try summary.print(Json.obj(
      "workload" -> Json.str(workloadName), "cores" -> Json.num(cores),
      "setup_s" -> Json.num(setupS), "timed_s" -> Json.num(timedS),
      "live_heap_mb" -> Json.num(heap), "timed_ops" -> Json.num(seq),
      "warmup_ops" -> Json.num(warmupOps)).render)
    finally summary.close()
    spark.stop()
  }

  private val LayerSpans = Seq(
    "checks.verify_s", "checks.evaluate_s", "runners.scan_family_s",
    "runners.grouping_family_s", "sketch.kll_s", "core.state_load_s",
    "core.state_persist_s", "repository.save_s", "repository.load_s",
    "anomaly.detect_s", "pipeline.build_s", "pipeline.consume_s",
    "pipeline.release_s", "pipeline.boilerplate_s", "pipeline.nb_train_s",
    "pipeline.nb_score_s", "pipeline.perplexity_s", "pipeline.url_dedup_s")
  private val LayerGauges = Seq("core.state_mb", "repository.write_amp")

  private def layerJson(tr: Tracer, op: Int): Json =
    Json.obj(LayerSpans.map(n => n -> Json.num(tr.seconds(op, n))) ++
      LayerGauges.map(n => n -> Json.num(tr.gaugeValue(op, n))): _*)
}
