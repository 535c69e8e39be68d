package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.core._
import graft.operators._
import graft.runners.AnalysisRunner

/** Asserts PLAN SHAPE, not just results: column pruning reaching the
  * parquet scan, broadcastable joins broadcasting, no accidental
  * sorts/windows in hash-aggregation paths. At 100 TB a scan that reads
  * 11 columns for a 2-column aggregation, or a sort-merge join against a
  * KB-sized dimension, is the difference between minutes and hours —
  * these tests pin the plans the engine is designed to produce.
  */
class PlanAuditSpec extends AnyWordSpec with Matchers with SparkSpec {

  private lazy val lineitem =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
  private lazy val part =
    spark.read.parquet("/root/testdata/sf0.001/part.parquet")

  /** Runs `f` and returns the executed plans of every action it took. */
  private def capturePlans(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString())
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      // the execution-listener bus drains asynchronously; the actions in
      // `f` are blocking, so a short quiesce is enough (same idiom as
      // FusionJobCountSpec)
      Thread.sleep(1500)
    } finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.ListHasAsScala(plans).asScala.toSeq
  }

  "the fused analyzer scan" should {
    "prune the parquet read down to the referenced columns" in {
      val plans = capturePlans {
        AnalysisRunner.run(lineitem, Seq[AnyAnalyzer](
          Completeness("l_orderkey"), Mean("l_quantity"), Size()))
      }
      val scan = plans.find(_.contains("ReadSchema"))
      scan should not be empty
      val readSchema = scan.get.linesIterator
        .find(_.contains("ReadSchema")).get
      // exactly the two referenced columns — not the 11-column row
      readSchema should include("l_orderkey")
      readSchema should include("l_quantity")
      readSchema should not include "l_extendedprice"
      readSchema should not include "l_shipdate"
    }

    "aggregate without any sort or window" in {
      val plans = capturePlans {
        AnalysisRunner.run(lineitem, Seq[AnyAnalyzer](
          Minimum("l_quantity"), Maximum("l_quantity"), Sum("l_quantity")))
      }
      val agg = plans.filter(_.contains("HashAggregate"))
      agg should not be empty
      agg.foreach { p =>
        p should not include "Sort "
        p should not include "Window"
      }
    }
  }

  "exact dedup" should {
    "collapse duplicates map-side before ONE exchange, with no window" in {
      val deduped = graft.pipeline.Dedup.exact(
        lineitem, Seq("l_orderkey", "l_linenumber"), "l_partkey")
      deduped.count()
      val plan = deduped.queryExecution.executedPlan.toString()
      // partial aggregation BEFORE the exchange: shuffle volume tracks
      // distinct keys, not input rows (the point vs a row_number window)
      plan should include("partial_min_by")
      plan.linesIterator.count(_.contains("Exchange")) shouldBe 1
      plan should not include "Window"
    }
  }

  "two-table comparisons" should {
    "broadcast the small dimension side" in {
      val rl = graft.comparison.DatasetMatch.matchRowLevel(
        lineitem.select("l_orderkey", "l_partkey"),
        part.select(col("p_partkey"), col("p_size")),
        Map("l_partkey" -> "p_partkey"),
        Map("l_partkey" -> "p_partkey"))
      rl.count()
      // AQE finalizes the join strategy at runtime; the executed plan must
      // have picked broadcast for the KB-sized reduced dimension
      rl.queryExecution.executedPlan.toString() should include("BroadcastHashJoin")
    }
  }

  "contamination matching" should {
    "broadcast the probe-gram set and never shuffle the corpus pre-join" in {
      import graft.pipeline.TextAnalysis
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val probes = docs.limit(3).select(col("text").as("probe"))
      val m = TextAnalysis.contaminationMatches(
        docs, "doc_id", "text", probes, "probe", n = 5)
      m.count()
      val plan = m.queryExecution.executedPlan.toString()
      plan should include("BroadcastHashJoin")
      plan should not include "SortMergeJoin"
      // the corpus (streamed) side must reach the join with no exchange of
      // GRAM rows: scan → [parallelism-floor round-robin of the slim
      // (id, text) rows — fires here because the sf0.001 single-file scan
      // is 1 partition] → narrow gram map → join. In the printed tree the
      // streamed branch sits between the BroadcastHashJoin line and the
      // BroadcastExchange that starts the build side.
      val corpusSide = plan.substring(
        plan.indexOf("BroadcastHashJoin"), plan.indexOf("BroadcastExchange"))
      val exchanges = corpusSide.linesIterator.zipWithIndex
        .filter(_._1.contains("Exchange")).toSeq
      val gramMap = corpusSide.linesIterator.zipWithIndex
        .find(_._1.contains("MapPartitions"))
      gramMap should not be empty
      // any exchange is the floor's pre-tokenize round-robin, BELOW the
      // gram-generating map (deeper = later printed line) — never a
      // shuffle of the exploded gram stream
      exchanges.foreach { case (line, idx) =>
        line should include("RoundRobinPartitioning")
        idx should be > gramMap.get._2
      }
      corpusSide should include("FileScan")
    }
  }

  "cross-corpus fuzzy decontamination" should {
    "tokenize each corpus once (cached signatures) and join only broadcast" in {
      import graft.pipeline.Dedup
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val probes = docs.limit(3)
        .select(col("doc_id").as("pid"), col("text").as("ptext"))
      val r = graft.pipeline.CacheLifecycle.withConsumptions(2) {
        Dedup.crossCorpusNearDups(docs, "doc_id", "text",
          probes, "pid", "ptext", threshold = 0.5)
      }
      r.count()
      val qe = r.queryExecution
      // every leaf is a cached signature frame — the corpus text is
      // scanned exactly once per side, however many joins probe it
      val leaves = qe.optimizedPlan.collectLeaves()
      leaves should not be empty
      all(leaves.map(_.getClass.getSimpleName)) should include("InMemoryRelation")
      // the probe side is broadcast everywhere: a sort-merge join would
      // mean the corpus got shuffled on a join key
      qe.executedPlan.toString should not include "SortMergeJoin"
    }
  }

  "PMI collocations" should {
    "rank pairs from one cached pair-count frame (one leaf, no join)" in {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val r = graft.pipeline.TextAnalysis.pmiCollocations(docs, "text", minCount = 2)
      r.queryExecution.optimizedPlan.collectLeaves() should have size 1
      r.queryExecution.executedPlan.toString should not include "Join"
    }
  }

  "LM scoring operators" should {
    // the q56 whale-probe lesson, pinned for the whole scorer family: the
    // corpus must be tokenized EXACTLY ONCE — model counts come from
    // windows over the persisted slim tf frame, never from a second scan
    // or a self-join of the tokenize subtree
    lazy val documents =
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    // NOTE counting "FileScan" lines in plan STRINGS is meaningless here:
    // AQE prints initial + final copies and InMemoryRelation prints its
    // cached child plan, so one real scan can appear 4 times. The bug
    // shape these tests pin (the q56 incident) is STRUCTURAL — a model-
    // count self-join with TWO scan leaves, each re-running the tokenize
    // subtree — so assert leaf count and joinlessness on the plan tree.

    "tokenize once in unigramCrossEntropy (cached tf leaves, broadcast scalar fold)" in {
      val r = graft.pipeline.TextAnalysis
        .unigramCrossEntropy(documents, "doc_id", "text")
      // TWO leaves, both the SAME cached tf frame: the scoring branch and
      // the folded T/V totals branch (the r13 zero-action fold) — the
      // corpus is still tokenized exactly once; the only join is the
      // broadcast of the 1-row totals aggregate
      val leaves = r.queryExecution.optimizedPlan.collectLeaves()
      leaves should have size 2
      all(leaves.map(_.getClass.getSimpleName)) should include("InMemoryRelation")
      val plan = r.queryExecution.executedPlan.toString
      plan should not include "SortMergeJoin"
      plan should include("BroadcastNestedLoopJoin")
    }

    "tokenize once in dsirLogWeights (one leaf — both models on ONE window)" in {
      val r = graft.pipeline.TextAnalysis
        .dsirLogWeights(documents, "doc_id", "text", col("lang") === "en")
      r.queryExecution.optimizedPlan.collectLeaves() should have size 1
      r.queryExecution.executedPlan.toString should not include "Join"
    }

    "build bigrams narrowly in bigramCrossEntropy (one leaf, no join)" in {
      val r = graft.pipeline.TextAnalysis
        .bigramCrossEntropy(documents, "doc_id", "text")
      r.queryExecution.optimizedPlan.collectLeaves() should have size 1
      r.queryExecution.executedPlan.toString should not include "Join"
    }

    "tokenize once in interpolatedCrossEntropy (one leaf — three windows, no join)" in {
      val r = graft.pipeline.TextAnalysis
        .interpolatedCrossEntropy(documents, "doc_id", "text")
      r.queryExecution.optimizedPlan.collectLeaves() should have size 1
      r.queryExecution.executedPlan.toString should not include "Join"
    }
  }

  "incremental fuzzy dedup" should {
    "probe the persisted state with broadcasts only (no state shuffle)" in {
      import graft.pipeline.Dedup
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val dir = java.nio.file.Files.createTempDirectory("graft_pa_lsh").toString
      try {
        Dedup.writeLshState(
          Dedup.lshState(docs.filter(col("doc_id") < 200), "doc_id", "text"),
          dir)
        val state = Dedup.readLshState(spark, dir)
        val surv = Dedup.nearDedupIncremental(
          docs.filter(col("doc_id") >= 150 && col("doc_id") < 250),
          "doc_id", "text", state, threshold = 0.5)
        surv.count()
        val plan = surv.queryExecution.executedPlan.toString()
        // the bucket probe and the signature verify both carry the batch
        // side broadcast; a SortMergeJoin would mean the (100-TB-history)
        // state tables got shuffled on a join key
        plan should not include "SortMergeJoin"
        plan should include("BroadcastHashJoin")
      } finally {
        import scala.jdk.CollectionConverters._
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try st.iterator().asScala.toSeq.reverseIterator
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
        finally st.close()
      }
    }
  }

  "domain curation" should {
    "aggregate per-domain stats with no join and no window" in {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("domain", concat(col("source"), lit(".example.com")))
      val stats = graft.pipeline.Domains.domainStats(docs, "domain", "text")
      stats.count()
      val plan = stats.queryExecution.executedPlan.toString()
      plan should not include "Join"
      plan should not include "Window"
    }

    "filter by blocklist as a broadcast LEFT ANTI (corpus never shuffles)" in {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("domain", concat(col("source"), lit(".example.com")))
      val kept = graft.pipeline.Domains.filterBlockedDomains(
        docs, "domain", Seq("src4.example.com"))
      kept.count()
      val plan = kept.queryExecution.executedPlan.toString()
      plan should include("BroadcastHashJoin")
      plan should include("LeftAnti")
      plan should not include "SortMergeJoin"
      // the corpus side of a broadcast anti-join never exchanges
      plan should not include "Exchange hashpartitioning"
    }
  }

  "PQ ANN" should {
    "prune the corpus scan and keep every join broadcast" in {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 2L)
      val out = graft.pipeline.Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 3, m = 8, ksub = 8)
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
      // ADC scan = broadcast nested loop against the bounded query LUTs;
      // re-rank joins ride broadcasts; nothing sort-merges
      plan should not include "SortMergeJoin"
      plan should include("BroadcastNestedLoopJoin")
      // the code table projects only (id, vec): the label column must not
      // reach the parquet read
      val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
      reads should not be empty
      all(reads) should not include "label"
    }
  }

  "ANN top-k selection" should {
    // the r12 verdict's one 100-TB scale-killer: row_number().over(
    // partitionBy(query_id)) sorts every candidate row of a query in ONE
    // task — for the PQ ADC scan that task holds the whole corpus. Every
    // top-k tail must instead be the bounded-heap aggregate (map-side
    // partial combine, k-bounded state, no WindowExec anywhere).
    def auditNoWindow(out: org.apache.spark.sql.DataFrame): Unit = {
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
      plan should not include "Window"
      // typed TopKAggregator runs in ObjectHashAggregate, partial + final
      plan should include("ObjectHashAggregate")
      plan.linesIterator.count(_.contains("partial_topkaggregator")) should be >= 1
    }

    "pqTopK ranks the ADC scan with the heap aggregate, not a window" in {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 2L)
      auditNoWindow(graft.pipeline.Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 3, m = 8, ksub = 8))
    }

    "ivfPqTopK ranks cell-pruned candidates with the heap aggregate" in {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 2L)
      auditNoWindow(graft.pipeline.Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2, m = 8, ksub = 8))
    }

    "ivfTopK and bruteForceTopK rank with the heap aggregate" in {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 2L)
      auditNoWindow(graft.pipeline.Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2))
      auditNoWindow(graft.pipeline.Similarity.bruteForceTopK(emb, "vec_id",
        "embedding", queries, "vec_id", "embedding", k = 3))
    }

    "the state-served ANN paths and funnel replay stay window-free" in {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 2L)
      val centroids = graft.pipeline.Similarity.trainIvfCentroids(
        emb, "embedding", nlist = 4)
      auditNoWindow(graft.pipeline.Similarity.ivfTopKFromState(
        graft.pipeline.Similarity.ivfIndexState(emb, "vec_id", "embedding",
          centroids),
        centroids, queries, "vec_id", "embedding", k = 3, nprobe = 2))
      // funnel replay: bounded cells -> groupBy + map_from_entries + a
      // per-key scalar UDF; a per-key WINDOW here would re-introduce the
      // hot-key sort the state design exists to avoid
      val s = spark
      import s.implicits._
      val ev = (0 until 200).map(i => (s"u${i % 10}", i.toLong,
        s"s${i % 3}")).toDF("user", "ts", "et")
      val rep = graft.operators.EventAnalytics.funnelFromState(
        graft.operators.EventAnalytics.funnelState(ev, Seq("user"), "ts",
          Seq(col("et") === "s0", col("et") === "s1"), cap = 8), 2)
      rep.count()
      rep.queryExecution.executedPlan.toString() should not include "Window"
    }

    "lshTopK ranks bucket candidates with the heap aggregate" in {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 2L)
      auditNoWindow(graft.pipeline.Similarity.lshTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 3, planes = 6, numTables = 8))
    }
  }

  "Kneser-Ney LM scoring" should {
    "tokenize once (one leaf — windows on the cached bigram frame, no join)" in {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val r = graft.pipeline.TextAnalysis
        .kneserNeyCrossEntropy(docs, "doc_id", "text")
      r.queryExecution.optimizedPlan.collectLeaves() should have size 1
      r.queryExecution.executedPlan.toString should not include "Join"
    }
  }

  "NB classifier scoring" should {
    "join the corpus against the model by broadcast only" in {
      import graft.pipeline.Classify
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val train = docs.filter(col("doc_id") < 100)
        .withColumn("label",
          when(pmod(col("doc_id"), lit(2)) === 0, lit("a")).otherwise(lit("b")))
      val m = Classify.trainNaiveBayes(train, "doc_id", "text", "label")
      val scored = Classify.scoreNaiveBayes(docs, "doc_id", "text", m)
      scored.count()
      val plan = scored.queryExecution.executedPlan.toString()
      // the term-probability lookup and the prior seed fan-out both ride
      // broadcasts, and the prior folds into the score through the SAME
      // aggregation — no join of two corpus-sized frames anywhere
      plan should not include "SortMergeJoin"
      plan should include("BroadcastHashJoin")
      m.release()
    }
  }

  "canonical-URL dedup" should {
    "elect survivors with one exchange and map-side partial min_by" in {
      import graft.pipeline.Domains
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"),
          concat(lit("https://www.s"), pmod(col("doc_id"), lit(20)),
            lit(".example.com/p/"), col("doc_id")).as("url"))
      val dd = Domains.dedupByCanonicalUrl(docs, "url", "doc_id")
      dd.count()
      val plan = dd.queryExecution.executedPlan.toString()
      plan should include("partial_min_by")
      plan should not include "Window"
      plan should not include "Join"
      // one exchange for the canonical-key groupBy; null-key rows ride
      // the same aggregation
      plan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
      // each URL part is bound once: one regexp_extract per part, and no
      // Union branch re-deriving the key
      val optimized = dd.queryExecution.optimizedPlan.toString()
      "regexp_extract\\(".r.findAllMatchIn(optimized).size should be <= 6
      optimized should not include "Union"
    }
  }

  "boilerplate line removal" should {
    "convict and rebuild without windows, with map-side partials" in {
      import graft.pipeline.TextAnalysis
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val out = TextAnalysis.removeBoilerplateLines(
        docs, "doc_id", "text", "source", maxDocFrac = 0.4, minDocs = 5)
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
      // frequencies and reassembly are aggregates (partial combine), the
      // per-group ranking never becomes a window; conviction is a plain
      // key join on line hashes
      plan should not include "Window"
      plan should include("partial_count")
    }
  }

  "perplexity bucketing" should {
    "rank via the prefix-offset pass, never a per-group window" in {
      import graft.pipeline.TextAnalysis
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val out = TextAnalysis.perplexityBuckets(
        docs, "doc_id", "text", "source", nBuckets = 3)
      out.count()
      // groupedNtile materializes through the range-partitioned RDD pass
      // — a revert to ntile().over(partitionBy(group)) would put a Window
      // (and its single-task-per-group sort) back into this plan
      out.queryExecution.executedPlan.toString should not include "Window"
    }
  }

  "HTML extraction" should {
    "run as one map-side projection (no exchange, no join)" in {
      import graft.pipeline.TextAnalysis
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val out = docs.select(TextAnalysis.htmlToText(col("text")).as("t"))
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
      plan should not include "Exchange"
      plan should not include "Join"
    }
  }

  "embedding decontamination" should {
    "scan map-side with no exchange, join, or window" in {
      import graft.pipeline.Similarity
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val probes = Similarity.collectProbes(
        emb.where(col("vec_id") < 4), "vec_id", "embedding")
      val out = Similarity.decontaminateByEmbedding(
        emb, "vec_id", "embedding", probes, tau = 0.35)
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
      plan should not include "Exchange"
      plan should not include "Join"
      plan should not include "Window"
    }
  }

  "distributed k-means" should {
    "iterate via partial-combining aggregates, never a sort or window" in {
      import graft.pipeline.Clustering
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val plans = capturePlans {
        val init = Clustering.initMinId(emb, "vec_id", "embedding", 4)
        Clustering.lloyd(emb, "embedding", init, iterations = 2)
      }
      // the iteration actions: a groupBy(cell) over the vector-stats udaf
      val iters = plans.filter(_.contains("ObjectHashAggregate"))
      iters should not be empty
      iters.foreach { p =>
        // map-side partial before the exchange: the shuffle carries k slim
        // states per task, never corpus rows (Catalyst renames the computed
        // grouping key to _groupingexpression, so pin the partial+exchange
        // pair rather than the alias)
        p should include("partial_vecstatsaggregator")
        p should include("Exchange hashpartitioning(")
        p should not include "Window"
        p should not include "SortAggregate"
      }
    }

    "assign map-side with no exchange or join" in {
      import graft.pipeline.Clustering
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val cents = Clustering.initMinId(emb, "vec_id", "embedding", 4)
      val out = Clustering.assign(emb, "embedding", cents)
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
      plan should not include "Exchange"
      plan should not include "Join"
      plan should not include "Window"
    }
  }

  "logistic-regression training" should {
    "iterate as one cached-frame scan + a partial-combining gradient " +
      "aggregate — no join, window, or sort per iteration" in {
      import graft.pipeline.LogReg
      val s = spark
      import s.implicits._
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .where(col("doc_id") < 200)
        .select(col("doc_id"), col("text"),
          (col("doc_id") % 2).cast("double").as("y"))
      val plans = capturePlans {
        LogReg.train(docs, "doc_id", "text", "y",
          dim = 16, iterations = 2, lr = 0.5)
      }
      // gradient actions: explode over the cached feature frame into a
      // (dim+1)-row hash aggregate with a map-side partial. Assert on the
      // plan ABOVE the cache boundary — the InMemoryRelation subtree
      // printed below it is the one-off feature build (whose doc-keyed
      // joins are expected), not per-iteration work.
      val grads = plans
        .map(p => p.indexOf("InMemoryRelation") match {
          case -1 => p
          case i  => p.substring(0, i)
        })
        .filter(_.contains("Generate explode"))
      grads should not be empty
      grads.foreach { p =>
        p should include("partial_sum")
        p should not include "Window"
        p should not include "SortMergeJoin"
        p should not include "BroadcastHashJoin"
        p should not include "SortAggregate"
      }
    }
  }

  "bloom gram filter" should {
    "kill non-matching grams map-side with no corpus-side exchange" in {
      import graft.pipeline.TextAnalysis
      val s = spark
      import s.implicits._
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .where(col("doc_id") < 100)
      val probes = Seq((1 to 13).map(i => s"w$i").mkString(" "))
        .toDF("probe")
      val pg = TextAnalysis.probeGramHashes(probes, "probe", n = 13)
      val out = TextAnalysis.bloomGramFilter(
        docs, "doc_id", "text", pg, n = 13, estimatedItems = 100L)
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
      // the corpus GRAM stream must reach the bitset filter unshuffled —
      // the only exchange allowed is the parallelism floor's pre-tokenize
      // round-robin of slim (id, text) rows (fires here: 1-partition scan)
      val lines = plan.linesIterator.zipWithIndex.toSeq
      val exchanges = lines.filter(_._1.contains("Exchange"))
      val gramMap = lines.find(_._1.contains("MapPartitions"))
      gramMap should not be empty
      exchanges.foreach { case (line, idx) =>
        line should include("RoundRobinPartitioning")
        idx should be > gramMap.get._2
      }
      plan should not include "Join"
      plan should not include "Window"
    }
  }

  "span-level decontamination" should {
    "broadcast the probe side and never window" in {
      import graft.pipeline.TextAnalysis
      val s = spark
      import s.implicits._
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .where(col("doc_id") < 100)
      val probes = docs.where(col("doc_id") === 20L)
        .select(concat_ws(" ",
          slice(TextAnalysis.normalizedTokens(col("text")), 6, 13))
          .as("probe"))
      val out = TextAnalysis.removeContaminatedSpans(
        docs, "doc_id", "text", probes, "probe", n = 13)
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
      plan should include("BroadcastHashJoin")
      plan should not include "SortMergeJoin"
      plan should not include "Window"
    }
  }

  "fuzzy paragraph dedup" should {
    "reassemble without a corpus window or cartesian product" in {
      import graft.pipeline.Dedup
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(col("doc_id") < 200)
        .select(col("doc_id"),
          regexp_replace(col("text"), SparkEntry.ParaInjectPattern,
            SparkEntry.ParaInjectReplacement).as("text"))
      val out = Dedup.nearDupParagraphs(docs, "doc_id", "text",
        threshold = 0.5)
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
      plan should not include "Window"
      plan should not include "CartesianProduct"
    }
  }

  "row-level results" should {
    "evaluate scan constraints as map-side expressions without extra scans" in {
      import graft.checks._
      val check = Check(CheckLevel.Error, "plan audit")
        .satisfies("l_quantity > 0", "qty pos", _ >= 0.0)
        .isComplete("l_orderkey")
      val result = VerificationSuite().onData(lineitem).addCheck(check).run()
      val rl = VerificationResult.rowLevelResultsAsDataFrame(spark, result, lineitem)
      rl.count()
      val plan = rl.queryExecution.executedPlan.toString()
      // purely scan-level constraints: project over the scan, no join/agg
      plan should not include "Join"
      plan should not include "HashAggregate"
    }
  }

  "interval overlap join" should {
    "plan an equi-join, never a nested loop, cartesian, or window" in {
      import graft.operators.RangeJoin
      val s = spark
      import s.implicits._
      val l = Seq.tabulate(50)(i => (i.toLong, i * 10L, i * 10L + 25L))
        .toDF("lid", "llo", "lhi")
      val r = Seq.tabulate(50)(i => (i.toLong, i * 7L, i * 7L + 9L))
        .toDF("rid", "rlo", "rhi")
      val out = RangeJoin.intervalOverlapJoin(l, r, "llo", "lhi",
        "rlo", "rhi", binWidth = 16, payloadCols = Seq("rid"))
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      plan should not include "BroadcastNestedLoopJoin"
      plan should not include "CartesianProduct"
      plan should not include "Window"
    }
  }

  "ordered funnel" should {
    "decompose to slim per-key aggregations — no window over raw events" in {
      import graft.operators.EventAnalytics
      val s = spark
      import s.implicits._
      val ev = Seq.tabulate(200)(i =>
        (i.toLong % 20, i.toLong, Seq("a", "b", "c")(i % 3)))
        .toDF("user", "ts", "etype")
      val out = EventAnalytics.funnel(ev, Seq("user"), "ts",
        Seq(col("etype") === "a", col("etype") === "b",
          col("etype") === "c"))
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      plan should not include "Window"
      plan should not include "CartesianProduct"
      // every step is a partial-combining aggregate before its exchange
      plan should include("HashAggregate")
    }
  }

  "public grouped top-k" should {
    "use the bounded-heap aggregate, never a WindowExec" in {
      import graft.pipeline.Ranking
      val s = spark
      import s.implicits._
      val df = Seq.tabulate(500)(i =>
        (s"g${i % 7}", i.toLong, (i * 37 % 101).toDouble))
        .toDF("g", "id", "score")
      val out = Ranking.topKPerGroup(df, "g", "id", "score", k = 3)
      out.count()
      val plan = out.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      plan should not include "Window"
      plan should include("ObjectHashAggregate")
    }
  }

  "the parallelism floor" should {
    // the q104/r17 defect class: a single small parquet file scans as ONE
    // partition, and a CPU-heavy map persisted off it serializes the whole
    // corpus into one task. The floor must spread those plans — SCALED BY
    // SOURCE BYTES (~64 KB/task, capped at defaultParallelism), so a
    // KB-sized frame stays narrow (measured: blanket 32-way repartition of
    // tiny frames taxed signature pipelines 30-60%) — and must be a NO-OP
    // for healthy inputs (a real 100 TB scan never pays a corpus shuffle).
    lazy val tinyDir = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-planaudit-floor").toString
      val s = spark
      import s.implicits._
      Seq.tabulate(200)(i => (i.toLong, s"alpha beta gamma delta text $i\n\npara two of $i"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      dir
    }
    // big enough that rawBytes >= defaultParallelism * BytesPerTask even
    // compressed: index-seeded alphanumeric noise defeats snappy
    lazy val midDir = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-planaudit-floor-mid").toString
      val s = spark
      import s.implicits._
      def noise(seed: Int): String = {
        val rnd = new scala.util.Random(seed)
        val sb = new StringBuilder
        var w = 0
        while (w < 300) { // ~2 KB of incompressible words per row
          sb.append(rnd.alphanumeric.take(6).mkString).append(' ')
          w += 1
        }
        sb.toString
      }
      Seq.tabulate(400)(i => (i.toLong, s"${noise(i)}\n\npara two of ${noise(i + 100000)}"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      dir
    }

    "run the tokenize+MinHash signature map at >= defaultParallelism tasks over a 1-partition scan of a big-enough file" in {
      val docs = spark.read.parquet(midDir)
      val target = spark.sparkContext.defaultParallelism
      docs.rdd.getNumPartitions shouldBe 1 // the degenerate premise
      val occ = graft.pipeline.Dedup.paragraphOccurrences(docs, "doc_id", "text")
      val sigs = graft.pipeline.Dedup.paragraphSignatureFrame(occ)
      sigs.rdd.getNumPartitions should be >= target
      // and the result is unaffected by the exchange
      sigs.count() shouldBe occ.count()
    }

    "leave a KB-sized frame narrow (size-scaled target, not blanket width)" in {
      val docs = spark.read.parquet(tinyDir)
      docs.rdd.getNumPartitions shouldBe 1
      // raw bytes of the tiny file are a few KB -> target rounds to 1-2
      // partitions and the floor stays un-armed: no exchange at all
      val floored = graft.core.Parallelism.floor(docs)
      floored.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.length shouldBe 0
    }

    "be a no-op for an input already at or above defaultParallelism" in {
      val docs = spark.read.parquet(tinyDir)
        .repartition(spark.sparkContext.defaultParallelism * 2)
      val floored = graft.core.Parallelism.floor(docs)
      // plan-time decision: the declared repartition governs, no second
      // exchange is stacked on top
      floored.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.length shouldBe 1
    }

    "size pure file scans plan-time (no RDD build) and declared repartitions by their count" in {
      val cores = spark.sparkContext.defaultParallelism
      // the file estimate replicates FilePartition sizing — for a KB-sized
      // single file it lands within a couple of open-cost quanta of 1
      // (arming now compares against the size-scaled target, not cores)
      val est = graft.core.Parallelism.partitionEstimate(
        spark.read.parquet(tinyDir), cores)
      est should be >= 1L
      (est * 2) should be <= cores.toLong
      graft.core.Parallelism.partitionEstimate(
        spark.read.parquet(tinyDir).coalesce(1), cores) shouldBe 1L
      graft.core.Parallelism.partitionEstimate(
        spark.read.parquet(tinyDir).repartition(16), cores) shouldBe 16L
    }
  }
}
