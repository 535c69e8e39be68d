package graft.core

import java.io.{DataInputStream, DataOutputStream}

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.{DataTypeState, FrequenciesAndNumRows, FrequencyRun, KeyRange}

/** Load/persist analyzer states — the substrate of incremental computation:
  * compute per-partition/per-day states once, merge algebraically later,
  * never rescan (reference capability: analyzers/StateProvider.scala:35-41).
  */
trait StateLoader {
  def load[S <: State[_]](analyzer: Analyzer[S, _]): Option[S]
}

trait StatePersister {
  def persist[S <: State[_]](analyzer: Analyzer[S, _], state: S): Unit
}

/** In-memory provider (reference capability: InMemoryStateProvider). */
class InMemoryStateProvider extends StateLoader with StatePersister {
  private val store = new TrieMap[AnyAnalyzer, State[_]]

  override def load[S <: State[_]](analyzer: Analyzer[S, _]): Option[S] =
    store.get(analyzer.asInstanceOf[AnyAnalyzer]).map(_.asInstanceOf[S])

  override def persist[S <: State[_]](analyzer: Analyzer[S, _], state: S): Unit =
    store.put(analyzer.asInstanceOf[AnyAnalyzer], state)

  /** Snapshot of every stored state — for transactional callers (the
    * streaming verifier) that must roll a partially-applied merge back.
    */
  private[graft] def contents: Map[AnyAnalyzer, State[_]] =
    store.readOnlySnapshot().toMap

  private[graft] def replaceContents(snapshot: Map[AnyAnalyzer, State[_]]): Unit = {
    store.clear()
    snapshot.foreach { case (a, s) => store.put(a, s) }
  }
}

/** Hadoop-filesystem provider with compact binary serde per state type
  * (reference capability: analyzers/StateProvider.scala:71-435). Each
  * analyzer's state is one file, `<location>-<analyzer id>.bin`.
  *
  * Frequency states (grouping analyzers, Histogram) are stored as runs:
  * parquet directories `<location>-run-<uuid>.parquet`, each holding
  * distinct keys with their counts, sorted by key within each file. An
  * analyzer's `.bin` file is then its manifest: the table schema,
  * numRows, that analyzer's slot values of its family's fused
  * aggregation (when it has them, see `FrequencyBasedAnalyzer`) and the
  * runs, each with its key count and, for one orderable key column, its
  * key min/max and has-null flag, by a path relative to the manifest. A
  * persist writes only the table part that no run holds yet (the
  * appended day; the whole table for a state without runs) as one new
  * run — once per state, however many analyzers of a family share it —
  * and lists the runs the state inherited, rewriting none of them. Once a state
  * inherits [[FrequencyRuns.MaxInheritedRuns]] runs, the persist writes
  * the whole table as one compacted run in this location instead.
  * Loading reads the manifest only; the runs are read lazily, with the
  * manifest's schema, by the jobs that need them.
  *
  * Cross-location contract: a location built from earlier ones (loaded
  * from yesterday's location, persisted to today's) lists runs that live
  * in those earlier locations. Deleting them makes loading this location
  * fail loudly, naming the missing run, until a compaction has written
  * a base run here. Run files that no manifest lists any more (a
  * location persisted over) are not deleted.
  */
class HdfsStateProvider(spark: SparkSession, locationPrefix: String)
    extends StateLoader with StatePersister {

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  // manifests store run paths relative to their own directory
  private def manifestDir: Option[Path] = Option(new Path(locationPrefix).getParent)

  // a lambda/anonymous-function field renders with a per-JVM identity
  // (Foo$$Lambda$123@1a2b3c) — no later run can compute the same file name
  private def lambdaKeyed(analyzer: Analyzer[_, _]): Boolean = {
    val raw = analyzer.toString
    raw.contains("$$Lambda") || raw.contains("$anonfun$")
  }

  private def identifier(analyzer: Analyzer[_, _]): String = {
    // stable, filesystem-safe key per analyzer instance
    val raw = analyzer.toString
    java.lang.Long.toHexString(
      raw.getBytes("UTF-8").foldLeft(1125899906842597L)((h, b) => 31 * h + b))
  }

  private def withOutput[T](path: String)(f: DataOutputStream => T): T = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = new DataOutputStream(fs.create(p, true))
    try f(out) finally out.close()
  }

  private def withInput[T](path: String)(f: DataInputStream => T): Option[T] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = new DataInputStream(fs.open(p))
    try Some(f(in)) finally in.close()
  }

  // counter keys serialize as writeInt(length) + utf8 bytes, the same
  // length-prefixed scheme as the sketch-bytes states — writeUTF caps a
  // key at 65535 UTF-8 bytes and a long token/URL item would poison the
  // persist with UTFDataFormatException
  private def writeFreqCounters(
      o: DataOutputStream, counters: Map[String, Long], n: Long): Unit = {
    o.writeInt(counters.size)
    counters.foreach { case (k, v) =>
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      o.writeInt(kb.length); o.write(kb); o.writeLong(v)
    }
    o.writeLong(n)
  }

  private def readFreqState(i: DataInputStream): graft.operators.FreqItemsState = {
    val size = i.readInt()
    val counters = (0 until size).map { _ =>
      val kl = i.readInt(); val kb = new Array[Byte](kl); i.readFully(kb)
      new String(kb, java.nio.charset.StandardCharsets.UTF_8) -> i.readLong()
    }.toMap
    graft.operators.FreqItemsState(counters, i.readLong())
  }

  // the runs the last persisted frequency state was stored as: the runner
  // persists ONE state under every member of a grouping family, and its
  // table is written once for all of them
  private var lastStored: Option[(FrequenciesAndNumRows, Seq[FrequencyRun])] = None

  private def storeRuns(state: FrequenciesAndNumRows): Seq[FrequencyRun] = synchronized {
    lastStored.collect { case (s, runs) if s eq state => runs }.getOrElse {
      def newRun(table: DataFrame) = FrequencyRuns.write(table,
        s"$locationPrefix-run-${java.util.UUID.randomUUID()}.parquet")
      val inherited = state.runs
      val runs =
        if (inherited.size >= FrequencyRuns.MaxInheritedRuns ||
            inherited.map(_.path).distinct.size < inherited.size) {
          // a merge of states that share runs counts those twice, as a
          // merge must; the compacted table keeps that
          Seq(newRun(state.frequencies))
        } else inherited ++ state.unstored.map(newRun)
      lastStored = Some(state -> runs)
      runs
    }
  }

  override def persist[S <: State[_]](analyzer: Analyzer[S, _], state: S): Unit = {
    // the persist would succeed but no later run could ever compute the
    // same file name to load it back; fail LOUDLY instead of silently
    // restarting the incremental aggregation. Persist-side ONLY: load()
    // returns None for lambda-keyed analyzers so a same-JVM aggregateWith
    // run still computes fresh instead of surfacing a failure metric
    if (lambdaKeyed(analyzer)) {
      throw new IllegalArgumentException(
        s"Analyzer $analyzer carries a lambda in its identity — its state " +
          "key is not stable across JVMs and cannot be persisted to a " +
          "filesystem provider (use an analyzer without function-valued " +
          "parameters)")
    }
    val base = s"$locationPrefix-${identifier(analyzer)}"
    // non-mergeable states fail LOUDLY here (SURVEY §7.4): silently
    // persisting something load() cannot reconstruct corrupts incremental runs
    analyzer match {
      case _: graft.operators.HistogramBinned =>
        throw new IllegalArgumentException(
          "HistogramBinned state is not mergeable across runs (bin edges are data-dependent)")
      case _ => ()
    }
    state match {
      case graft.sketch.KLLState(sketch) =>
        val bytes = sketch.serialize()
        withOutput(s"$base.bin") { o => o.writeInt(bytes.length); o.write(bytes) }
      case NumMatches(n) => withOutput(s"$base.bin")(_.writeLong(n))
      case NumMatchesAndCount(n, c) =>
        withOutput(s"$base.bin") { o => o.writeLong(n); o.writeLong(c) }
      case MinState(v) => withOutput(s"$base.bin")(_.writeDouble(v))
      case MaxState(v) => withOutput(s"$base.bin")(_.writeDouble(v))
      case SumState(v) => withOutput(s"$base.bin")(_.writeDouble(v))
      case MeanState(sum, c) =>
        withOutput(s"$base.bin") { o => o.writeDouble(sum); o.writeLong(c) }
      case MinMaxState(mn, mx) =>
        withOutput(s"$base.bin") { o => o.writeDouble(mn); o.writeDouble(mx) }
      case SumPairState(a, b) =>
        withOutput(s"$base.bin") { o => o.writeDouble(a); o.writeDouble(b) }
      case MomentsState(n, mean, m2, m3, m4) =>
        withOutput(s"$base.bin") { o =>
          o.writeDouble(n); o.writeDouble(mean); o.writeDouble(m2)
          o.writeDouble(m3); o.writeDouble(m4)
        }
      case CorrelationState(n, xa, ya, ck, xm, ym) =>
        withOutput(s"$base.bin") { o =>
          o.writeDouble(n); o.writeDouble(xa); o.writeDouble(ya)
          o.writeDouble(ck); o.writeDouble(xm); o.writeDouble(ym)
        }
      case HllState(bytes) =>
        withOutput(s"$base.bin") { o => o.writeInt(bytes.length); o.write(bytes) }
      case graft.operators.ThetaOverlapState(a, b) =>
        withOutput(s"$base.bin") { o =>
          o.writeInt(a.length); o.write(a)
          o.writeInt(b.length); o.write(b)
        }
      case graft.operators.FreqItemsState(counters, n) =>
        withOutput(s"$base.bin") { o => writeFreqCounters(o, counters, n) }
      case graft.operators.FreqDriftState(a, b) =>
        withOutput(s"$base.bin") { o =>
          Seq(a, b).foreach(s => writeFreqCounters(o, s.counters, s.n))
        }
      case graft.operators.QuantileShiftState(a, b) =>
        withOutput(s"$base.bin") { o =>
          Seq(a, b).foreach { s =>
            val bytes = s.sketch.serialize()
            o.writeInt(bytes.length); o.write(bytes)
          }
        }
      case graft.operators.DistinctRatioState(a, b) =>
        withOutput(s"$base.bin") { o =>
          Seq(a, b).foreach { s =>
            o.writeInt(s.sketchBytes.length); o.write(s.sketchBytes)
          }
        }
      case DataTypeState(a, b, c, d, e) =>
        withOutput(s"$base.bin") { o =>
          o.writeLong(a); o.writeLong(b); o.writeLong(c); o.writeLong(d); o.writeLong(e)
        }
      case f: FrequenciesAndNumRows =>
        val runs = storeRuns(f)
        withOutput(s"$base.bin") { o =>
          FrequencyRuns.writeManifest(o, manifestDir, f.frequencies.schema, f.numRows,
            f.sums.get(analyzer.asInstanceOf[AnyAnalyzer]), runs)
        }
      case other =>
        throw new IllegalArgumentException(
          s"Unable to persist state of type ${other.getClass.getSimpleName}")
    }
  }

  override def load[S <: State[_]](analyzer: Analyzer[S, _]): Option[S] = {
    if (lambdaKeyed(analyzer)) return None // never persisted; compute fresh
    val base = s"$locationPrefix-${identifier(analyzer)}"
    import graft.operators._
    val loaded: Option[Any] = analyzer match {
      case _: Size => withInput(s"$base.bin")(i => NumMatches(i.readLong()))
      case _: ZerosCount => withInput(s"$base.bin")(i => NumMatches(i.readLong()))
      // dataset-level analyzers: persist-side matches on the STATE type,
      // so these wrote fine but silently failed to load — the corrupted
      // incremental run the persist-side guards exist to prevent
      case _: ColumnCount | _: ColumnExists =>
        withInput(s"$base.bin")(i => NumMatches(i.readLong()))
      case _: CustomSql => withInput(s"$base.bin")(i => SumState(i.readDouble()))
      case _: Completeness | _: Compliance | _: PatternMatch =>
        withInput(s"$base.bin")(i => NumMatchesAndCount(i.readLong(), i.readLong()))
      case _: Minimum | _: MinLength => withInput(s"$base.bin")(i => MinState(i.readDouble()))
      case _: Maximum | _: MaxLength => withInput(s"$base.bin")(i => MaxState(i.readDouble()))
      case _: Sum => withInput(s"$base.bin")(i => SumState(i.readDouble()))
      case _: Mean => withInput(s"$base.bin")(i => MeanState(i.readDouble(), i.readLong()))
      case _: ValueRange =>
        withInput(s"$base.bin")(i => MinMaxState(i.readDouble(), i.readDouble()))
      case _: RatioOfSums =>
        withInput(s"$base.bin")(i => SumPairState(i.readDouble(), i.readDouble()))
      case _: StandardDeviation | _: Variance | _: Skewness | _: Kurtosis =>
        withInput(s"$base.bin")(i => MomentsState(
          i.readDouble(), i.readDouble(), i.readDouble(), i.readDouble(), i.readDouble()))
      case _: Correlation =>
        withInput(s"$base.bin")(i => CorrelationState(
          i.readDouble(), i.readDouble(), i.readDouble(),
          i.readDouble(), i.readDouble(), i.readDouble()))
      case _: ApproxCountDistinct | _: graft.operators.ApproxCountDistinctFromState =>
        withInput(s"$base.bin") { i =>
          val len = i.readInt(); val bytes = new Array[Byte](len); i.readFully(bytes)
          HllState(bytes)
        }
      case _: graft.operators.SnapshotOverlap =>
        withInput(s"$base.bin") { i =>
          val la = i.readInt(); val a = new Array[Byte](la); i.readFully(a)
          val lb = i.readInt(); val b = new Array[Byte](lb); i.readFully(b)
          graft.operators.ThetaOverlapState(a, b)
        }
      case _: graft.operators.ApproxItemFrequencyFromState =>
        withInput(s"$base.bin")(readFreqState)
      case _: graft.operators.ItemFrequencyDrift =>
        withInput(s"$base.bin") { i =>
          graft.operators.FreqDriftState(readFreqState(i), readFreqState(i))
        }
      case _: graft.operators.QuantileShift =>
        withInput(s"$base.bin") { i =>
          def one() = {
            val len = i.readInt(); val bytes = new Array[Byte](len)
            i.readFully(bytes)
            graft.sketch.KLLState(graft.sketch.KLLSketch.deserialize(bytes))
          }
          graft.operators.QuantileShiftState(one(), one())
        }
      case _: graft.operators.DistinctCountRatio =>
        withInput(s"$base.bin") { i =>
          def one() = {
            val len = i.readInt(); val bytes = new Array[Byte](len)
            i.readFully(bytes)
            HllState(bytes)
          }
          graft.operators.DistinctRatioState(one(), one())
        }
      case _: DataTypeAnalyzer =>
        withInput(s"$base.bin")(i => DataTypeState(
          i.readLong(), i.readLong(), i.readLong(), i.readLong(), i.readLong()))
      case _: graft.sketch.KLLSketchAnalyzer | _: ApproxQuantile
          | _: ApproxQuantiles | _: graft.operators.ApproxQuantileFromState =>
        withInput(s"$base.bin") { i =>
          val len = i.readInt(); val bytes = new Array[Byte](len); i.readFully(bytes)
          graft.sketch.KLLState(graft.sketch.KLLSketch.deserialize(bytes))
        }
      case _: DatasetMatchAnalyzer =>
        withInput(s"$base.bin")(i => NumMatchesAndCount(i.readLong(), i.readLong()))
      case _: GroupingAnalyzer[_] | _: Histogram =>
        withInput(s"$base.bin")(FrequencyRuns.readManifest(manifestDir)).map { m =>
          m.runs.find(r => !new Path(r.path).getFileSystem(conf).exists(new Path(r.path)))
            .foreach { r =>
              throw new IllegalStateException(
                s"The frequency state of $analyzer at $locationPrefix lists the run " +
                  s"${r.path}, which does not exist; a location needs the runs of the " +
                  "earlier locations it was built from until a compaction")
            }
          FrequenciesAndNumRows(FrequencyRuns.read(spark, m.schema, m.runs), m.numRows,
            m.runs, None, m.sums.map(analyzer.asInstanceOf[AnyAnalyzer] -> _).toMap)
        }
      case _ => None
    }
    loaded.map(_.asInstanceOf[S])
  }
}

/** The frequency-state codec of [[HdfsStateProvider]]: run files and the
  * per-analyzer manifest that lists them.
  */
private[graft] object FrequencyRuns {

  /** Runs a state may inherit before its next persist compacts them into
    * one. Measured with 15,000-row days on local[4] and a local
    * filesystem (40 appends, no compaction): loading a state took 15-45 ms
    * up to 32 runs and 170-310 ms from 33 on, where Spark lists the paths
    * in a job instead of on the driver; appends stayed flat (0.4-0.45 s
    * with pruned runs, 0.55-0.9 s with every run read); compacting the
    * whole table took 0.2-0.9 s, growing with history. 16 keeps the load
    * on the driver even for a merge of two states (32 paths) and spreads
    * each compaction over 16 appends.
    */
  private[graft] val MaxInheritedRuns = 16

  case class Manifest(schema: StructType, numRows: Long, sums: Option[Seq[Any]],
      runs: Seq[FrequencyRun])

  /** The table the runs hold together, read with the manifest's schema
    * (no schema inference, so no job).
    */
  def read(spark: SparkSession, schema: StructType, runs: Seq[FrequencyRun]): DataFrame =
    if (runs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      val rows = spark.read.schema(schema).parquet(runs.map(_.path): _*)
      if (runs.size == 1) rows else FrequenciesAndNumRows.sumByKey(rows)
    }

  /** Writes `table` as one run at `path`; its key count and key range are
    * observed by the write itself.
    */
  def write(table: DataFrame, path: String): FrequencyRun = {
    val keys = FrequenciesAndNumRows.keyColumns(table)
    val range = KeyRange.aggregates(table.schema)
    val stats = (count(lit(1)) +: range.getOrElse(Nil)).zipWithIndex
      .map { case (c, i) => c.as(s"graft_stat$i") }
    val observed = new Observation()
    table.observe(observed, stats.head, stats.tail: _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.parquet(path)
    val values = observed.get
    val row = Row.fromSeq(stats.indices.map(i => values(s"graft_stat$i")))
    FrequencyRun(path, row.getLong(0), range.map(_ => KeyRange.fromRow(row, 1)))
  }

  private def writeString(o: DataOutputStream, v: String): Unit = {
    val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    o.writeInt(b.length); o.write(b)
  }

  private def readString(i: DataInputStream): String = {
    val b = new Array[Byte](i.readInt()); i.readFully(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  // slot values and key bounds: a tag byte, then the value
  private def writeValue(o: DataOutputStream, v: Any): Unit = v match {
    case null => o.writeByte(0)
    case x: Long => o.writeByte(1); o.writeLong(x)
    case x: Double => o.writeByte(2); o.writeDouble(x)
    case x: String => o.writeByte(3); writeString(o, x)
    case other => throw new IllegalArgumentException(
      s"cannot store ${other.getClass.getSimpleName} in a frequency manifest")
  }

  private def readValue(i: DataInputStream): Any = i.readByte() match {
    case 0 => null
    case 1 => i.readLong()
    case 2 => i.readDouble()
    case 3 => readString(i)
    case t => throw new IllegalStateException(s"corrupt frequency manifest (value tag $t)")
  }

  /** `path` relative to `dir` (`../day-01/state-run-….parquet`), so that a
    * manifest stays small and a tree of locations can move; `path` itself
    * when the two do not share a filesystem and absoluteness.
    */
  private def relative(dir: Option[Path], path: String): String = {
    val p = new Path(path)
    dir.filter(d => d.toUri.getScheme == p.toUri.getScheme &&
        d.toUri.getAuthority == p.toUri.getAuthority && d.isAbsolute == p.isAbsolute)
      .fold(path) { d =>
        val ds = d.toUri.getPath.split("/").filter(_.nonEmpty)
        val ps = p.toUri.getPath.split("/").filter(_.nonEmpty)
        val common = ds.zip(ps).takeWhile { case (a, b) => a == b }.length
        (Seq.fill(ds.length - common)("..") ++ ps.drop(common)).mkString("/")
      }
  }

  def writeManifest(o: DataOutputStream, dir: Option[Path], schema: StructType, numRows: Long,
      sums: Option[Seq[Any]], runs: Seq[FrequencyRun]): Unit = {
    writeString(o, schema.json)
    o.writeLong(numRows)
    o.writeInt(sums.fold(-1)(_.size))
    sums.foreach(_.foreach(writeValue(o, _)))
    o.writeInt(runs.size)
    runs.foreach { r =>
      writeString(o, relative(dir, r.path))
      o.writeLong(r.rows)
      o.writeBoolean(r.range.nonEmpty)
      r.range.foreach { k =>
        writeValue(o, k.min); writeValue(o, k.max); o.writeBoolean(k.hasNull)
      }
    }
  }

  def readManifest(dir: Option[Path])(i: DataInputStream): Manifest = {
    val schema = DataType.fromJson(readString(i)).asInstanceOf[StructType]
    val numRows = i.readLong()
    val slots = i.readInt()
    val sums = if (slots < 0) None else Some(Seq.fill(slots)(readValue(i)))
    val runs = Seq.fill(i.readInt()) {
      val stored = readString(i)
      val path = dir.fold(stored)(d => new Path(d, stored).toString)
      val rows = i.readLong()
      val range =
        if (i.readBoolean()) Some(KeyRange(readValue(i), readValue(i), i.readBoolean()))
        else None
      FrequencyRun(path, rows, range)
    }
    Manifest(schema, numRows, sums, runs)
  }
}
