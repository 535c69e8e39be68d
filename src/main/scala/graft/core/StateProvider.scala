package graft.core

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, IOException, InputStream,
  OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.TrieMap
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.{CellPopDriftState, DataTypeState, DistinctRatioState, FreqDriftState,
  FreqItemsState, FrequenciesAndNumRows, FrequencyRun, KeyRange, ManifestParityState,
  QuantileShiftState, ThetaOverlapState}
import graft.sketch.{KLLSketch, KLLState}

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

/** Hadoop-filesystem provider (reference capability:
  * analyzers/StateProvider.scala:71-435). Each analyzer's state is one
  * file, `<location>-<analyzer id>.bin`: a fixed magic number, the tag
  * byte of the state's type and the state's body. Every persistable state
  * type has one codec (tag, write, read) in the provider's codec table;
  * `persist` picks it by the state's class and `load` by the file's tag,
  * so a type's byte layout is written and read in one place. Pair states
  * reuse their halves' codecs.
  *
  * Two rules refuse a persist, loudly, with an `IllegalArgumentException`:
  *   - a [[NonMergeableState]] (HistogramBinned, ExactQuantile,
  *     InterquartileRange): a later merge of it could only fail;
  *   - an analyzer whose identity is not stable across runs: one that
  *     holds a function (its rendering names a per-JVM lambda) or a
  *     DataFrame (Spark renders only its first columns, so analyzers over
  *     different frames would share a file). `load` answers `None` for
  *     these, so an `aggregateWith` run computes fresh.
  * A file without the magic number or with an unknown tag fails `load`,
  * naming the file.
  *
  * Frequency states (grouping analyzers, Histogram) are stored as runs:
  * parquet directories `<location>-run-<uuid>.parquet`, each holding
  * distinct keys with their counts, sorted by key within each file. An
  * analyzer's `.bin` body is then its manifest: the table schema,
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
class HdfsStateProvider(private val spark: SparkSession, private val locationPrefix: String)
    extends StateLoader with StatePersister {
  import HdfsStateProvider._

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  // manifests store run paths relative to their own directory
  private def manifestDir: Option[Path] = Option(new Path(locationPrefix).getParent)

  private def path(analyzer: Analyzer[_, _]): Path = {
    // stable, filesystem-safe key per analyzer instance
    val key = analyzer.toString.getBytes(UTF_8)
      .foldLeft(1125899906842597L)((h, b) => 31 * h + b)
    new Path(s"$locationPrefix-${java.lang.Long.toHexString(key)}.bin")
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
    // the persist would succeed, but no later run could compute the same
    // file name (or another analyzer would): fail LOUDLY instead of
    // silently restarting or corrupting the incremental aggregation
    if (!stableIdentity(analyzer)) {
      throw new IllegalArgumentException(
        s"Analyzer $analyzer holds a function or a DataFrame, so its state key is " +
          "not stable across runs and its state cannot be persisted to a " +
          "filesystem provider")
    }
    val codec = state match {
      case s: NonMergeableState[_] =>
        throw new IllegalArgumentException(
          s"${s.analyzerName} computes a non-mergeable state; it cannot be persisted " +
            "for a later merge")
      case _ =>
        byClass.getOrElse(state.getClass, throw new IllegalArgumentException(
          s"Unable to persist state of type ${state.getClass.getSimpleName}"))
    }
    // encoded whole before the file is opened: a failing write (a run of a
    // frequency state) leaves the previous file as it was
    val bytes = new ByteArrayOutputStream
    val out = new StateOut(bytes, this, analyzer.asInstanceOf[AnyAnalyzer])
    out.writeInt(Magic)
    out.writeByte(codec.tag)
    codec.asInstanceOf[Codec[S]].write(out, state)
    out.flush()
    val p = path(analyzer)
    val file = p.getFileSystem(conf).create(p, true)
    try bytes.writeTo(file) finally file.close()
  }

  override def load[S <: State[_]](analyzer: Analyzer[S, _]): Option[S] = {
    if (!stableIdentity(analyzer)) return None // never persisted; compute fresh
    val p = path(analyzer)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = new StateIn(fs.open(p), this, analyzer.asInstanceOf[AnyAnalyzer])
    try {
      if (in.readInt() != Magic) {
        throw new IllegalStateException(s"$p is not a state file (no header)")
      }
      val tag = in.readUnsignedByte()
      val codec = byTag.getOrElse(tag,
        throw new IllegalStateException(s"$p holds a state of unknown type tag $tag"))
      Some(codec.read(in).asInstanceOf[S])
    } catch {
      case e: IOException => throw new IllegalStateException(s"cannot read the state file $p", e)
    } finally in.close()
  }
}

object HdfsStateProvider {

  private val Magic = 0x47524654 // "GRFT"

  /** Whether `analyzer` renders the same in every run, so that its file
    * name (a hash of that rendering) finds its state again and no other
    * analyzer's. A function renders with a per-JVM name
    * (`Foo$$Lambda$123@1a2b3c`); a DataFrame renders only its first
    * columns (`[id: bigint, x: bigint ... 1 more field]`).
    */
  private def stableIdentity(analyzer: Analyzer[_, _]): Boolean = {
    val raw = analyzer.toString
    !raw.contains("$$Lambda") && !raw.contains("$anonfun$") && (analyzer match {
      case p: Product => !p.productIterator.exists(_.isInstanceOf[Dataset[_]])
      case _ => true
    })
  }

  /** A state file being written or read, with the provider and the
    * analyzer it belongs to (the frequency manifest needs both).
    */
  private final class StateOut(out: OutputStream, val provider: HdfsStateProvider,
      val analyzer: AnyAnalyzer) extends DataOutputStream(out)

  private final class StateIn(in: InputStream, val provider: HdfsStateProvider,
      val analyzer: AnyAnalyzer) extends DataInputStream(in)

  /** One state type's stored form: its tag byte and its body. */
  private final class Codec[S <: State[_]](val tag: Int, val write: (StateOut, S) => Unit,
      val read: StateIn => S)(implicit val cls: ClassTag[S])

  private def codec[S <: State[_]: ClassTag](tag: Int)(write: (StateOut, S) => Unit)(
      read: StateIn => S): Codec[S] = new Codec(tag, write, read)

  // every variable-length value is an Int length and that many bytes (not
  // writeUTF, which caps a string at 65535 UTF-8 bytes: a long token or URL
  // counter key would fail the persist)
  private def writeBytes(o: DataOutputStream, b: Array[Byte]): Unit = {
    o.writeInt(b.length); o.write(b)
  }

  private def readBytes(i: DataInputStream): Array[Byte] = {
    val b = new Array[Byte](i.readInt()); i.readFully(b); b
  }

  private def writeString(o: DataOutputStream, v: String): Unit = writeBytes(o, v.getBytes(UTF_8))

  private def readString(i: DataInputStream): String = new String(readBytes(i), UTF_8)

  private val hll = codec[HllState](11)((o, s) => writeBytes(o, s.sketchBytes))(i =>
    HllState(readBytes(i)))

  private val kll = codec[KLLState](12)((o, s) => writeBytes(o, s.sketch.serialize()))(i =>
    KLLState(KLLSketch.deserialize(readBytes(i))))

  private val freqItems = codec[FreqItemsState](14) { (o, s) =>
    o.writeInt(s.counters.size)
    s.counters.foreach { case (k, v) => writeString(o, k); o.writeLong(v) }
    o.writeLong(s.n)
  } { i =>
    val counters = Seq.fill(i.readInt())(readString(i) -> i.readLong()).toMap
    FreqItemsState(counters, i.readLong())
  }

  private val codecs: Seq[Codec[_ <: State[_]]] = Seq(
    codec[NumMatches](1)((o, s) => o.writeLong(s.numMatches))(i => NumMatches(i.readLong())),
    codec[NumMatchesAndCount](2) { (o, s) => o.writeLong(s.numMatches); o.writeLong(s.count) }(
      i => NumMatchesAndCount(i.readLong(), i.readLong())),
    codec[MinState](3)((o, s) => o.writeDouble(s.minValue))(i => MinState(i.readDouble())),
    codec[MaxState](4)((o, s) => o.writeDouble(s.maxValue))(i => MaxState(i.readDouble())),
    codec[SumState](5)((o, s) => o.writeDouble(s.sum))(i => SumState(i.readDouble())),
    codec[MeanState](6) { (o, s) => o.writeDouble(s.sum); o.writeLong(s.count) }(
      i => MeanState(i.readDouble(), i.readLong())),
    codec[MinMaxState](7) { (o, s) => o.writeDouble(s.minValue); o.writeDouble(s.maxValue) }(
      i => MinMaxState(i.readDouble(), i.readDouble())),
    codec[SumPairState](8) { (o, s) => o.writeDouble(s.numerator); o.writeDouble(s.denominator) }(
      i => SumPairState(i.readDouble(), i.readDouble())),
    codec[MomentsState](9)((o, s) => Seq(s.n, s.mean, s.m2, s.m3, s.m4).foreach(o.writeDouble))(
      i => MomentsState(i.readDouble(), i.readDouble(), i.readDouble(), i.readDouble(),
        i.readDouble())),
    codec[CorrelationState](10)((o, s) =>
      Seq(s.n, s.xAvg, s.yAvg, s.ck, s.xMk, s.yMk).foreach(o.writeDouble))(
      i => CorrelationState(i.readDouble(), i.readDouble(), i.readDouble(), i.readDouble(),
        i.readDouble(), i.readDouble())),
    hll,
    kll,
    codec[ThetaOverlapState](13) { (o, s) => writeBytes(o, s.aBytes); writeBytes(o, s.bBytes) }(
      i => ThetaOverlapState(readBytes(i), readBytes(i))),
    freqItems,
    codec[FreqDriftState](15) { (o, s) => freqItems.write(o, s.a); freqItems.write(o, s.b) }(
      i => FreqDriftState(freqItems.read(i), freqItems.read(i))),
    codec[QuantileShiftState](16) { (o, s) => kll.write(o, s.a); kll.write(o, s.b) }(
      i => QuantileShiftState(kll.read(i), kll.read(i))),
    codec[DistinctRatioState](17) { (o, s) => hll.write(o, s.a); hll.write(o, s.b) }(
      i => DistinctRatioState(hll.read(i), hll.read(i))),
    codec[DataTypeState](18)((o, s) => Seq(s.numNull, s.numBoolean, s.numIntegral,
      s.numFractional, s.numString).foreach(o.writeLong))(
      i => DataTypeState(i.readLong(), i.readLong(), i.readLong(), i.readLong(), i.readLong())),
    codec[FrequenciesAndNumRows](19)(writeManifest)(readManifest),
    codec[ManifestParityState](20) { (o, s) => o.writeLong(s.matched); o.writeLong(s.total) }(
      i => ManifestParityState(i.readLong(), i.readLong())),
    codec[CellPopDriftState](21) { (o, s) =>
      o.writeInt(s.counts.size)
      s.counts.foreach { case (c, (a, b)) => o.writeInt(c); o.writeLong(a); o.writeLong(b) }
    } { i =>
      CellPopDriftState(Seq.fill(i.readInt())(i.readInt() -> ((i.readLong(), i.readLong()))).toMap)
    })

  private val byClass: Map[Class[_], Codec[_ <: State[_]]] =
    codecs.map(c => c.cls.runtimeClass -> c).toMap
  private val byTag: Map[Int, Codec[_ <: State[_]]] = codecs.map(c => c.tag -> c).toMap
  require(byTag.size == codecs.size && byClass.size == codecs.size,
    "every state type needs one codec with its own tag")

  // manifest slot values and key bounds: a tag byte, then the value
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

  /** A frequency state's body: its manifest. Writing it stores the runs
    * the state does not have yet.
    */
  private def writeManifest(o: StateOut, f: FrequenciesAndNumRows): Unit = {
    val runs = o.provider.storeRuns(f)
    val sums = f.sums.get(o.analyzer)
    writeString(o, f.frequencies.schema.json)
    o.writeLong(f.numRows)
    o.writeInt(sums.fold(-1)(_.size))
    sums.foreach(_.foreach(writeValue(o, _)))
    o.writeInt(runs.size)
    runs.foreach { r =>
      writeString(o, relative(o.provider.manifestDir, r.path))
      o.writeLong(r.rows)
      o.writeBoolean(r.range.nonEmpty)
      r.range.foreach { k =>
        writeValue(o, k.min); writeValue(o, k.max); o.writeBoolean(k.hasNull)
      }
    }
  }

  private def readManifest(i: StateIn): FrequenciesAndNumRows = {
    val p = i.provider
    val schema = DataType.fromJson(readString(i)).asInstanceOf[StructType]
    val numRows = i.readLong()
    val slots = i.readInt()
    val sums = if (slots < 0) None else Some(Seq.fill(slots)(readValue(i)))
    val runs = Seq.fill(i.readInt()) {
      val stored = readString(i)
      val path = p.manifestDir.fold(stored)(d => new Path(d, stored).toString)
      val rows = i.readLong()
      val range =
        if (i.readBoolean()) Some(KeyRange(readValue(i), readValue(i), i.readBoolean()))
        else None
      FrequencyRun(path, rows, range)
    }
    runs.find(r => !new Path(r.path).getFileSystem(p.conf).exists(new Path(r.path)))
      .foreach { r =>
        throw new IllegalStateException(
          s"The frequency state of ${i.analyzer} at ${p.locationPrefix} lists the run " +
            s"${r.path}, which does not exist; a location needs the runs of the " +
            "earlier locations it was built from until a compaction")
      }
    FrequenciesAndNumRows(FrequencyRuns.read(p.spark, schema, runs), numRows, runs, None,
      sums.map(i.analyzer -> _).toMap)
  }
}

/** The run format of frequency states: each run is a parquet directory of
  * distinct keys with their counts (see [[HdfsStateProvider]]).
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
}
