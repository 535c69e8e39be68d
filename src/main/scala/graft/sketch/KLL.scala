package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** KLL quantile sketch (Karnin, Lang, Liberty 2016) for doubles.
  *
  * Independent implementation of the published compactor algorithm — the
  * reference ships its own port as analyzers/QuantileNonSample.scala (same
  * capability, different code). Mergeable, bounded memory, deterministic
  * given a seed: suitable as a distributed aggregation state.
  */
class KLLSketch(
    val sketchSize: Int = KLLSketch.DefaultSketchSize,
    val shrinkingFactor: Double = KLLSketch.DefaultShrinkingFactor,
    val seed: Long = KLLSketch.DefaultSeed) extends Serializable {

  private var compactors: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer.empty)
  // KLL's error bound assumes independent compaction coin flips across
  // sketches; per-sketch seeds (partition-derived in the distributed path)
  // keep determinism WITHOUT correlating the keep-odd/keep-even decisions
  // of every per-partition sketch
  private val rng = new Random(seed)

  var count: Long = 0L
  var min: Double = Double.PositiveInfinity
  var max: Double = Double.NegativeInfinity

  private[sketch] def setCompactors(c: ArrayBuffer[ArrayBuffer[Double]]): Unit =
    compactors = c

  /** Read-only view of the compactor levels (reference capability:
    * metrics/BucketDistribution.scala `data`) — consumed by profile JSON.
    */
  def data: Seq[Seq[Double]] = compactors.map(_.toSeq).toSeq

  private def numLevels: Int = compactors.length

  private def capacity(height: Int): Int =
    math.max(math.ceil(sketchSize * math.pow(shrinkingFactor, numLevels - height - 1)).toInt, 2)

  private def totalCapacity: Int = (0 until numLevels).map(capacity).sum

  private def size: Int = compactors.map(_.length).sum

  def update(value: Double): Unit = {
    compactors(0) += value
    count += 1
    if (value < min) min = value
    if (value > max) max = value
    while (size >= totalCapacity) compress()
  }

  private def compress(): Unit = {
    val level = (0 until numLevels).find(h => compactors(h).length >= capacity(h)).getOrElse(0)
    if (level == numLevels - 1) compactors += ArrayBuffer.empty
    val buf = compactors(level)
    val sorted = buf.sorted
    // keep either odd or even positions, promote with doubled weight
    val offset = if (rng.nextBoolean()) 0 else 1
    val promoted = sorted.indices.collect { case i if i % 2 == offset => sorted(i) }
    compactors(level) = ArrayBuffer.empty
    compactors(level + 1) ++= promoted
  }

  def merge(other: KLLSketch): KLLSketch = {
    // deterministic combined seed, still distinct from both inputs
    val result = new KLLSketch(sketchSize, shrinkingFactor, seed * 31 ^ other.seed)
    while (result.numLevels < math.max(numLevels, other.numLevels)) {
      result.compactors += ArrayBuffer.empty
    }
    (0 until numLevels).foreach(h => result.compactors(h) ++= compactors(h))
    (0 until other.numLevels).foreach(h => result.compactors(h) ++= other.compactors(h))
    result.count = count + other.count
    result.min = math.min(min, other.min)
    result.max = math.max(max, other.max)
    while (result.size >= result.totalCapacity) result.compress()
    result
  }

  /** Estimated number of items <= value. */
  def rank(value: Double): Long = {
    var r = 0L
    (0 until numLevels).foreach { h =>
      val weight = 1L << h
      compactors(h).foreach(v => if (v <= value) r += weight)
    }
    r
  }

  /** Weighted items, sorted — basis for quantile queries. */
  private def weightedItems: Seq[(Double, Long)] =
    (0 until numLevels).flatMap { h =>
      val weight = 1L << h
      compactors(h).map(v => v -> weight)
    }.sortBy(_._1)

  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, "quantile must be in [0, 1]")
    val items = weightedItems
    if (items.isEmpty) return Double.NaN
    val totalWeight = items.map(_._2).sum
    val target = q * totalWeight
    var cum = 0L
    items.foreach { case (v, w) =>
      cum += w
      if (cum >= target) return v
    }
    items.last._1
  }

  def quantiles(n: Int): Seq[Double] = (0 to n).map(i => quantile(i.toDouble / n))

  /** Even-width bucket counts over [min, max]: bucket b holds the items
    * in [lo, hi), the last one also its upper edge max
    * (reference capability: metrics/BucketDistribution).
    *
    * Every interior edge reads one cumulative rank — the sketch's weight
    * below the edge, scaled from its total weight to the exact `count` —
    * so the counts telescope to `count` exactly. Compactions make the
    * total weight drift from `count`; mixing the two scales would not sum
    * to n. `min` and `max` are exact, so when they differ the first and
    * the last bucket each keep at least one item.
    */
  def buckets(numBuckets: Int): Seq[BucketValue] = {
    if (count == 0) return Seq.empty
    val width = if (max > min) (max - min) / numBuckets else 1.0
    val totalWeight = rank(Double.PositiveInfinity)
    def below(edge: Double): Long = {
      val scaled = math.round(rank(math.nextDown(edge)).toDouble * count / totalWeight)
      if (max > min) math.min(math.max(scaled, 1L), count - 1) else scaled
    }
    val cumulative = 0L +: (1 until numBuckets).map(b => below(min + b * width)) :+ count
    (0 until numBuckets).map { b =>
      val hi = if (b == numBuckets - 1) max else min + (b + 1) * width
      BucketValue(min + b * width, hi, cumulative(b + 1) - cumulative(b))
    }
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    // version marker: the legacy format began with sketchSize (always
    // positive), so a negative sentinel keeps old persisted bytes readable
    out.writeInt(KLLSketch.FormatV2Marker)
    out.writeInt(sketchSize)
    out.writeDouble(shrinkingFactor)
    // seed persists so round-tripped sketches keep their decorrelated
    // compaction streams (all reloading to the default would re-correlate
    // exactly what the per-partition seeds exist to avoid)
    out.writeLong(seed)
    out.writeLong(count)
    out.writeDouble(min)
    out.writeDouble(max)
    out.writeInt(numLevels)
    compactors.foreach { buf =>
      out.writeInt(buf.length)
      buf.foreach(out.writeDouble)
    }
    out.close()
    bos.toByteArray
  }
}

case class BucketValue(lowValue: Double, highValue: Double, count: Long)

/** Sketch result + parameters, consumed by kllSketchSatisfies
  * (reference capability: metrics/BucketDistribution.scala).
  */
case class BucketDistribution(
    buckets: Seq[BucketValue],
    parameters: Seq[Double],
    sketch: KLLSketch) {

  def apply(i: Int): BucketValue = buckets(i)
  def argmax: Int = buckets.indexOf(buckets.maxBy(_.count))
}

object KLLSketch {
  val DefaultSketchSize = 2048
  val DefaultShrinkingFactor = 0.64
  val DefaultSeed = 42L
  /** Negative sentinel distinguishing the v2 binary format (with seed)
    * from legacy bytes that begin with the (positive) sketchSize.
    */
  val FormatV2Marker: Int = -2

  def deserialize(bytes: Array[Byte]): KLLSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val first = in.readInt()
    val sketch =
      if (first == FormatV2Marker) // v2: explicit seed field
        new KLLSketch(in.readInt(), in.readDouble(), in.readLong())
      else // legacy: `first` IS sketchSize; seed defaults
        new KLLSketch(first, in.readDouble())
    sketch.count = in.readLong()
    sketch.min = in.readDouble()
    sketch.max = in.readDouble()
    val levels = in.readInt()
    val compactors = ArrayBuffer.tabulate(levels) { _ =>
      val n = in.readInt()
      val buf = new ArrayBuffer[Double](n)
      (0 until n).foreach(_ => buf += in.readDouble())
      buf
    }
    sketch.setCompactors(compactors)
    sketch
  }

}
