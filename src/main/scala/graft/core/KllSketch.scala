package graft.core

import scala.collection.mutable.ArrayBuffer

/** KLL quantile sketch over doubles.
  *
  * From-scratch implementation of Karnin, Lang, Liberty, "Optimal Quantile
  * Approximation in Streams" (FOCS 2016): a stack of compactors where level
  * i holds items of weight 2^i; a full level sorts itself and promotes
  * every other item (random even/odd offset) to the level above. Capacity
  * of the level h below the top H decays as k * c^h (c = 2/3), floored at
  * kMin = 8.
  *
  * Normalized rank error is O(1/k); for k = 200 the error at the 99%
  * confidence level is ~1.65% of n (published datasketches figure for the
  * same parameters — acceptance bound per SURVEY.md §2.7; the reference
  * engine has no quantile sketch).
  *
  * merge() concatenates level-wise then re-compacts — associative up to
  * the rank-error bound (randomized compaction is not bit-deterministic
  * under re-ordering; tests assert the bound, not bytes).
  *
  * Randomness: counter-based splitmix64 stream seeded at construction —
  * reproducible for a fixed insertion order, no global RNG state.
  */
final class KllSketch private (
    val k: Int,
    private var levels: ArrayBuffer[ArrayBuffer[Double]],
    private var count: Long,
    private var minVal: Double,
    private var maxVal: Double,
    private var rngCounter: Long) extends Serializable {
  import KllSketch._

  def n: Long = count
  def numLevels: Int = levels.length
  def min: Double = minVal
  def max: Double = maxVal

  /** Retained items across all compactors (space check). */
  def retained: Int = levels.map(_.length).sum

  private def nextBit(): Boolean = {
    rngCounter += 1
    (Hashing.at(0x6B11AA55EE77CC33L, rngCounter) & 1L) == 1L
  }

  private def capacity(level: Int): Int = {
    // level counted from the bottom; top level has full capacity k,
    // lower levels decay by c per level below the top
    val depthBelowTop = levels.length - 1 - level
    math.max(MinCap, math.ceil(k * math.pow(C, depthBelowTop)).toInt)
  }

  def add(x: Double): Unit = {
    require(!x.isNaN, "cannot add NaN")
    levels(0) += x
    count += 1
    if (x < minVal) minVal = x
    if (x > maxVal) maxVal = x
    if (levels(0).length >= capacity(0)) compact()
  }

  /** Compact the lowest over-full level; cascades as needed. */
  private def compact(): Unit = {
    var lvl = 0
    while (lvl < levels.length) {
      if (levels(lvl).length >= capacity(lvl)) compactLevel(lvl)
      lvl += 1
    }
  }

  def merge(o: KllSketch): this.type = {
    require(o.k == k, "KLL k mismatch")
    while (levels.length < o.levels.length) levels += new ArrayBuffer[Double]
    var lvl = 0
    while (lvl < o.levels.length) {
      levels(lvl) ++= o.levels(lvl)
      lvl += 1
    }
    count += o.count
    if (o.minVal < minVal) minVal = o.minVal
    if (o.maxVal > maxVal) maxVal = o.maxVal
    // re-establish capacity invariant bottom-up
    var changed = true
    while (changed) {
      changed = false
      var i = 0
      while (i < levels.length) {
        if (levels(i).length >= capacity(i) && levels(i).length > 1) {
          compactLevel(i); changed = true
        }
        i += 1
      }
    }
    this
  }

  /** Promote every other item of an EVEN prefix (random offset) at
    * doubled weight; an odd buffer keeps its largest item at this
    * level. Compacting an odd count would transfer len±1 units of
    * weight (promoting ceil or floor of len/2 items at weight 2),
    * breaking the sum(2^lvl · len) == count invariant that rank() and
    * quantile() divide by — KLL compacts an even number by definition.
    */
  private def compactLevel(lvl: Int): Unit = {
    if (lvl + 1 == levels.length) levels += new ArrayBuffer[Double]
    val sorted = levels(lvl).toArray
    java.util.Arrays.sort(sorted)
    val even = sorted.length - (sorted.length & 1)
    val offset = if (nextBit()) 1 else 0
    var i = offset
    while (i < even) { levels(lvl + 1) += sorted(i); i += 2 }
    levels(lvl).clear()
    if (even < sorted.length) levels(lvl) += sorted(sorted.length - 1)
  }

  /** All retained (item, weight) pairs sorted by item. */
  private def weightedItems(): (Array[Double], Array[Long]) = {
    val total = retained
    val items = new Array[Double](total)
    val weights = new Array[Long](total)
    var out = 0
    var lvl = 0
    while (lvl < levels.length) {
      val w = 1L << lvl
      val it = levels(lvl).iterator
      while (it.hasNext) { items(out) = it.next(); weights(out) = w; out += 1 }
      lvl += 1
    }
    val idx = (0 until total).sortBy(items(_)).toArray
    val si = new Array[Double](total); val sw = new Array[Long](total)
    var i = 0
    while (i < total) { si(i) = items(idx(i)); sw(i) = weights(idx(i)); i += 1 }
    (si, sw)
  }

  /** Estimated rank of x: weight fraction of items <= x. */
  def rank(x: Double): Double = {
    if (count == 0) return Double.NaN
    var acc = 0L
    var lvl = 0
    while (lvl < levels.length) {
      val w = 1L << lvl
      val it = levels(lvl).iterator
      while (it.hasNext) { if (it.next() <= x) acc += w }
      lvl += 1
    }
    acc.toDouble / count
  }

  /** Quantile estimate for q in [0,1]. */
  def quantile(q: Double): Double = {
    require(q >= 0 && q <= 1, s"quantile $q out of [0,1]")
    if (count == 0) return Double.NaN
    if (q == 0.0) return minVal
    if (q == 1.0) return maxVal
    val (items, weights) = weightedItems()
    val target = q * count
    var cum = 0L
    var i = 0
    while (i < items.length) {
      cum += weights(i)
      if (cum >= target) return items(i)
      i += 1
    }
    maxVal
  }

  def copy(): KllSketch =
    new KllSketch(k, levels.map(_.clone()), count, minVal, maxVal, rngCounter)

  /** Binary form: 'G','K',ver,pad, k i32, numLevels i32, count i64,
    * min f64, max f64, rngCounter i64, then per level: len i32 + items f64.
    */
  def serialize(): Array[Byte] = {
    val size = 4 + 4 + 4 + 8 + 8 + 8 + 8 +
      levels.map(l => 4 + 8 * l.length).sum
    val bb = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('G'.toByte).put('K'.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(k).putInt(levels.length).putLong(count)
    bb.putDouble(minVal).putDouble(maxVal).putLong(rngCounter)
    levels.foreach { l =>
      bb.putInt(l.length)
      l.foreach(bb.putDouble)
    }
    bb.array()
  }
}

object KllSketch {
  /** Level-capacity decay rate (KLL paper's c = 2/3). */
  final val C = 2.0 / 3.0
  final val MinCap = 8

  /** The size rule every KLL sketch is built under. */
  def requireK(k: Int): Unit =
    require(k >= 8 && k <= 65535, s"KLL k=$k out of range")

  def apply(k: Int = 200): KllSketch = {
    requireK(k)
    new KllSketch(k, ArrayBuffer(new ArrayBuffer[Double]), 0L,
      Double.PositiveInfinity, Double.NegativeInfinity, 0L)
  }

  def deserialize(bytes: Array[Byte]): KllSketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 44 && bb.get() == 'G' && bb.get() == 'K',
      "not a KLL sketch")
    require(bb.get() == 0, "unsupported KLL version")
    bb.get()
    val k = bb.getInt; val nLevels = bb.getInt; val count = bb.getLong
    val mn = bb.getDouble; val mx = bb.getDouble; val rng = bb.getLong
    require(k >= 8 && nLevels >= 1 && nLevels <= 64, "corrupt KLL sketch")
    val levels = new ArrayBuffer[ArrayBuffer[Double]]
    var lvl = 0
    while (lvl < nLevels) {
      val len = bb.getInt
      require(len >= 0 && bb.remaining() >= 8L * len, "corrupt KLL sketch")
      val buf = new ArrayBuffer[Double](len)
      var i = 0
      while (i < len) { buf += bb.getDouble; i += 1 }
      levels += buf
      lvl += 1
    }
    new KllSketch(k, levels, count, mn, mx, rng)
  }
}
