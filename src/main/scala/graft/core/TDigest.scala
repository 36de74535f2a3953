package graft.core

import java.util.Arrays

/** t-digest quantile sketch (merging variant).
  *
  * From-scratch implementation following Dunning & Ertl, "Computing
  * extremely accurate quantiles using t-digests" (2019): centroids sized by
  * the arcsine scale function k(q) = (delta/2pi)*asin(2q-1), which bounds
  * centroid weight tightly near the tails (accurate extreme quantiles) and
  * loosely in the middle. New points accumulate in a buffer that is merged
  * into the sorted centroid list in one pass when full.
  *
  * merge() folds another digest's centroids through the same pass —
  * associative up to the documented rank-error bound (the sketch is not
  * bit-deterministic under re-ordering, unlike Bloom union; tests assert
  * the published accuracy bound instead, per SURVEY.md §2.7/§5).
  *
  * @param compression delta; ~100 gives <1% rank error at the median,
  *                    much better near the tails
  */
final class TDigest private (
    val compression: Double,
    private var means: Array[Double],
    private var weights: Array[Double],
    private var nCentroids: Int,
    private var buf: Array[Double],
    private var bufW: Array[Double],
    private var nBuf: Int,
    private var totalWeight: Double,
    private var minVal: Double,
    private var maxVal: Double) extends Serializable {

  def total: Double = totalWeight
  def centroidCount: Int = nCentroids
  def min: Double = minVal
  def max: Double = maxVal

  def add(x: Double, w: Double = 1.0): Unit = {
    require(!x.isNaN, "cannot add NaN")
    if (nBuf == buf.length) compress()
    buf(nBuf) = x; bufW(nBuf) = w; nBuf += 1
    totalWeight += w
    if (x < minVal) minVal = x
    if (x > maxVal) maxVal = x
  }

  def merge(o: TDigest): this.type = {
    // totalWeight must track buffered weight BEFORE any compress() runs,
    // otherwise the scale-function q positions are computed against a
    // stale total and centroids over-merge.
    var i = 0
    while (i < o.nCentroids) {
      if (nBuf == buf.length) compress()
      buf(nBuf) = o.means(i); bufW(nBuf) = o.weights(i); nBuf += 1
      totalWeight += o.weights(i)
      i += 1
    }
    i = 0
    while (i < o.nBuf) {
      if (nBuf == buf.length) compress()
      buf(nBuf) = o.buf(i); bufW(nBuf) = o.bufW(i); nBuf += 1
      totalWeight += o.bufW(i)
      i += 1
    }
    if (o.minVal < minVal) minVal = o.minVal
    if (o.maxVal > maxVal) maxVal = o.maxVal
    this
  }

  /** Scale function k1: (delta/2pi) * asin(2q-1). */
  @inline private def k1(q: Double): Double =
    compression / (2 * math.Pi) * math.asin(2 * math.min(1.0, math.max(0.0, q)) - 1)

  /** One-pass merge of sorted (centroids ++ buffer) under the scale limit. */
  def compress(): Unit = {
    if (nBuf == 0) return
    val n = nCentroids + nBuf
    val m = new Array[Double](n)
    val w = new Array[Double](n)
    System.arraycopy(means, 0, m, 0, nCentroids)
    System.arraycopy(weights, 0, w, 0, nCentroids)
    System.arraycopy(buf, 0, m, nCentroids, nBuf)
    System.arraycopy(bufW, 0, w, nCentroids, nBuf)
    sortPairs(m, w, n)

    val outM = new Array[Double](n)
    val outW = new Array[Double](n)
    var out = 0
    var curM = m(0); var curW = w(0)
    var wSoFar = 0.0
    val W = totalWeight
    var i = 1
    while (i < n) {
      val proposed = curW + w(i)
      val qRight = (wSoFar + proposed) / W
      val qLeft = wSoFar / W
      if (k1(qRight) - k1(qLeft) <= 1.0) {
        // absorb into current centroid (weighted mean)
        curM = curM + (m(i) - curM) * w(i) / proposed
        curW = proposed
      } else {
        outM(out) = curM; outW(out) = curW; out += 1
        wSoFar += curW
        curM = m(i); curW = w(i)
      }
      i += 1
    }
    outM(out) = curM; outW(out) = curW; out += 1

    means = Arrays.copyOf(outM, out)
    weights = Arrays.copyOf(outW, out)
    nCentroids = out
    nBuf = 0
  }

  /** Quantile estimate for q in [0,1] by interpolation over centroids,
    * anchored at the tracked min/max for the extreme tails.
    */
  def quantile(q: Double): Double = {
    require(q >= 0 && q <= 1, s"quantile $q out of [0,1]")
    compress()
    if (nCentroids == 0) return Double.NaN
    if (nCentroids == 1) return means(0)
    val target = q * totalWeight
    // cumulative weight at centroid centers
    var cum = 0.0
    var i = 0
    while (i < nCentroids) {
      val center = cum + weights(i) / 2
      if (target < center) {
        if (i == 0) {
          // interpolate between min and first centroid center
          val c0 = weights(0) / 2
          if (c0 <= 0) return means(0)
          return minVal + (means(0) - minVal) * target / c0
        }
        val prevCenter = cum - weights(i - 1) / 2
        val frac = (target - prevCenter) / (center - prevCenter)
        return means(i - 1) + (means(i) - means(i - 1)) * frac
      }
      cum += weights(i)
      i += 1
    }
    // beyond last centroid center: interpolate to max
    val lastCenter = totalWeight - weights(nCentroids - 1) / 2
    val span = totalWeight - lastCenter
    if (span <= 0) return maxVal
    val frac = (target - lastCenter) / span
    means(nCentroids - 1) + (maxVal - means(nCentroids - 1)) * math.min(1.0, frac)
  }

  /** Approximate CDF: fraction of mass <= x. */
  def cdf(x: Double): Double = {
    compress()
    if (nCentroids == 0) return Double.NaN
    if (x < minVal) return 0.0
    if (x >= maxVal) return 1.0
    var cum = 0.0
    var i = 0
    while (i < nCentroids) {
      if (x < means(i)) {
        if (i == 0) return (weights(0) / 2) * (x - minVal) /
          ((means(0) - minVal) * totalWeight)
        val prevCenter = cum - weights(i - 1) / 2
        val center = cum + weights(i) / 2
        val frac = (x - means(i - 1)) / (means(i) - means(i - 1))
        return (prevCenter + frac * (center - prevCenter)) / totalWeight
      }
      cum += weights(i)
      i += 1
    }
    (totalWeight - weights(nCentroids - 1) / 2) / totalWeight
  }

  def copy(): TDigest = {
    compress()
    new TDigest(compression, means.clone(), weights.clone(), nCentroids,
      new Array[Double](buf.length), new Array[Double](buf.length), 0,
      totalWeight, minVal, maxVal)
  }

  /** Binary form: 'G','T',ver,pad, compression f64, total f64, min f64,
    * max f64, n i32, then means f64[n], weights f64[n]; all LE.
    */
  def serialize(): Array[Byte] = {
    compress()
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * 4 + 4 + 16 * nCentroids)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('G'.toByte).put('T'.toByte).put(0.toByte).put(0.toByte)
    bb.putDouble(compression).putDouble(totalWeight)
      .putDouble(minVal).putDouble(maxVal).putInt(nCentroids)
    var i = 0
    while (i < nCentroids) { bb.putDouble(means(i)); i += 1 }
    i = 0
    while (i < nCentroids) { bb.putDouble(weights(i)); i += 1 }
    bb.array()
  }

  /** Dual-pivot-free stable sort of parallel arrays by mean. */
  private def sortPairs(m: Array[Double], w: Array[Double], n: Int): Unit = {
    val idx = (0 until n).sortBy(i => (m(i), w(i)))
    val m2 = new Array[Double](n); val w2 = new Array[Double](n)
    var i = 0
    while (i < n) { m2(i) = m(idx(i)); w2(i) = w(idx(i)); i += 1 }
    System.arraycopy(m2, 0, m, 0, n)
    System.arraycopy(w2, 0, w, 0, n)
  }
}

object TDigest {
  /** The compression rule every t-digest is built under. */
  def requireCompression(compression: Double): Unit =
    require(compression >= 20, s"compression $compression too small")

  def apply(compression: Double = 100.0): TDigest = {
    requireCompression(compression)
    val bufCap = math.max(32, (5 * compression).toInt)
    new TDigest(compression,
      new Array[Double](0), new Array[Double](0), 0,
      new Array[Double](bufCap), new Array[Double](bufCap), 0,
      0.0, Double.PositiveInfinity, Double.NegativeInfinity)
  }

  def deserialize(bytes: Array[Byte]): TDigest = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 40 && bb.get() == 'G' && bb.get() == 'T',
      "not a t-digest sketch")
    require(bb.get() == 0, "unsupported t-digest version")
    bb.get()
    val compression = bb.getDouble; val total = bb.getDouble
    val mn = bb.getDouble; val mx = bb.getDouble
    val n = bb.getInt
    require(n >= 0 && bytes.length == 40 + 16L * n, "corrupt t-digest sketch")
    // enforce the constructor's bound: compression=0 collapses every
    // compress() into one centroid (silently constant quantiles) and
    // NaN disables compression entirely (unbounded growth)
    require(compression >= 20 && !compression.isNaN,
      s"corrupt t-digest sketch: compression $compression")
    val means = new Array[Double](n); val weights = new Array[Double](n)
    var i = 0
    while (i < n) { means(i) = bb.getDouble; i += 1 }
    i = 0
    while (i < n) { weights(i) = bb.getDouble; i += 1 }
    val bufCap = math.max(32, (5 * compression).toInt)
    new TDigest(compression, means, weights, n,
      new Array[Double](bufCap), new Array[Double](bufCap), 0,
      total, mn, mx)
  }
}
