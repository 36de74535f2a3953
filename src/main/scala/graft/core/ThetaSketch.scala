package graft.core

/** Theta (KMV) sketch for distinct counting WITH set operations.
  *
  * From-scratch implementation of the theta-sketch framework (Dasgupta,
  * Lang, Rhodes, Thaler — "A Framework for Estimating Cardinalities of
  * Set Expressions", and the classic KMV estimator of Bar-Yossef et al.
  * 2002 / Beyer et al. 2007). The reference engine has no distinct
  * sketch at all (SURVEY.md §2.7); the engine's HLL covers plain
  * distinct counts but CANNOT intersect — two HLLs only union. Theta
  * closes that gap: per-source sketches built in one pass support
  * union, intersection and difference (A-not-B) estimates, which is
  * what a corpus-overlap matrix needs without the quadratic
  * distinct-token self-join.
  *
  * Representation: hashes are mapped to the sampling space [0, 2^63)
  * via `h & Long.MaxValue`; the sketch keeps the k SMALLEST DISTINCT
  * values seen, sorted ascending, plus theta = the (k+1)-th smallest
  * distinct value seen (Long.MaxValue while fewer than k+1 distinct
  * values have arrived). Invariant: `values` holds exactly the distinct
  * sample-space points < theta that the sketch has observed — which is
  * why intersections/differences of retained sets below min-theta are
  * exact over the sampled region.
  *
  * Estimator: exact mode (theta == MaxValue) returns the retained
  * count. Estimation mode returns cnt / (theta / 2^63) = k / U(k+1),
  * the unbiased KMV form (E[(m-1)/U(m)] = n for the m-th order
  * statistic of n uniforms, with m = k+1). Relative standard error of a
  * built sketch ~ 1/sqrt(k-1); set-operation results report their own
  * retained/theta pair, with intersection error growing as
  * sqrt(|A ∪ B| / |A ∩ B|) / sqrt(k) per the framework paper.
  *
  * Merge (union) is associative and commutative, so the sketch
  * distributes through Spark's partial->final aggregation exactly like
  * the engine's other sketches.
  */
final class ThetaSketch private (
    val k: Int,
    private var theta: Long,            // exclusive threshold, (0, 2^63]
    private var values: Array[Long],    // sorted ascending, cnt entries
    private var cnt: Int) extends Serializable {

  /** Number of retained sample values (< theta). */
  def retained: Int = cnt

  /** Exclusive threshold in the [0, 2^63) sample space. */
  def thetaLong: Long = theta

  /** Sampling probability theta / 2^63. */
  def thetaFraction: Double = theta.toDouble / ThetaSketch.SampleSpace

  /** Add a 64-bit hash (any distribution of full longs; mapped to the
    * sample space internally). Duplicate hashes are no-ops.
    */
  def add(h: Long): Unit = {
    val x = h & Long.MaxValue
    if (x >= theta) return
    if (cnt == k) {
      val largest = values(cnt - 1)
      if (x > largest) { theta = x; return }       // x is the new (k+1)-th
      if (x == largest) return                     // duplicate
      val pos = insertionPoint(x)
      if (pos < cnt && values(pos) == x) return    // duplicate
      // evict the current k-th smallest: it becomes the (k+1)-th
      theta = largest
      System.arraycopy(values, pos, values, pos + 1, cnt - 1 - pos)
      values(pos) = x
    } else {
      val pos = insertionPoint(x)
      if (pos < cnt && values(pos) == x) return
      if (values.length == cnt) values = java.util.Arrays.copyOf(values, math.min(k, math.max(8, cnt * 2)))
      System.arraycopy(values, pos, values, pos + 1, cnt - pos)
      values(pos) = x
      cnt += 1
    }
  }

  /** First index i with values(i) >= x (binary search over cnt). */
  private def insertionPoint(x: Long): Int = {
    var lo = 0; var hi = cnt
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (values(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Distinct-count estimate: exact below k+1 distinct, k/U(k+1) after. */
  def estimate: Double =
    if (theta == Long.MaxValue) cnt.toDouble
    else cnt.toDouble * ThetaSketch.SampleSpace / theta.toDouble

  /** Relative standard error of a BUILT sketch in estimation mode
    * (~1/sqrt(k-1)); 0 in exact mode. Set-operation results inherit the
    * framework bounds, not this.
    */
  def rse: Double = if (theta == Long.MaxValue) 0.0 else 1.0 / math.sqrt((k - 1).toDouble)

  /** In-place union with `o` (same k required): theta drops to the min,
    * retained sets merge below it, then the result re-trims to the k
    * smallest (theta moving to the (k+1)-th merged value) so sketch
    * size stays bounded through any aggregation tree.
    */
  def merge(o: ThetaSketch): this.type = {
    require(o.k == k, s"theta sketch k mismatch: $k vs ${o.k}")
    val t = math.min(theta, o.theta)
    val merged = new Array[Long](cnt + o.cnt)
    var i = 0; var j = 0; var n = 0
    while (i < cnt && values(i) < t && j < o.cnt && o.values(j) < t) {
      val a = values(i); val b = o.values(j)
      if (a < b) { merged(n) = a; i += 1 }
      else if (b < a) { merged(n) = b; j += 1 }
      else { merged(n) = a; i += 1; j += 1 }
      n += 1
    }
    while (i < cnt && values(i) < t) { merged(n) = values(i); i += 1; n += 1 }
    while (j < o.cnt && o.values(j) < t) { merged(n) = o.values(j); j += 1; n += 1 }
    if (n > k) {
      theta = merged(k)
      values = java.util.Arrays.copyOfRange(merged, 0, k)
      cnt = k
    } else {
      theta = t
      values = if (n == merged.length) merged else java.util.Arrays.copyOfRange(merged, 0, n)
      cnt = n
    }
    this
  }

  /** Intersection estimate sketch: retained = A ∩ B below min-theta
    * (exact over the sampled region — see class doc invariant).
    */
  def intersect(o: ThetaSketch): ThetaSketch = {
    require(o.k == k, s"theta sketch k mismatch: $k vs ${o.k}")
    val t = math.min(theta, o.theta)
    val out = new Array[Long](math.min(cnt, o.cnt))
    var i = 0; var j = 0; var n = 0
    while (i < cnt && values(i) < t && j < o.cnt && o.values(j) < t) {
      val a = values(i); val b = o.values(j)
      if (a < b) i += 1
      else if (b < a) j += 1
      else { out(n) = a; n += 1; i += 1; j += 1 }
    }
    new ThetaSketch(k, t, java.util.Arrays.copyOfRange(out, 0, n), n)
  }

  /** A-not-B estimate sketch: retained = A \ B below min-theta. */
  def aNotB(o: ThetaSketch): ThetaSketch = {
    require(o.k == k, s"theta sketch k mismatch: $k vs ${o.k}")
    val t = math.min(theta, o.theta)
    val out = new Array[Long](cnt)
    var i = 0; var j = 0; var n = 0
    while (i < cnt && values(i) < t) {
      val a = values(i)
      while (j < o.cnt && o.values(j) < a) j += 1
      if (!(j < o.cnt && o.values(j) == a && a < o.theta)) { out(n) = a; n += 1 }
      i += 1
    }
    new ThetaSketch(k, t, java.util.Arrays.copyOfRange(out, 0, n), n)
  }

  def copy(): ThetaSketch =
    new ThetaSketch(k, theta, java.util.Arrays.copyOf(values, cnt), cnt)

  /** Binary form: 'G','T',version, pad, k i32 LE, theta i64 LE,
    * cnt i32 LE, values i64 LE ascending.
    */
  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 4 + 8 + 4 + 8 * cnt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('G'.toByte).put('T'.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(k).putLong(theta).putInt(cnt)
    var i = 0
    while (i < cnt) { bb.putLong(values(i)); i += 1 }
    bb.array()
  }

  override def equals(o: Any): Boolean = o match {
    case t: ThetaSketch =>
      t.k == k && t.theta == theta && t.cnt == cnt &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOf(values, cnt),
          java.util.Arrays.copyOf(t.values, t.cnt))
    case _ => false
  }

  override def hashCode: Int =
    31 * (31 * k + java.lang.Long.hashCode(theta)) +
      java.util.Arrays.hashCode(java.util.Arrays.copyOf(values, cnt))
}

object ThetaSketch {
  /** Sample space size 2^63 as a Double (exact: power of two). */
  val SampleSpace: Double = 9.223372036854775808e18

  /** The size rule every theta sketch is built under. */
  def requireK(k: Int): Unit =
    require(k >= 16 && k <= (1 << 26), s"theta sketch k $k out of range [16, 2^26]")

  def apply(k: Int): ThetaSketch = {
    requireK(k)
    new ThetaSketch(k, Long.MaxValue, new Array[Long](math.min(k, 8)), 0)
  }

  def deserialize(bytes: Array[Byte]): ThetaSketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 20 && bb.get() == 'G' && bb.get() == 'T',
      "not a theta sketch")
    require(bb.get() == 0, "unsupported theta sketch version")
    bb.get()
    val k = bb.getInt; val theta = bb.getLong; val cnt = bb.getInt
    require(k >= 16 && theta > 0 && cnt >= 0 && cnt <= k &&
      bytes.length == 20 + 8L * cnt, "corrupt theta sketch")
    val values = new Array[Long](math.max(cnt, 1))
    var i = 0
    var prev = Long.MinValue
    while (i < cnt) {
      values(i) = bb.getLong
      require(values(i) > prev && values(i) < theta, "corrupt theta sketch values")
      prev = values(i)
      i += 1
    }
    new ThetaSketch(k, theta, values, cnt)
  }
}
