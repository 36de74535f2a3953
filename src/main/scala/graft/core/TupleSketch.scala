package graft.core

/** Tuple sketch: a theta (KMV) sketch whose retained keys each carry a
  * 64-bit additive summary — the "Tuple" family of the theta-sketch
  * framework (Dasgupta, Lang, Rhodes, Thaler; the Sum-summary member).
  * The reference engine has no sketches beyond Bloom (SURVEY.md §2.7);
  * this completes the engine's mergeable-sketch suite: where theta
  * answers "how many distinct keys does this set expression have",
  * tuple answers "how much WEIGHT do those keys carry" — e.g. the token
  * mass (occurrence count) of the vocabulary two sources share, without
  * the exact per-token join.
  *
  * Semantics: `add(h, w)` on a key already retained ADDS `w` to its
  * summary (so a per-source build keyed by token with w=1 per
  * occurrence accumulates exact per-token occurrence counts over the
  * sampled key region); union-merge sums summaries of equal keys;
  * [[intersect]] keeps keys in both and sums both sides' summaries
  * (total mass attributable to shared keys); [[aNotB]] keeps A's
  * summaries for keys absent from B.
  *
  * Estimators: key-count estimate is theta's (exact below k+1 distinct,
  * cnt/thetaFraction after); [[sumEstimate]] is the Horvitz–Thompson
  * form sum(summaries)/thetaFraction — each retained key's inclusion
  * probability is thetaFraction, so the scaled sum is unbiased for the
  * true total weight (this is the DataSketches tuple-sum estimator).
  * Exact mode (theta == 2^63) returns exact counts and sums.
  *
  * Same invariant as [[ThetaSketch]]: `keys` holds exactly the distinct
  * sample-space points < theta observed, sorted ascending, with
  * `sums(i)` the accumulated weight of `keys(i)`. Merge is associative
  * and commutative (set union with summary addition is), so the sketch
  * distributes through partial->final aggregation like every other
  * engine sketch.
  */
final class TupleSketch private (
    val k: Int,
    private var theta: Long,           // exclusive threshold, (0, 2^63]
    private var keys: Array[Long],     // sorted ascending, cnt entries
    private var sums: Array[Long],     // aligned with keys
    private var cnt: Int) extends Serializable {

  /** Number of retained keys (< theta). */
  def retained: Int = cnt

  /** Exclusive threshold in the [0, 2^63) sample space. */
  def thetaLong: Long = theta

  /** Sampling probability theta / 2^63. */
  def thetaFraction: Double = theta.toDouble / ThetaSketch.SampleSpace

  /** Add weight `w` under 64-bit hash `h` (any full-long distribution;
    * mapped to the sample space internally). A retained key accumulates:
    * repeated adds of the same key sum their weights.
    */
  def add(h: Long, w: Long): Unit = {
    val x = h & Long.MaxValue
    if (x >= theta) return
    if (cnt == k) {
      val largest = keys(cnt - 1)
      if (x > largest) { theta = x; return }          // x is the new (k+1)-th
      if (x == largest) { sums(cnt - 1) += w; return }
      val pos = insertionPoint(x)
      if (pos < cnt && keys(pos) == x) { sums(pos) += w; return }
      // evict the current k-th smallest (its summary is discarded with it)
      theta = largest
      System.arraycopy(keys, pos, keys, pos + 1, cnt - 1 - pos)
      System.arraycopy(sums, pos, sums, pos + 1, cnt - 1 - pos)
      keys(pos) = x
      sums(pos) = w
    } else {
      val pos = insertionPoint(x)
      if (pos < cnt && keys(pos) == x) { sums(pos) += w; return }
      if (keys.length == cnt) {
        val grow = math.min(k, math.max(8, cnt * 2))
        keys = java.util.Arrays.copyOf(keys, grow)
        sums = java.util.Arrays.copyOf(sums, grow)
      }
      System.arraycopy(keys, pos, keys, pos + 1, cnt - pos)
      System.arraycopy(sums, pos, sums, pos + 1, cnt - pos)
      keys(pos) = x
      sums(pos) = w
      cnt += 1
    }
  }

  /** First index i with keys(i) >= x (binary search over cnt). */
  private def insertionPoint(x: Long): Int = {
    var lo = 0; var hi = cnt
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Distinct-key estimate: exact below k+1 distinct, k/U(k+1) after
    * (identical to [[ThetaSketch.estimate]] on the same key stream).
    */
  def estimate: Double =
    if (theta == Long.MaxValue) cnt.toDouble
    else cnt.toDouble * ThetaSketch.SampleSpace / theta.toDouble

  /** Horvitz–Thompson total-weight estimate: sum of retained summaries
    * scaled by 1/thetaFraction. Exact when theta == 2^63.
    */
  def sumEstimate: Double = {
    var s = 0.0
    var i = 0
    while (i < cnt) { s += sums(i).toDouble; i += 1 }
    if (theta == Long.MaxValue) s
    else s * ThetaSketch.SampleSpace / theta.toDouble
  }

  /** Exact retained-summary total (unscaled; = exact total in exact mode). */
  def retainedSum: Long = {
    var s = 0L
    var i = 0
    while (i < cnt) { s += sums(i); i += 1 }
    s
  }

  /** In-place union with `o` (same k required): theta drops to the min,
    * retained sets merge below it with equal keys SUMMING their
    * summaries, then the result re-trims to the k smallest.
    */
  def merge(o: TupleSketch): this.type = {
    require(o.k == k, s"tuple sketch k mismatch: $k vs ${o.k}")
    val t = math.min(theta, o.theta)
    val mk = new Array[Long](cnt + o.cnt)
    val ms = new Array[Long](cnt + o.cnt)
    var i = 0; var j = 0; var n = 0
    while (i < cnt && keys(i) < t && j < o.cnt && o.keys(j) < t) {
      val a = keys(i); val b = o.keys(j)
      if (a < b) { mk(n) = a; ms(n) = sums(i); i += 1 }
      else if (b < a) { mk(n) = b; ms(n) = o.sums(j); j += 1 }
      else { mk(n) = a; ms(n) = sums(i) + o.sums(j); i += 1; j += 1 }
      n += 1
    }
    while (i < cnt && keys(i) < t) { mk(n) = keys(i); ms(n) = sums(i); i += 1; n += 1 }
    while (j < o.cnt && o.keys(j) < t) { mk(n) = o.keys(j); ms(n) = o.sums(j); j += 1; n += 1 }
    if (n > k) {
      theta = mk(k)
      keys = java.util.Arrays.copyOfRange(mk, 0, k)
      sums = java.util.Arrays.copyOfRange(ms, 0, k)
      cnt = k
    } else {
      theta = t
      keys = if (n == mk.length) mk else java.util.Arrays.copyOfRange(mk, 0, n)
      sums = if (n == ms.length) ms else java.util.Arrays.copyOfRange(ms, 0, n)
      cnt = n
    }
    this
  }

  /** Intersection sketch: keys in both below min-theta, summaries SUMMED
    * across the two sides (the "mass attributable to shared keys in
    * either input" reading; exact over the sampled region).
    */
  def intersect(o: TupleSketch): TupleSketch = {
    require(o.k == k, s"tuple sketch k mismatch: $k vs ${o.k}")
    val t = math.min(theta, o.theta)
    val nmax = math.min(cnt, o.cnt)
    val ok = new Array[Long](nmax)
    val os = new Array[Long](nmax)
    var i = 0; var j = 0; var n = 0
    while (i < cnt && keys(i) < t && j < o.cnt && o.keys(j) < t) {
      val a = keys(i); val b = o.keys(j)
      if (a < b) i += 1
      else if (b < a) j += 1
      else { ok(n) = a; os(n) = sums(i) + o.sums(j); n += 1; i += 1; j += 1 }
    }
    new TupleSketch(k, t,
      java.util.Arrays.copyOfRange(ok, 0, n),
      java.util.Arrays.copyOfRange(os, 0, n), n)
  }

  /** A-not-B sketch: A's keys absent from B below min-theta, keeping
    * A's summaries (the "mass unique to A" reading).
    */
  def aNotB(o: TupleSketch): TupleSketch = {
    require(o.k == k, s"tuple sketch k mismatch: $k vs ${o.k}")
    val t = math.min(theta, o.theta)
    val ok = new Array[Long](cnt)
    val os = new Array[Long](cnt)
    var i = 0; var j = 0; var n = 0
    while (i < cnt && keys(i) < t) {
      val a = keys(i)
      while (j < o.cnt && o.keys(j) < a) j += 1
      if (!(j < o.cnt && o.keys(j) == a && a < o.theta)) {
        ok(n) = a; os(n) = sums(i); n += 1
      }
      i += 1
    }
    new TupleSketch(k, t,
      java.util.Arrays.copyOfRange(ok, 0, n),
      java.util.Arrays.copyOfRange(os, 0, n), n)
  }

  def copy(): TupleSketch =
    new TupleSketch(k, theta,
      java.util.Arrays.copyOf(keys, cnt),
      java.util.Arrays.copyOf(sums, cnt), cnt)

  /** Binary form: 'G','U',version, pad, k i32 LE, theta i64 LE,
    * cnt i32 LE, keys i64 LE ascending, sums i64 LE aligned.
    */
  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 4 + 8 + 4 + 16 * cnt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('G'.toByte).put('U'.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(k).putLong(theta).putInt(cnt)
    var i = 0
    while (i < cnt) { bb.putLong(keys(i)); i += 1 }
    i = 0
    while (i < cnt) { bb.putLong(sums(i)); i += 1 }
    bb.array()
  }

  override def equals(o: Any): Boolean = o match {
    case t: TupleSketch =>
      t.k == k && t.theta == theta && t.cnt == cnt &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOf(keys, cnt),
          java.util.Arrays.copyOf(t.keys, t.cnt)) &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOf(sums, cnt),
          java.util.Arrays.copyOf(t.sums, t.cnt))
    case _ => false
  }

  override def hashCode: Int =
    31 * (31 * (31 * k + java.lang.Long.hashCode(theta)) +
      java.util.Arrays.hashCode(java.util.Arrays.copyOf(keys, cnt))) +
      java.util.Arrays.hashCode(java.util.Arrays.copyOf(sums, cnt))
}

object TupleSketch {
  /** The size rule every tuple sketch is built under. */
  def requireK(k: Int): Unit =
    require(k >= 16 && k <= (1 << 26), s"tuple sketch k $k out of range [16, 2^26]")

  def apply(k: Int): TupleSketch = {
    requireK(k)
    new TupleSketch(k, Long.MaxValue,
      new Array[Long](math.min(k, 8)), new Array[Long](math.min(k, 8)), 0)
  }

  def deserialize(bytes: Array[Byte]): TupleSketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 20 && bb.get() == 'G' && bb.get() == 'U',
      "not a tuple sketch")
    require(bb.get() == 0, "unsupported tuple sketch version")
    bb.get()
    val k = bb.getInt; val theta = bb.getLong; val cnt = bb.getInt
    require(k >= 16 && theta > 0 && cnt >= 0 && cnt <= k &&
      bytes.length == 20 + 16L * cnt, "corrupt tuple sketch")
    val keys = new Array[Long](math.max(cnt, 1))
    val sums = new Array[Long](math.max(cnt, 1))
    var i = 0
    var prev = Long.MinValue
    while (i < cnt) {
      keys(i) = bb.getLong
      require(keys(i) > prev && keys(i) < theta, "corrupt tuple sketch keys")
      prev = keys(i)
      i += 1
    }
    i = 0
    while (i < cnt) { sums(i) = bb.getLong; i += 1 }
    new TupleSketch(k, theta, keys, sums, cnt)
  }
}
