package graft.core

/** Misra-Gries frequent-items sketch (weighted, mergeable).
  *
  * From-scratch implementation of the deterministic heavy-hitters
  * summary (Misra & Gries 1982, "Finding repeated elements"; the
  * amortized median-purge and merge treatment follow the analysis
  * popularized by Agarwal et al. 2013, "Mergeable summaries"). The
  * reference engine has no frequency sketch at all (SURVEY.md §2.7);
  * the engine's CMS estimates any item's count but with RANDOMIZED
  * one-sided error and no item enumeration — it cannot answer "which
  * items are frequent" without a candidate list. Misra-Gries closes
  * that gap: one pass, bounded memory, and it RETURNS the candidate
  * set with deterministic two-sided bounds.
  *
  * State: at most k (item, count) entries plus a global `offset` (the
  * cumulative decrement mass) and `streamWeight` N (total weight seen).
  * Structural invariants, maintained by every update/merge/purge:
  *
  *   count(x)            <= true(x) <= count(x) + offset   (present x)
  *   true(x)             <= offset                         (absent  x)
  *   offset              <= 2N / k                         (mass bound)
  *
  * so every item with true weight > 2N/k is GUARANTEED present (no
  * false negatives above the bound), and every reported interval
  * [count, count+offset] brackets the exact count. These are theorems,
  * not tail bounds — there is no failure probability.
  *
  * Mass-bound proof sketch: counter mass is only created by `update`
  * (total input mass <= N) and only destroyed by a subtract event
  * (purge or merge-trim) with decrement m. A purge fires with k entries
  * and m = the upper median, so at least k/2 entries are >= m and the
  * event destroys >= m*k/2 mass; a merge-trim picks m = the (k+1)-th
  * largest of > k entries, destroying >= m*(k+1) mass. Either way
  * sum(m_j) * k/2 <= N, i.e. offset <= 2N/k, across ANY merge tree.
  *
  * Determinism: in the EXACT regime (every node of the aggregation
  * tree sees <= k distinct items) no subtract event ever fires,
  * offset stays 0, and the sketch is a plain count map — bit-identical
  * output at any partitioning. In the approximate regime the stored
  * counts depend on merge order (MG merges are not state-associative),
  * but the bracketing and mass-bound invariants above hold for every
  * order — tests pin the invariants, not the bytes.
  *
  * Items are `AnyRef` keys under a [[FreqSketch.Codec]] (boxed Long for
  * token ids / hashes, String for words); the codec fixes the wire
  * format and the canonical serialization order, so equal sketch states
  * serialize to equal bytes.
  */
final class FreqSketch private (
    val k: Int,
    val codec: FreqSketch.Codec,
    private val map: java.util.HashMap[AnyRef, FreqSketch.Ctr],
    private var offset: Long,
    private var n: Long) extends Serializable {

  import FreqSketch.Ctr

  /** Total stream weight observed (sum of update weights). */
  def streamWeight: Long = n

  /** Cumulative decrement: the one-sided error of every bound. */
  def maxError: Long = offset

  /** Number of retained (item, count) entries, <= k. */
  def numEntries: Int = map.size

  /** Deterministic guarantee threshold: any item with true weight
    * > 2N/k is present in the sketch (see class doc).
    */
  def guaranteeThreshold: Long = if (k == 0) Long.MaxValue else 2L * n / k

  /** Add `w` occurrences of `item`. O(1) amortized; a full map pays an
    * O(k log k) median purge that frees at least half the entries.
    */
  def update(item: AnyRef, w: Long = 1L): Unit = {
    require(w > 0, s"freq sketch weight must be positive, got $w")
    n += w
    val c = map.get(item)
    if (c != null) { c.v += w; return }
    if (map.size >= k) purge()
    map.put(item, new Ctr(w))
  }

  /** Subtract the upper median from every counter, drop the non-positive
    * ones (at least half), and charge the median to `offset`.
    */
  private def purge(): Unit = {
    val vals = new Array[Long](map.size)
    var i = 0
    val it0 = map.values().iterator()
    while (it0.hasNext) { vals(i) = it0.next().v; i += 1 }
    java.util.Arrays.sort(vals)
    subtractAll(vals(vals.length / 2))
  }

  /** Subtract `m` from every counter, remove the non-positive, add `m`
    * to offset. Preserves both bracketing invariants (see class doc).
    */
  private def subtractAll(m: Long): Unit = {
    val it = map.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      c.v -= m
      if (c.v <= 0) it.remove()
    }
    offset += m
  }

  /** Lower bound on the true weight of `item` (0 if absent). */
  def lowerBound(item: AnyRef): Long = {
    val c = map.get(item)
    if (c == null) 0L else c.v
  }

  /** Upper bound on the true weight of `item`. */
  def upperBound(item: AnyRef): Long = lowerBound(item) + offset

  /** Retained entries as (item, lower-bound count), sorted by count
    * descending then canonical item order — a deterministic report for
    * a deterministic state.
    */
  def entries: Array[(AnyRef, Long)] = {
    val out = new Array[(AnyRef, Long)](map.size)
    var i = 0
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(i) = (e.getKey, e.getValue.v)
      i += 1
    }
    scala.util.Sorting.stableSort(out,
      (a: (AnyRef, Long), b: (AnyRef, Long)) =>
        a._2 > b._2 || (a._2 == b._2 && codec.compare(a._1, b._1) < 0))
    out
  }

  /** Entries whose UPPER bound clears `threshold` — a no-false-negative
    * candidate set for "true weight >= threshold" (any item meeting the
    * threshold is either here or threshold <= offset, which the caller
    * can detect via [[maxError]]).
    */
  def heavyEntries(threshold: Long): Array[(AnyRef, Long)] =
    entries.filter { case (_, lb) => lb + offset >= threshold }

  /** In-place merge: counts add, offsets add, then a single trim by the
    * (k+1)-th largest count if the union exceeds k entries. Guarantees
    * (not bytes) are preserved under any merge order — see class doc.
    */
  def merge(o: FreqSketch): this.type = {
    require(o.k == k, s"freq sketch k mismatch: $k vs ${o.k}")
    require(o.codec.tag == codec.tag,
      s"freq sketch item-type mismatch: ${codec.tag} vs ${o.codec.tag}")
    val it = o.map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val mine = map.get(e.getKey)
      if (mine != null) mine.v += e.getValue.v
      else map.put(e.getKey, new Ctr(e.getValue.v))
    }
    offset += o.offset
    n += o.n
    if (map.size > k) {
      val vals = new Array[Long](map.size)
      var i = 0
      val vi = map.values().iterator()
      while (vi.hasNext) { vals(i) = vi.next().v; i += 1 }
      java.util.Arrays.sort(vals)
      // (k+1)-th largest = index size-1-k ascending
      subtractAll(vals(vals.length - 1 - k))
    }
    this
  }

  def copy(): FreqSketch = {
    val m2 = new java.util.HashMap[AnyRef, Ctr](map.size * 2)
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      m2.put(e.getKey, new Ctr(e.getValue.v))
    }
    new FreqSketch(k, codec, m2, offset, n)
  }

  /** Binary form: 'G','Q',version, codec tag, k i32 LE, offset i64 LE,
    * n i64 LE, cnt i32 LE, then (item, count i64) in canonical item
    * order (codec-defined), so equal states serialize identically.
    */
  def serialize(): Array[Byte] = {
    val es = entriesCanonical
    var size = 4 + 4 + 8 + 8 + 4
    var i = 0
    while (i < es.length) { size += codec.byteSize(es(i)._1) + 8; i += 1 }
    val bb = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('G'.toByte).put('Q'.toByte).put(0.toByte).put(codec.tag)
    bb.putInt(k).putLong(offset).putLong(n).putInt(es.length)
    i = 0
    while (i < es.length) {
      codec.write(bb, es(i)._1)
      bb.putLong(es(i)._2)
      i += 1
    }
    bb.array()
  }

  private def entriesCanonical: Array[(AnyRef, Long)] = {
    val out = entries
    scala.util.Sorting.stableSort(out,
      (a: (AnyRef, Long), b: (AnyRef, Long)) => codec.compare(a._1, b._1) < 0)
    out
  }

  override def equals(other: Any): Boolean = other match {
    case s: FreqSketch =>
      s.k == k && s.codec.tag == codec.tag && s.offset == offset &&
        s.n == n && s.map.equals(map)
    case _ => false
  }

  override def hashCode: Int =
    31 * (31 * (31 * k + java.lang.Long.hashCode(offset)) +
      java.lang.Long.hashCode(n)) + map.hashCode()
}

object FreqSketch {

  /** Mutable counter box: one allocation per retained item, increments
    * in place (no per-update boxing in the hot loop).
    */
  final class Ctr(var v: Long) extends Serializable {
    override def equals(o: Any): Boolean = o match {
      case c: Ctr => c.v == v
      case _ => false
    }
    override def hashCode: Int = java.lang.Long.hashCode(v)
  }

  /** Item wire format + canonical order. Tag 0 = boxed Long (token ids,
    * 64-bit hashes), tag 1 = String (words). `render` is the human/
    * report form used by the scalar accessors.
    */
  sealed trait Codec extends Serializable {
    def tag: Byte
    def byteSize(item: AnyRef): Int
    def write(bb: java.nio.ByteBuffer, item: AnyRef): Unit
    def read(bb: java.nio.ByteBuffer): AnyRef
    def compare(a: AnyRef, b: AnyRef): Int
    def render(item: AnyRef): String
  }

  object LongCodec extends Codec {
    val tag: Byte = 0
    def byteSize(item: AnyRef): Int = 8
    def write(bb: java.nio.ByteBuffer, item: AnyRef): Unit =
      bb.putLong(item.asInstanceOf[java.lang.Long].longValue())
    def read(bb: java.nio.ByteBuffer): AnyRef =
      java.lang.Long.valueOf(bb.getLong)
    def compare(a: AnyRef, b: AnyRef): Int =
      a.asInstanceOf[java.lang.Long].compareTo(b.asInstanceOf[java.lang.Long])
    def render(item: AnyRef): String = item.toString
  }

  object StringCodec extends Codec {
    val tag: Byte = 1
    private def bytesOf(item: AnyRef): Array[Byte] =
      item.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def byteSize(item: AnyRef): Int = 4 + bytesOf(item).length
    def write(bb: java.nio.ByteBuffer, item: AnyRef): Unit = {
      val b = bytesOf(item)
      bb.putInt(b.length)
      bb.put(b)
    }
    def read(bb: java.nio.ByteBuffer): AnyRef = {
      val len = bb.getInt
      require(len >= 0 && len <= bb.remaining(), "corrupt freq sketch item")
      val b = new Array[Byte](len)
      bb.get(b)
      new String(b, java.nio.charset.StandardCharsets.UTF_8)
    }
    def compare(a: AnyRef, b: AnyRef): Int =
      a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
    def render(item: AnyRef): String = item.asInstanceOf[String]
  }

  private def codecFor(tag: Byte): Codec = tag match {
    case 0 => LongCodec
    case 1 => StringCodec
    case t => throw new IllegalArgumentException(s"unknown freq codec tag $t")
  }

  /** Sketch over 64-bit items (token ids, hashes). */
  def longs(k: Int): FreqSketch = apply(k, LongCodec)

  /** Sketch over string items (words, sources). */
  def strings(k: Int): FreqSketch = apply(k, StringCodec)

  /** Initial map capacity: pre-size small-k maps to their full load
    * (no rehash on the way to k entries) but cap the upfront
    * allocation for large k — a sparse stream under k = 2^24 should
    * not pay 32M empty slots per aggregation buffer; HashMap grows to
    * demand either way.
    */
  private def initialCapacity(k: Int): Int = math.min(k * 2, 1 << 16)

  /** The size rule every freq sketch is built under. */
  def requireK(k: Int): Unit =
    require(k >= 8 && k <= (1 << 24), s"freq sketch k $k out of range [8, 2^24]")

  def apply(k: Int, codec: Codec): FreqSketch = {
    requireK(k)
    new FreqSketch(k, codec, new java.util.HashMap[AnyRef, Ctr](initialCapacity(k)), 0L, 0L)
  }

  def deserialize(bytes: Array[Byte]): FreqSketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 28 && bb.get() == 'G' && bb.get() == 'Q',
      "not a freq sketch")
    require(bb.get() == 0, "unsupported freq sketch version")
    val codec = codecFor(bb.get())
    val k = bb.getInt; val offset = bb.getLong; val n = bb.getLong
    val cnt = bb.getInt
    require(k >= 8 && offset >= 0 && n >= 0 && cnt >= 0 && cnt <= k,
      "corrupt freq sketch header")
    val map = new java.util.HashMap[AnyRef, Ctr](initialCapacity(k))
    var i = 0
    while (i < cnt) {
      val item = codec.read(bb)
      val v = bb.getLong
      require(v > 0, "corrupt freq sketch count")
      require(map.put(item, new Ctr(v)) == null, "duplicate freq sketch item")
      i += 1
    }
    require(!bb.hasRemaining, "trailing bytes in freq sketch")
    new FreqSketch(k, codec, map, offset, n)
  }
}
