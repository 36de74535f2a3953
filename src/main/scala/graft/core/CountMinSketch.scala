package graft.core

/** Count-min sketch for frequency estimation over 64-bit-hashed keys.
  *
  * From-scratch implementation of Cormode & Muthukrishnan (2005): a
  * depth x width matrix of Long counters; each row r indexes by an
  * independent hash of the key; point query = min over rows. Guarantees
  * (published bounds, the BASELINE.json acceptance criteria — the
  * reference engine has no CMS, SURVEY.md §2.7):
  *   estimate >= true count (never undercounts), and
  *   estimate <= true count + eps*N with probability >= 1-delta,
  *   where eps = e/width, delta = e^-depth, N = total added weight.
  *
  * Merge is element-wise addition — associative and commutative, so the
  * sketch distributes through partial->final aggregation exactly like the
  * reference's Bloom union (/root/reference/example_test.go:179-208).
  *
  * Row hashes are derived from the key hash with splitmix64 over
  * row-seeded values — pairwise-independent-enough in practice and
  * deterministic across JVMs (required so partial aggregates on different
  * executors index identically).
  */
final class CountMinSketch private (
    val depth: Int, val width: Int, val counters: Array[Long],
    private var totalWeight: Long) extends Serializable {

  /** Total weight added (N in the eps*N bound). */
  def total: Long = totalWeight

  def add(h: Long, count: Long = 1L): Unit = {
    var r = 0
    while (r < depth) {
      counters(r * width + index(h, r)) += count
      r += 1
    }
    totalWeight += count
  }

  /** Point estimate: min over rows; always >= true count. */
  def estimate(h: Long): Long = {
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = counters(r * width + index(h, r))
      if (c < min) min = c
      r += 1
    }
    min
  }

  @inline private def index(h: Long, row: Int): Int = {
    val hr = Hashing.splitmix64(h ^ (0x5D0F7B8CA9E6D3A1L * (row + 1)))
    // Lemire-style range reduction of the top 32 bits onto [0, width),
    // same technique as the Bloom block select
    // (/root/reference/bloomfilter.go:260-264).
    (((hr >>> 32) * width) >>> 32).toInt
  }

  /** eps in the eps*N error bound: e/width. */
  def eps: Double = math.E / width
  /** Failure probability delta = e^-depth. */
  def delta: Double = math.exp(-depth)

  def merge(o: CountMinSketch): this.type = {
    require(o.depth == depth && o.width == width, "CMS shape mismatch")
    var i = 0
    while (i < counters.length) { counters(i) += o.counters(i); i += 1 }
    totalWeight += o.totalWeight
    this
  }

  def copy(): CountMinSketch =
    new CountMinSketch(depth, width, counters.clone(), totalWeight)

  /** Binary form: 'G','C',version, pad, depth i32 LE, width i32 LE,
    * total i64 LE, counters i64 LE.
    */
  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 4 + 4 + 8 + 8 * counters.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('G'.toByte).put('C'.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(depth).putInt(width).putLong(totalWeight)
    var i = 0
    while (i < counters.length) { bb.putLong(counters(i)); i += 1 }
    bb.array()
  }
}

object CountMinSketch {
  /** The shape rule every count-min sketch is built under. */
  def requireShape(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 32, s"CMS depth $depth out of range")
    require(width >= 2, s"CMS width $width too small")
  }

  def apply(depth: Int, width: Int): CountMinSketch = {
    requireShape(depth, width)
    new CountMinSketch(depth, width, new Array[Long](depth * width), 0L)
  }

  /** Size from accuracy targets: width = ceil(e/eps), depth = ceil(ln(1/delta)). */
  def fromAccuracy(eps: Double, delta: Double): CountMinSketch = {
    require(eps > 0 && eps < 1 && delta > 0 && delta < 1, "invalid eps/delta")
    apply(math.ceil(math.log(1 / delta)).toInt,
      math.ceil(math.E / eps).toInt)
  }

  def deserialize(bytes: Array[Byte]): CountMinSketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 20 && bb.get() == 'G' && bb.get() == 'C',
      "not a CMS sketch")
    require(bb.get() == 0, "unsupported CMS version")
    bb.get()
    val depth = bb.getInt; val width = bb.getInt; val total = bb.getLong
    require(depth >= 1 && width >= 2 &&
      bytes.length == 20 + 8L * depth * width, "corrupt CMS sketch")
    val counters = new Array[Long](depth * width)
    var i = 0
    while (i < counters.length) { counters(i) = bb.getLong; i += 1 }
    new CountMinSketch(depth, width, counters, total)
  }
}
