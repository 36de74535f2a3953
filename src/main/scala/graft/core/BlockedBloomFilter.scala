package graft.core

/** Blocked (cache-line-partitioned) Bloom filter.
  *
  * From-scratch Scala implementation of the sketch the reference engine is
  * built around: a bit array split into 512-bit blocks (one L1 cache line),
  * where the low half of a caller-supplied 64-bit hash selects the block and
  * enhanced double hashing synthesizes the remaining k-1 probe positions
  * inside that single block.
  *
  * Behavioral contract (all /root/reference citations are behavior specs,
  * not code provenance):
  *  - layout: blocks of 16 little-endian 32-bit words, BlockBits=512
  *    (/root/reference/bloomfilter.go:42-47,252-253)
  *  - construction clamps nbits>=512, k>=2, rounds nbits up to a multiple
  *    of 512, rejects nbits > MaxBits (/root/reference/bloomfilter.go:66-92)
  *  - add/has: h1=high32(h), h2=low32(h); block = reducerange(h2, nblocks);
  *    k-1 iterations of enhanced double hashing h1+=h2; h2+=i
  *    (/root/reference/bloomfilter.go:95-103,185-205)
  *  - block select is Lemire multiply-shift, not modulo
  *    (/root/reference/bloomfilter.go:255-264)
  *  - union/intersect are word-wise or/and, defined only for equal
  *    (nbits, k) (/root/reference/bloomfilter.go:212-245)
  *  - cardinality is the Papapetrou-Siberski-Nejdl MLE summed per block,
  *    +Inf when any block saturates (/root/reference/bloomfilter.go:105-140)
  *
  * We store the words as Array[Int] (JVM Int wraps identically to uint32)
  * so serialization (BloomIO) and the golden block-layout test are
  * bit-exact against reference dumps. Union/intersect/popcount loop over
  * the flat Int array; the JIT vectorizes these. No concurrency machinery:
  * in Spark each aggregation buffer is single-threaded and parallelism
  * comes from partial->final merges (the reference's own parallel pattern,
  * /root/reference/example_test.go:179-208).
  *
  * @param words flat word array, 16 consecutive Ints per block
  * @param k     number of synthesized hash functions (>= 2)
  */
final class BlockedBloomFilter private (val words: Array[Int], val k: Int)
    extends Serializable {
  import BlockedBloomFilter._

  @inline def numBlocks: Int = words.length / BlockWords
  def numBits: Long = BlockBits.toLong * numBlocks

  /** Insert a key with 64-bit hash h. */
  def add(h: Long): Unit = {
    var h1 = (h >>> 32).toInt
    var h2 = h.toInt
    val base = blockIndex(h2, numBlocks) * BlockWords
    var i = 1
    while (i < k) {
      // enhanced double hashing recurrence (Dillinger-Manolios)
      h1 += h2
      h2 += i
      words(base + ((h1 >>> 5) & (BlockWords - 1))) |= (1 << (h1 & 31))
      i += 1
    }
  }

  /** Membership probe; false positives possible, false negatives never. */
  def has(h: Long): Boolean = {
    var h1 = (h >>> 32).toInt
    var h2 = h.toInt
    val base = blockIndex(h2, numBlocks) * BlockWords
    var i = 1
    while (i < k) {
      h1 += h2
      h2 += i
      if ((words(base + ((h1 >>> 5) & (BlockWords - 1))) & (1 << (h1 & 31))) == 0)
        return false // early exit on first unset bit
      i += 1
    }
    true
  }

  /** In-place union; requires equal (nbits, k). */
  def union(g: BlockedBloomFilter): this.type = {
    checkBinop(g)
    val a = words; val b = g.words
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    this
  }

  /** In-place intersection; requires equal (nbits, k). After intersect,
    * cardinality/FPR estimates are unreliable (reference doc,
    * /root/reference/bloomfilter.go:221-231).
    */
  def intersect(g: BlockedBloomFilter): this.type = {
    checkBinop(g)
    val a = words; val b = g.words
    var i = 0
    while (i < a.length) { a(i) &= b(i); i += 1 }
    this
  }

  private def checkBinop(g: BlockedBloomFilter): Unit = {
    require(words.length == g.words.length,
      "Bloom filters do not have the same number of bits")
    require(k == g.k,
      "Bloom filters do not have the same number of hash functions")
  }

  /** Distinct-count MLE summed over blocks; +Inf once any block is full. */
  def cardinality: Double = {
    var n = 0.0
    var blk = 0
    val nb = numBlocks
    while (blk < nb) {
      var ones = 0
      var w = blk * BlockWords
      val end = w + BlockWords
      while (w < end) { ones += Integer.bitCount(words(w)); w += 1 }
      if (ones != 0) n += math.log1p(-ones.toDouble / BlockBits)
      blk += 1
    }
    val logP0 = (k - 1).toDouble * Log1Minus1DivBlockBits
    n / logP0
  }

  def clear(): Unit = java.util.Arrays.fill(words, 0)

  def isEmpty: Boolean = {
    var i = 0
    while (i < words.length) { if (words(i) != 0) return false; i += 1 }
    true
  }

  /** Set every bit; has() then returns true for any key. */
  def fill(): Unit = java.util.Arrays.fill(words, -1)

  def copy(): BlockedBloomFilter =
    new BlockedBloomFilter(words.clone(), k)

  override def equals(o: Any): Boolean = o match {
    case g: BlockedBloomFilter =>
      k == g.k && java.util.Arrays.equals(words, g.words)
    case _ => false
  }
  override def hashCode: Int = 31 * java.util.Arrays.hashCode(words) + k

  /** Expected FPR after nkeys distinct inserts. */
  def fpRate(nkeys: Long): Double = BloomConfig.fpRateAfter(nkeys, numBits, k)
}

object BlockedBloomFilter {
  /** Bits per block == L1 cache line (spec: /root/reference/bloomfilter.go:42-47). */
  final val BlockBits = 512
  final val BlockWords = BlockBits / 32
  /** Max filter size, 256 GiB of bits (spec: /root/reference/bloomfilter.go:49-50).
    * A single JVM buffer caps at Int.MaxValue words (~64 Gib); larger
    * logical filters must be sharded (one sketch per partition-range row).
    */
  final val MaxBits: Long = BlockBits.toLong << 32

  /** log(1 - 1/512) at high precision (spec: /root/reference/bloomfilter.go:105-109). */
  final val Log1Minus1DivBlockBits = -0.0019550348358033505576274922418668121377

  /** Construct with clamping/rounding rules of the reference:
    * nbits < 1 -> 512; k < 2 -> 2; round nbits up to multiple of 512;
    * reject nbits > MaxBits. (/root/reference/bloomfilter.go:75-92)
    */
  def apply(nbits: Long, nhashes: Int): BlockedBloomFilter = {
    val k = if (nhashes < 2) 2 else nhashes
    val nblocks = blocksFor(nbits)
    new BlockedBloomFilter(new Array[Int]((nblocks * BlockWords).toInt), k)
  }

  /** Block count of a filter of `nbits` bits under the size rules of
    * [[apply]]; throws for a size it rejects.
    */
  def blocksFor(nbits: Long): Long = {
    var nb = if (nbits < 1) BlockBits.toLong else nbits
    require(nb <= MaxBits, "nbits exceeds MaxBits")
    if (nb % BlockBits != 0) nb += BlockBits - nb % BlockBits
    val nblocks = nb / BlockBits
    require(nblocks * BlockWords.toLong <= Int.MaxValue,
      s"filter of $nb bits exceeds single-JVM buffer; shard the sketch")
    nblocks
  }

  /** Construct sized by Optimize for (capacity, fpr[, maxBits]). */
  def optimized(capacity: Long, fpRate: Double,
                maxBits: Long = 0L): BlockedBloomFilter = {
    val (nbits, k) = BloomConfig.optimize(capacity, fpRate, maxBits)
    apply(nbits, k)
  }

  /** Wrap an existing word array (used by BloomIO.load). */
  private[core] def wrap(words: Array[Int], k: Int): BlockedBloomFilter =
    new BlockedBloomFilter(words, k)

  /** Lemire multiply-shift range reduction of the (unsigned) low hash word
    * onto [0, nblocks) (spec: /root/reference/bloomfilter.go:260-264).
    */
  @inline def blockIndex(h2: Int, nblocks: Int): Int =
    (((h2 & 0xFFFFFFFFL) * (nblocks & 0xFFFFFFFFL)) >>> 32).toInt
}
