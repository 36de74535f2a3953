package graft.sketchbench

import graft.core._

/** Single-thread replay of a workload's own inputs through the `core`
  * kernels, with no Spark: ns per call of each kernel the workloads use,
  * at the workloads' sketch parameters.
  */
object CoreReplay {
  import Workload.{BloomCapacity, BloomFpr, CmsDepth, CmsWidth, HllP, KllK}

  private var sink = 0L

  /** Median over 5 timed passes (after 2 warm-up passes) of ns per unit. */
  private def nsPer(units: Long)(pass: => Long): Double = {
    for (_ <- 1 to 2) sink ^= pass
    Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      sink ^= pass
      (System.nanoTime() - t0).toDouble / units
    })
  }

  /** `tokens`: token ids the workload hashes; `absent`: keys known to be
    * outside every filter the workload builds; `values`: the numbers the
    * workload folds into KLL.
    */
  def run(tokens: Array[Int], absent: Array[Int],
          values: Array[Double]): Map[String, Double] = {
    val n = tokens.length
    val hashes = tokens.map(Hashing.tokenHash)
    val missHashes = absent.map(Hashing.tokenHash)
    val (nbits, k) = BloomConfig.optimize(BloomCapacity, BloomFpr)

    val hashNs = nsPer(n) {
      var acc = 0L; var i = 0
      while (i < n) { acc += Hashing.tokenHash(tokens(i)); i += 1 }
      acc
    }
    // explicit loops: a closure over Long would box every hash
    def filledBloom(): BlockedBloomFilter = {
      val b = BlockedBloomFilter(nbits, k)
      var i = 0; while (i < n) { b.add(hashes(i)); i += 1 }
      b
    }
    def filledHll(): HyperLogLog = {
      val h = HyperLogLog(HllP)
      var i = 0; while (i < n) { h.add(hashes(i)); i += 1 }
      h
    }
    def filledCms(): CountMinSketch = {
      val c = CountMinSketch(CmsDepth, CmsWidth)
      var i = 0; while (i < n) { c.add(hashes(i)); i += 1 }
      c
    }
    def hits(b: BlockedBloomFilter, hs: Array[Long]): Long = {
      var c = 0L; var i = 0
      while (i < hs.length) { if (b.has(hs(i))) c += 1; i += 1 }
      c
    }
    val bloomAddNs = nsPer(n) { filledBloom().numBlocks.toLong }
    val hllAddNs = nsPer(n) { filledHll().registers(0).toLong }
    val cmsAddNs = nsPer(n) { filledCms().total }
    val kllAddNs = nsPer(values.length) {
      val s = KllSketch(KllK)
      var i = 0; while (i < values.length) { s.add(values(i)); i += 1 }
      s.n
    }
    val bloom = filledBloom()
    val hitNs = nsPer(n) { hits(bloom, hashes) }
    val missNs = nsPer(missHashes.length) { hits(bloom, missHashes) }

    // one panel partial (Bloom + HLL + CMS) over the replayed tokens
    val hll = filledHll()
    val cms = filledCms()
    val bloomBytes = BloomIO.dump(bloom)
    val hllBytes = hll.serialize()
    val cmsBytes = cms.serialize()
    val merges = 200
    val unionNs = nsPer(merges) {
      val acc = BlockedBloomFilter(nbits, k)
      var i = 0; while (i < merges) { acc.union(bloom); i += 1 }
      acc.numBlocks.toLong
    }
    val hllMergeNs = nsPer(merges) {
      val acc = HyperLogLog(HllP)
      var i = 0; while (i < merges) { acc.merge(hll); i += 1 }
      acc.registers(0).toLong
    }
    val cmsMergeNs = nsPer(merges) {
      val acc = CountMinSketch(CmsDepth, CmsWidth)
      var i = 0; while (i < merges) { acc.merge(cms); i += 1 }
      acc.total
    }
    val loads = 50
    val loadNs = nsPer(loads) {
      var acc = 0L; var i = 0
      while (i < loads) {
        acc += BloomIO.load(bloomBytes).numBlocks
        acc += HyperLogLog.deserialize(hllBytes).p
        acc += CountMinSketch.deserialize(cmsBytes).total
        i += 1
      }
      acc
    }
    if (sink == 42L) println("") // keeps the timed passes observable
    Map(
      "core.token_hash_ns" -> hashNs,
      "core.bloom_add_ns" -> bloomAddNs,
      "core.hll_add_ns" -> hllAddNs,
      "core.cms_add_ns" -> cmsAddNs,
      "core.kll_add_ns" -> kllAddNs,
      "core.bloom_has_hit_ns" -> hitNs,
      "core.bloom_has_miss_ns" -> missNs,
      "core.bloom_union_ns" -> unionNs,
      "core.hll_merge_ns" -> hllMergeNs,
      "core.cms_merge_ns" -> cmsMergeNs,
      "core.sketch_load_ns" -> loadNs,
      "core.panel_bytes" ->
        (bloomBytes.length + hllBytes.length + cmsBytes.length).toDouble)
  }
}
