package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.core._
import catalyst.SketchKind

/** Column-level API of the sketch engine.
  *
  * Naming follows the reference's exported surface (SURVEY.md §2.1): each
  * `bloom_*` function is the Spark lift of the corresponding Filter method
  * (Add->*_agg update, Union->merge/bloom_union, Has->bloom_might_contain,
  * Cardinality->bloom_cardinality, Optimize->BloomConfig.optimize at plan
  * time, Dump/Load->the BinaryType column values themselves).
  *
  * Probe-side note (scale): `bloomProbe(filter)` captures a driver-side
  * deserialized filter in the UDF closure, so executors deserialize ONCE
  * per task via closure/broadcast — the Spark analog of the reference's
  * "share one filter among readers". The bytes-column variants
  * (`bloom_might_contain`) deserialize per row and are meant for small
  * aggregated results (one sketch row per group), not per-row probes of a
  * big table.
  */
object functions {

  // ---------------- builders (aggregation functions) ----------------
  //
  // All builders plan as native TypedImperativeAggregates (graft.functions
  // .catalyst) — input read in place from ArrayData, no per-row encoder
  // copy. Typed Dataset users take the same Column with a typed view:
  // ds.groupByKey(_.source).agg(bloom_agg_tokens(col("tokens"), ...)
  // .as[Array[Byte]]).

  private def tokenArray(c: Column): Expression =
    catalyst.expr(c.cast("array<int>"))
  private def scalarAgg[B](c: Column, kind: SketchKind[B]): Column =
    catalyst.aggCol(catalyst.ScalarAggregate(catalyst.expr(c.cast(kind.input)), kind))
  private def unionAgg[B](c: Column, kind: SketchKind[B]): Column =
    catalyst.aggCol(catalyst.UnionAggregate(catalyst.expr(c), kind))
  private def bloomKind(capacity: Long, fpr: Double,
                        maxBits: Long = 0L): SketchKind.Bloom = {
    val (nbits, k) = BloomConfig.optimize(capacity, fpr, maxBits)
    SketchKind.Bloom(nbits, k)
  }

  /** Bloom filter over token arrays, sized like the reference's
    * NewOptimized (/root/reference/optimize.go:40-43).
    */
  def bloom_agg_tokens(tokens: Column, capacity: Long, fpr: Double,
                       maxBits: Long = 0L): Column =
    catalyst.aggCol(catalyst.BloomTokensAggregate(
      tokenArray(tokens), bloomKind(capacity, fpr, maxBits)))

  /** Bloom filter over pre-hashed 64-bit keys. */
  def bloom_agg_hash(hash: Column, capacity: Long, fpr: Double,
                     maxBits: Long = 0L): Column =
    scalarAgg(hash, bloomKind(capacity, fpr, maxBits))

  /** Union of pre-built Bloom dumps (checkpoint resume path). */
  def bloom_union_agg(dumps: Column, nbits: Long, k: Int): Column =
    unionAgg(dumps, SketchKind.Bloom(nbits, k))

  /** Fused Bloom+HLL+CMS panel in one pass (struct of the three wire
    * formats, byte-identical to the standalone aggregates at equal
    * parameters) — use when a job wants several sketches of the same
    * column: one array traversal and one token hash instead of three.
    */
  def sketch_panel_agg(tokens: Column, capacity: Long, fpr: Double,
                       p: Int = 14, depth: Int = 5,
                       width: Int = 65536): Column =
    catalyst.aggCol(catalyst.SketchPanelAggregate(tokenArray(tokens),
      bloomKind(capacity, fpr), SketchKind.Hll(p),
      SketchKind.Cms(depth, width)))

  def hll_agg_tokens(tokens: Column, p: Int = 14): Column =
    catalyst.aggCol(catalyst.HllTokensAggregate(tokenArray(tokens), SketchKind.Hll(p)))

  def hll_agg_hash(hash: Column, p: Int = 14): Column =
    scalarAgg(hash, SketchKind.Hll(p))

  def hll_union_agg(sketches: Column, p: Int = 14): Column =
    unionAgg(sketches, SketchKind.Hll(p))

  def cms_agg_tokens(tokens: Column, depth: Int = 5, width: Int = 65536): Column =
    catalyst.aggCol(catalyst.CmsTokensAggregate(
      tokenArray(tokens), SketchKind.Cms(depth, width)))

  def cms_agg_hash(hash: Column, depth: Int = 5, width: Int = 65536): Column =
    scalarAgg(hash, SketchKind.Cms(depth, width))

  def cms_union_agg(sketches: Column, depth: Int = 5, width: Int = 65536): Column =
    unionAgg(sketches, SketchKind.Cms(depth, width))

  /** Theta (KMV) distinct sketch over token arrays — the intersectable
    * distinct counter. Use HLL when only unions/estimates are needed
    * (smaller at equal error); use theta when the question involves
    * set INTERSECTION or DIFFERENCE (cross-source overlap, A-not-B),
    * which HLL cannot answer. RSE ~ 1/sqrt(k-1) in estimation mode.
    */
  def theta_agg_tokens(tokens: Column, k: Int = 4096): Column =
    catalyst.aggCol(catalyst.ThetaTokensAggregate(
      tokenArray(tokens), SketchKind.Theta(k)))

  def theta_agg_hash(hash: Column, k: Int = 4096): Column =
    scalarAgg(hash, SketchKind.Theta(k))

  /** Merge pre-built theta sketches stored in a column (load-is-union). */
  def theta_union_agg(sketches: Column, k: Int = 4096): Column =
    unionAgg(sketches, SketchKind.Theta(k))

  /** Tuple sketch (theta + additive per-key summary) over (key hash,
    * weight) pairs. Theta answers "how many distinct keys"; tuple
    * answers "how much WEIGHT do those keys carry" — per-source token
    * mass, shared-vocabulary mass between sources, novel mass — via
    * [[tuple_sum_estimate]] over [[tuple_intersect]]/[[tuple_a_not_b]].
    * Null weights count as 1 (one occurrence).
    */
  def tuple_agg_hash(hash: Column, weight: Column, k: Int = 4096): Column =
    catalyst.aggCol(catalyst.TupleHashAggregate(catalyst.expr(hash.cast("bigint")),
      catalyst.expr(weight.cast("bigint")), SketchKind.Tuple(k)))

  /** Tuple build over token arrays, weight 1 per token occurrence. */
  def tuple_agg_tokens(tokens: Column, k: Int = 4096): Column =
    catalyst.aggCol(catalyst.TupleTokensAggregate(
      tokenArray(tokens), SketchKind.Tuple(k)))

  /** Merge pre-built tuple sketches stored in a column (load-is-union;
    * equal keys sum their summaries).
    */
  def tuple_union_agg(sketches: Column, k: Int = 4096): Column =
    unionAgg(sketches, SketchKind.Tuple(k))

  /** Misra-Gries frequent-items sketch over token arrays: one pass,
    * <= k entries, DETERMINISTIC two-sided bounds (lb <= true <=
    * lb + maxError, maxError <= 2N/k, no item above 2N/k missing).
    * Use CMS when the candidate items are known up front; use freq
    * when the question is "WHICH items are frequent". Exact (and
    * bit-deterministic under any partitioning) whenever every
    * aggregation node sees <= k distinct items.
    */
  def freq_agg_tokens(tokens: Column, k: Int = 1024): Column =
    catalyst.aggCol(catalyst.FreqTokensAggregate(
      tokenArray(tokens), SketchKind.Freq(k, strings = false)))

  /** Misra-Gries build over string items (words, urls, sources). */
  def freq_agg_str(item: Column, k: Int = 1024): Column =
    scalarAgg(item, SketchKind.Freq(k, strings = true))

  /** Merge pre-built freq sketches stored in a column (per-source
    * rollup). `stringItems` must match the stored codec (checked).
    */
  def freq_union_agg(sketches: Column, k: Int = 1024,
                     stringItems: Boolean = false): Column =
    unionAgg(sketches, SketchKind.Freq(k, stringItems))

  def tdigest_agg(values: Column, compression: Double = 100.0): Column =
    scalarAgg(values, SketchKind.TDigest(compression))

  def kll_agg(values: Column, k: Int = 200): Column =
    scalarAgg(values, SketchKind.Kll(k))

  def minhash_agg_tokens(tokens: Column, numPerms: Int = 128): Column =
    catalyst.aggCol(catalyst.MinHashTokensAggregate(tokenArray(tokens), numPerms))

  // ---------------- Bloom scalars ----------------

  /** Probe with a plan-time-bound filter (the filter ships with each
    * task's serialized plan; probes run inside whole-stage codegen — see
    * expressions.BloomProbe). Right for small-to-MB filters; above
    * [[bloomProbeBroadcastThreshold]] prefer [[bloomProbeAuto]], which
    * moves the bytes through a torrent broadcast instead of the plan.
    */
  def bloomProbe(filter: BlockedBloomFilter): Column => Column =
    expressions.bloom_probe(filter)

  /** Plan-size threshold (bytes of filter bit array) above which
    * bloomProbeAuto broadcasts instead of plan-embedding: 32 MiB.
    */
  val bloomProbeBroadcastThreshold: Long = 32L << 20

  /** Probe via an explicit broadcast handle (large-filter path). */
  def bloomProbeBroadcast(
      bcast: org.apache.spark.broadcast.Broadcast[BlockedBloomFilter]):
      Column => Column =
    expressions.bloom_probe_broadcast(bcast)

  /** Probe that picks plan-embedding for small filters and a broadcast
    * variable for large ones — per-row cost is identical (both probe a
    * local reference inside codegen); only the shipping differs.
    */
  def bloomProbeAuto(spark: org.apache.spark.sql.SparkSession,
                     filter: BlockedBloomFilter,
                     threshold: Long = bloomProbeBroadcastThreshold):
      Column => Column =
    if (filter.numBits / 8 <= threshold) bloomProbe(filter)
    else bloomProbeBroadcast(spark.sparkContext.broadcast(filter))

  /** Codegen token hash (int -> splitmix64). */
  def token_hash64(c: Column): Column = expressions.token_hash64(c)

  /** Codegen FNV-1a 64 string hash. */
  def fnv_hash64_native(c: Column): Column = expressions.fnv1a64(c)

  // ---------------- udf-form scalar accessors ----------------
  //
  // SMALL RESULTS ONLY: each call deserializes its sketch argument per
  // ROW (BloomIO.load / *.deserialize inside a ScalaUDF — no codegen,
  // full encoder tax). They exist for driver-side readbacks over
  // already-aggregated frames (one sketch row per group; SparkEntry
  // uses them on <= 20-row results). Anything corpus-sized has a
  // native twin — use it:
  //  - probing rows against a filter  -> [[bloomProbe]] /
  //    [[bloomProbeBroadcast]] / [[bloomProbeAuto]] (codegen
  //    expressions.BloomProbe; the filter is loaded ONCE per plan)
  //  - building/merging filters over rows -> the catalyst.scala
  //    aggregates (bloom_agg_* — partial/final merge, no per-row dump)
  //  - set algebra over MANY filters -> load once driver-side
  //    (BloomIO.load) and use the core BlockedBloomFilter methods
  // PlanSpec asserts no ScalaUDF reaches a hot path.

  /** Per-row variant over a sketch-bytes column (small results only —
    * see section note; corpus-sized probes use [[bloomProbeAuto]]).
    */
  val bloom_might_contain: UserDefinedFunction =
    udf((dump: Array[Byte], h: Long) => BloomIO.load(dump).has(h))

  /** Cardinality MLE of a dumped filter
    * (/root/reference/bloomfilter.go:111-140 semantics; +Inf becomes null
    * to stay SQL-friendly).
    */
  val bloom_cardinality: UserDefinedFunction =
    udf((dump: Array[Byte]) => {
      val c = BloomIO.load(dump).cardinality
      if (c.isInfinite) None else Some(c)
    })

  val bloom_union: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val f = BloomIO.load(a)
      BloomIO.dump(f.union(BloomIO.load(b)))
    })

  val bloom_intersect: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) => {
      val f = BloomIO.load(a)
      BloomIO.dump(f.intersect(BloomIO.load(b)))
    })

  val bloom_num_bits: UserDefinedFunction =
    udf((dump: Array[Byte]) => BloomIO.load(dump).numBits)

  val bloom_is_empty: UserDefinedFunction =
    udf((dump: Array[Byte]) => BloomIO.load(dump).isEmpty)

  /** Modeled FPR after nkeys inserts (/root/reference/optimize.go:133-141). */
  val bloom_fprate: UserDefinedFunction =
    udf((dump: Array[Byte], nkeys: Long) => {
      val f = BloomIO.load(dump)
      BloomConfig.fpRateAfter(nkeys, f.numBits, f.k)
    })

  // ---------------- sketch scalars ----------------
  //
  // Same contract as the Bloom accessors above: these read back
  // ALREADY-AGGREGATED sketch columns (one row per group — built by the
  // native catalyst.scala aggregates hll_agg_* / cms_agg_* /
  // tdigest_agg_* / kll_agg_*), so the per-row deserialization cost is
  // paid once per GROUP, never per input row. Do not map them over
  // corpus-sized frames.

  val hll_estimate: UserDefinedFunction =
    udf((bytes: Array[Byte]) => HyperLogLog.deserialize(bytes).estimate)

  val hll_merge: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      HyperLogLog.deserialize(a).merge(HyperLogLog.deserialize(b)).serialize())

  val cms_estimate: UserDefinedFunction =
    udf((bytes: Array[Byte], h: Long) =>
      CountMinSketch.deserialize(bytes).estimate(h))

  val cms_total: UserDefinedFunction =
    udf((bytes: Array[Byte]) => CountMinSketch.deserialize(bytes).total)

  /** Distinct estimate of a theta sketch (native build twin:
    * [[theta_agg_tokens]]/[[theta_agg_hash]] — this accessor reads
    * already-aggregated per-group rows only, like [[hll_estimate]]).
    */
  val theta_estimate: UserDefinedFunction =
    udf((bytes: Array[Byte]) => ThetaSketch.deserialize(bytes).estimate)

  /** Retained-entry count (exact distinct when below k). */
  val theta_retained: UserDefinedFunction =
    udf((bytes: Array[Byte]) => ThetaSketch.deserialize(bytes).retained)

  /** Pairwise set operations over two serialized theta sketches: the
    * result is itself a sketch, so expressions compose
    * (|A ∩ B| = theta_estimate(theta_intersect(a, b))). Per-group rows
    * only, same contract as every sketch scalar in this block.
    */
  val theta_union: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      ThetaSketch.deserialize(a).merge(ThetaSketch.deserialize(b)).serialize())

  val theta_intersect: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      ThetaSketch.deserialize(a).intersect(ThetaSketch.deserialize(b)).serialize())

  val theta_a_not_b: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      ThetaSketch.deserialize(a).aNotB(ThetaSketch.deserialize(b)).serialize())

  /** Tuple-sketch accessors and pair algebra — same per-group-rows-only
    * contract as the theta block above (native build twins:
    * [[tuple_agg_hash]]/[[tuple_agg_tokens]]/[[tuple_union_agg]]).
    */
  val tuple_estimate: UserDefinedFunction =
    udf((bytes: Array[Byte]) => TupleSketch.deserialize(bytes).estimate)

  /** Horvitz–Thompson total-weight estimate (exact in exact mode). */
  val tuple_sum_estimate: UserDefinedFunction =
    udf((bytes: Array[Byte]) => TupleSketch.deserialize(bytes).sumEstimate)

  val tuple_retained: UserDefinedFunction =
    udf((bytes: Array[Byte]) => TupleSketch.deserialize(bytes).retained)

  val tuple_union: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      TupleSketch.deserialize(a).merge(TupleSketch.deserialize(b)).serialize())

  /** Shared keys, summaries summed across both sides ("mass of the
    * shared vocabulary in either input").
    */
  val tuple_intersect: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      TupleSketch.deserialize(a).intersect(TupleSketch.deserialize(b)).serialize())

  /** A's keys absent from B, A's summaries kept ("mass unique to A"). */
  val tuple_a_not_b: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      TupleSketch.deserialize(a).aNotB(TupleSketch.deserialize(b)).serialize())

  /** Freq-sketch accessors — same per-group-rows-only contract as the
    * theta/tuple blocks (native build twins: [[freq_agg_tokens]]/
    * [[freq_agg_str]]/[[freq_union_agg]]). Items render as strings
    * (decimal for token-id sketches).
    */
  val freq_entries: UserDefinedFunction =
    udf((bytes: Array[Byte]) => {
      val s = FreqSketch.deserialize(bytes)
      s.entries.map { case (item, lb) =>
        (s.codec.render(item), lb, lb + s.maxError)
      }.toSeq
    })

  /** Lower bound on a string item's true weight (0 if absent). */
  val freq_lower_bound: UserDefinedFunction =
    udf((bytes: Array[Byte], item: String) => {
      val s = FreqSketch.deserialize(bytes)
      val key: AnyRef =
        if (s.codec.tag == 0) java.lang.Long.valueOf(item.toLong) else item
      s.lowerBound(key)
    })

  val freq_max_error: UserDefinedFunction =
    udf((bytes: Array[Byte]) => FreqSketch.deserialize(bytes).maxError)

  val freq_stream_weight: UserDefinedFunction =
    udf((bytes: Array[Byte]) => FreqSketch.deserialize(bytes).streamWeight)

  val freq_merge: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      FreqSketch.deserialize(a).merge(FreqSketch.deserialize(b)).serialize())

  val tdigest_quantile: UserDefinedFunction =
    udf((bytes: Array[Byte], q: Double) => TDigest.deserialize(bytes).quantile(q))

  val tdigest_cdf: UserDefinedFunction =
    udf((bytes: Array[Byte], x: Double) => TDigest.deserialize(bytes).cdf(x))

  val kll_quantile: UserDefinedFunction =
    udf((bytes: Array[Byte], q: Double) => KllSketch.deserialize(bytes).quantile(q))

  val kll_rank: UserDefinedFunction =
    udf((bytes: Array[Byte], x: Double) => KllSketch.deserialize(bytes).rank(x))

  // ---------------- MinHash / SimHash / vector scalars ----------------
  //
  // All native codegen expressions (expressions.scala) — the round-1
  // ScalaUDF forms paid the per-row encoder tax on the dedup/ANN hot
  // paths (VERDICT r01 "what's wrong" #4).

  /** Per-document MinHash signature (array<int> -> array<long>). */
  def minhash_signature(numPerms: Int = 128)(tokens: Column): Column =
    expressions.minhash_signature(tokens, numPerms)

  val minhash_jaccard: UserDefinedFunction =
    udf((a: Array[Long], b: Array[Long]) => MinHash.estimateJaccard(a, b))

  /** LSH band keys for a signature: array of (band << 56) ^ bandHash —
    * explode + groupBy on these to get candidate pairs.
    */
  def minhash_bands(numBands: Int, rowsPerBand: Int)(sig: Column): Column =
    expressions.minhash_bands(sig, numBands, rowsPerBand)

  def simhash64(tokens: Column): Column = expressions.simhash64(tokens)

  def hamming64(a: Column, b: Column): Column = expressions.hamming64(a, b)

  /** Cosine similarity of two array<float> columns, codegen'd. */
  def cosine_sim(a: Column, b: Column): Column = expressions.cosine_sim(a, b)

  /** Random-hyperplane sign signature of an array<float> column. */
  def lsh_signature(emb: Column, nbits: Int, dim: Int): Column =
    expressions.lsh_signature(emb, nbits, dim)

  /** Banded hyperplane LSH keys of an array<float> column. */
  def lsh_band_keys(emb: Column, numBands: Int, bitsPerBand: Int,
                    dim: Int): Column =
    expressions.lsh_band_keys(emb, numBands, bitsPerBand, dim)

  /** Two-level pigeonhole bucket keys of a simhash fingerprint. */
  def simhash_buckets(fp: Column, maxHamming: Int): Column =
    expressions.simhash_buckets(fp, maxHamming)

  /** Deterministic tokenizer (string -> array<int>), codegen'd. */
  def tokenize(text: Column): Column = expressions.tokenize(text)

  /** Rolling n-gram shingle hashes of a token array (array<long>). */
  def token_shingles(tokens: Column, n: Int): Column =
    expressions.token_shingles(tokens, n)

  /** MinHash signature over pre-hashed set elements (e.g. shingles). */
  def minhash_signature_hashes(hashes: Column, numPerms: Int = 128): Column =
    expressions.minhash_signature_hashes(hashes, numPerms)

  /** Partial top-k by score per group (array<struct<id,score>>,
    * best-first, ties to the lower id) — use instead of a
    * row_number window when the candidate set is unbounded: only k
    * rows per group per partition reach the shuffle.
    */
  def topk_by_score(score: Column, id: Column, k: Int): Column =
    catalyst.aggCol(catalyst.TopKByScoreAggregate(
      catalyst.expr(score.cast("double")), catalyst.expr(id.cast("bigint")),
      k))
}
