package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftglue.glue
import graft.core._

/** SQL surface: every sketch operator callable from `spark.sql(...)`.
  *
  * One table of graft_* functions — aggregates, native scalar
  * expressions, and the `functions` udf accessors — each with its usage
  * string, and two entry points that register all of it:
  *  - `GraftExtensions` (for `spark.sql.extensions=graft.functions.
  *    GraftExtensions` in spark-submit conf) at session build;
  *  - `sql.registerAll(spark)` at runtime into a live session.
  *
  * Sizing arguments (capacity, fpr, precision, ...) must be literals —
  * they size the aggregation buffer at plan time, mirroring how the
  * reference resolves Optimize before allocation
  * (/root/reference/optimize.go:40-48).
  */
object sql {

  private def lng(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"$what must be numeric, got $other")
    }
  }
  private def dbl(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case n: Number => n.doubleValue()
      case d: Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be numeric, got $other")
    }
  }
  private type Decimal = org.apache.spark.sql.types.Decimal

  // SQL inputs arrive with whatever type the user's column has; the
  // aggregates read buffers with exact-type casts, so coerce here (the
  // Column API does the same via .cast) — ExpectsInputTypes would do
  // this but is private[sql] in Spark 4.
  private def asLong(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.LongType)
  private def asDouble(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.DoubleType)
  private def asString(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.StringType)
  private def asIntArray(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType))
  // Vector kernels read ArrayData.toFloatArray: an uncast array<double>
  // input would CCE (Generic) or read garbage (Unsafe). Coerce like the
  // other builders do.
  private def asFloatArray(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))

  /** name -> (usage, builder) for the aggregate expressions. */
  val aggregateBuilders: Map[String, (String, Seq[Expression] => Expression)] =
    Map(
      "graft_bloom_agg_tokens" -> (
        "(tokens, capacity, fpr[, maxBits]) - blocked Bloom filter dump",
        (es: Seq[Expression]) => {
          val maxBits = if (es.length > 3) lng(es(3), "maxBits") else 0L
          val (nbits, k) = BloomConfig.optimize(
            lng(es(1), "capacity"), dbl(es(2), "fpr"), maxBits)
          catalyst.BloomTokensAggregate(asIntArray(es.head), nbits, k)
            .toAggregateExpression()
        }),
      "graft_bloom_agg_hash" -> (
        "(hash64, capacity, fpr[, maxBits]) - blocked Bloom filter dump",
        (es: Seq[Expression]) => {
          val maxBits = if (es.length > 3) lng(es(3), "maxBits") else 0L
          val (nbits, k) = BloomConfig.optimize(
            lng(es(1), "capacity"), dbl(es(2), "fpr"), maxBits)
          catalyst.BloomHashAggregate(asLong(es.head), nbits, k)
            .toAggregateExpression()
        }),
      "graft_bloom_union_agg" -> (
        "(dump, capacity, fpr) - union of Bloom dumps",
        (es: Seq[Expression]) => {
          val (nbits, k) = BloomConfig.optimize(
            lng(es(1), "capacity"), dbl(es(2), "fpr"))
          catalyst.BloomUnionAggregate(es.head, nbits, k)
            .toAggregateExpression()
        }),
      "graft_hll_agg_tokens" -> (
        "(tokens[, p]) - HyperLogLog sketch",
        (es: Seq[Expression]) => {
          val p = if (es.length > 1) lng(es(1), "p").toInt else 14
          catalyst.HllTokensAggregate(asIntArray(es.head), p).toAggregateExpression()
        }),
      "graft_hll_agg_hash" -> (
        "(hash64[, p]) - HyperLogLog sketch",
        (es: Seq[Expression]) => {
          val p = if (es.length > 1) lng(es(1), "p").toInt else 14
          catalyst.HllHashAggregate(asLong(es.head), p).toAggregateExpression()
        }),
      "graft_cms_agg_tokens" -> (
        "(tokens[, depth, width]) - count-min sketch",
        (es: Seq[Expression]) => {
          val d = if (es.length > 1) lng(es(1), "depth").toInt else 5
          val w = if (es.length > 2) lng(es(2), "width").toInt else 65536
          catalyst.CmsTokensAggregate(asIntArray(es.head), d, w).toAggregateExpression()
        }),
      "graft_cms_agg_hash" -> (
        "(hash64[, depth, width]) - count-min sketch",
        (es: Seq[Expression]) => {
          val d = if (es.length > 1) lng(es(1), "depth").toInt else 5
          val w = if (es.length > 2) lng(es(2), "width").toInt else 65536
          catalyst.CmsHashAggregate(asLong(es.head), d, w).toAggregateExpression()
        }),
      "graft_theta_agg_tokens" -> (
        "(tokens[, k]) - theta (KMV) distinct sketch; intersectable",
        (es: Seq[Expression]) => {
          val k = if (es.length > 1) lng(es(1), "k").toInt else 4096
          catalyst.ThetaTokensAggregate(asIntArray(es.head), k).toAggregateExpression()
        }),
      "graft_theta_agg_hash" -> (
        "(hash64[, k]) - theta (KMV) distinct sketch; intersectable",
        (es: Seq[Expression]) => {
          val k = if (es.length > 1) lng(es(1), "k").toInt else 4096
          catalyst.ThetaHashAggregate(asLong(es.head), k).toAggregateExpression()
        }),
      "graft_theta_union_agg" -> (
        "(sketch[, k]) - union of theta sketches",
        (es: Seq[Expression]) => {
          val k = if (es.length > 1) lng(es(1), "k").toInt else 4096
          catalyst.ThetaUnionAggregate(es.head, k).toAggregateExpression()
        }),
      "graft_tuple_agg_hash" -> (
        "(hash64, weight[, k]) - tuple sketch (theta + additive summary)",
        (es: Seq[Expression]) => {
          val k = if (es.length > 2) lng(es(2), "k").toInt else 4096
          catalyst.TupleHashAggregate(asLong(es.head), asLong(es(1)), k)
            .toAggregateExpression()
        }),
      "graft_tuple_agg_tokens" -> (
        "(tokens[, k]) - tuple sketch, weight 1 per token occurrence",
        (es: Seq[Expression]) => {
          val k = if (es.length > 1) lng(es(1), "k").toInt else 4096
          catalyst.TupleTokensAggregate(asIntArray(es.head), k).toAggregateExpression()
        }),
      "graft_tuple_union_agg" -> (
        "(sketch[, k]) - union of tuple sketches (equal keys sum)",
        (es: Seq[Expression]) => {
          val k = if (es.length > 1) lng(es(1), "k").toInt else 4096
          catalyst.TupleUnionAggregate(es.head, k).toAggregateExpression()
        }),
      "graft_freq_agg_tokens" -> (
        "(tokens[, k]) - Misra-Gries frequent-items sketch over raw " +
          "token ids; deterministic bounds, <= k entries",
        (es: Seq[Expression]) => {
          val k = if (es.length > 1) lng(es(1), "k").toInt else 1024
          catalyst.FreqTokensAggregate(asIntArray(es.head), k).toAggregateExpression()
        }),
      "graft_freq_agg_str" -> (
        "(item[, k]) - Misra-Gries frequent-items sketch over strings",
        (es: Seq[Expression]) => {
          val k = if (es.length > 1) lng(es(1), "k").toInt else 1024
          catalyst.FreqStrAggregate(asString(es.head), k)
            .toAggregateExpression()
        }),
      "graft_freq_union_agg" -> (
        "(sketch[, k, stringItems]) - merge of freq sketches",
        (es: Seq[Expression]) => {
          val k = if (es.length > 1) lng(es(1), "k").toInt else 1024
          val str = es.length > 2 && lng(es(2), "stringItems") != 0
          catalyst.FreqUnionAggregate(es.head, k, str).toAggregateExpression()
        }),
      "graft_tdigest_agg" -> (
        "(value[, compression]) - t-digest sketch",
        (es: Seq[Expression]) => {
          val c = if (es.length > 1) dbl(es(1), "compression") else 100.0
          catalyst.TDigestAggregate(asDouble(es.head), c).toAggregateExpression()
        }),
      "graft_kll_agg" -> (
        "(value[, k]) - KLL quantile sketch",
        (es: Seq[Expression]) => {
          val k = if (es.length > 1) lng(es(1), "k").toInt else 200
          catalyst.KllAggregate(asDouble(es.head), k).toAggregateExpression()
        }),
      "graft_sketch_panel_agg" -> (
        "(tokens, capacity, fpr[, p, depth, width]) - fused " +
          "struct(bloom, hll, cms) in one pass",
        (es: Seq[Expression]) => {
          val (nbits, k) = BloomConfig.optimize(
            lng(es(1), "capacity"), dbl(es(2), "fpr"))
          val p = if (es.length > 3) lng(es(3), "p").toInt else 14
          val d = if (es.length > 4) lng(es(4), "depth").toInt else 5
          val w = if (es.length > 5) lng(es(5), "width").toInt else 65536
          catalyst.SketchPanelAggregate(asIntArray(es.head), nbits, k, p, d, w)
            .toAggregateExpression()
        }),
      "graft_topk_by_score" -> (
        "(score, id, k) - per-group top-k array<struct<id,score>>, " +
          "partial (map-side) top-k instead of a window",
        (es: Seq[Expression]) => {
          catalyst.TopKByScoreAggregate(asDouble(es.head), asLong(es(1)),
            lng(es(2), "k").toInt).toAggregateExpression()
        }))

  /** name -> (usage, builder) for the native scalar expressions (codegen,
    * no UDF dispatch — the SQL lift of graft.functions.expressions).
    */
  val scalarBuilders: Map[String, (String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{LongType, StringType}
    Map(
      "graft_tokenize" -> (
        "(text) - deterministic token ids, array<int>",
        (es: Seq[Expression]) =>
          expressions.Tokenize(Cast(es.head, StringType))),
      "graft_token_hash" -> (
        "(token_id) - splitmix64 of an int token",
        (es: Seq[Expression]) => expressions.TokenHash64(
          Cast(es.head, org.apache.spark.sql.types.IntegerType))),
      "graft_fnv64" -> (
        "(str) - 64-bit FNV-1a",
        (es: Seq[Expression]) =>
          expressions.Fnv1a64(Cast(es.head, StringType))),
      "graft_minhash_signature" -> (
        "(tokens[, numPerms]) - MinHash signature, array<long>",
        (es: Seq[Expression]) => expressions.MinhashSignature(
          asIntArray(es.head),
          if (es.length > 1) lng(es(1), "numPerms").toInt else 128)),
      "graft_minhash_bands" -> (
        "(sig, numBands, rowsPerBand) - LSH band keys, array<long>",
        (es: Seq[Expression]) => expressions.MinhashBands(es.head,
          lng(es(1), "numBands").toInt, lng(es(2), "rowsPerBand").toInt)),
      "graft_simhash" -> (
        "(tokens) - 64-bit SimHash fingerprint",
        (es: Seq[Expression]) =>
          expressions.Simhash64(asIntArray(es.head))),
      "graft_simhash_buckets" -> (
        "(fp, maxHamming) - two-level pigeonhole bucket keys, array<long>",
        (es: Seq[Expression]) => expressions.SimhashBuckets(
          Cast(es.head, LongType), lng(es(1), "maxHamming").toInt)),
      "graft_hamming64" -> (
        "(a, b) - Hamming distance of two int64 fingerprints",
        (es: Seq[Expression]) => expressions.Hamming64(
          Cast(es.head, LongType), Cast(es(1), LongType))),
      "graft_cosine_sim" -> (
        "(a, b) - cosine similarity of two array<float>",
        (es: Seq[Expression]) =>
          expressions.CosineSim(asFloatArray(es.head), asFloatArray(es(1)))),
      "graft_token_shingles" -> (
        "(tokens, n) - rolling n-gram shingle hashes, array<long>",
        (es: Seq[Expression]) => expressions.TokenShingles(
          asIntArray(es.head), lng(es(1), "n").toInt)),
      "graft_lang_id" -> (
        "(text) - heuristic language id",
        (es: Seq[Expression]) =>
          expressions.LangId(Cast(es.head, StringType))),
      "graft_canonical_url" -> (
        "(url) - canonical URL form (dedup key): fragment/tracking-" +
          "param/default-port/www/trailing-slash normalization",
        (es: Seq[Expression]) =>
          expressions.CanonicalUrl(Cast(es.head, StringType))),
      "graft_rolling_fp" -> (
        "(text) - Karp-Rabin rolling-window fingerprint",
        (es: Seq[Expression]) =>
          expressions.RollingFingerprint(Cast(es.head, StringType))),
      "graft_lsh_band_keys" -> (
        "(emb, numBands, bitsPerBand, dim) - hyperplane band keys",
        (es: Seq[Expression]) => expressions.LshBandKeys(asFloatArray(es.head),
          lng(es(1), "numBands").toInt, lng(es(2), "bitsPerBand").toInt,
          lng(es(3), "dim").toInt)),
      "graft_word_ngrams" -> (
        "(text, n) - distinct word n-grams, array<string>",
        (es: Seq[Expression]) => expressions.WordNgrams(
          Cast(es.head, StringType), lng(es(1), "n").toInt)),
      "graft_word_ngrams_all" -> (
        "(text, n) - ALL word n-grams in position order, duplicates " +
          "kept (LM occurrence stream), array<string>",
        (es: Seq[Expression]) => expressions.WordNgramsAll(
          Cast(es.head, StringType), lng(es(1), "n").toInt)),
      "graft_seg_token_count" -> (
        "(text) - BPE-style pre-tokenizer token count (alnum runs + " +
          "one per other non-space char), long",
        (es: Seq[Expression]) => expressions.SegTokenCount(
          Cast(es.head, StringType))),
      "graft_gopher_signals" -> (
        "(text) - Gopher quality raw signals, array<long> of 9: " +
          "[n_words, sum_word_codepoints, n_alpha_words, n_stopwords, " +
          "n_lines, n_bullet_lines, n_ellipsis_lines, n_hash_chars, " +
          "n_ellipsis_occurrences]",
        (es: Seq[Expression]) => expressions.GopherSignals(
          Cast(es.head, StringType))),
      "graft_gram_hashes" -> (
        "(text, n) - position-ordered rolling word-n-gram hashes, " +
          "array<long> (duplicate-span seeds)",
        (es: Seq[Expression]) => expressions.GramHashes(
          Cast(es.head, StringType), lng(es(1), "n").toInt)),
      "graft_gram_at" -> (
        "(text, pos, n) - the word n-gram at word index pos, string " +
          "(span-candidate verifier; null out of range)",
        (es: Seq[Expression]) => expressions.GramAt(
          Cast(es.head, StringType),
          Cast(es(1), org.apache.spark.sql.types.IntegerType),
          lng(es(2), "n").toInt)))
  }

  /** name -> (usage, builder) for the sketch accessors: each is the
    * `functions` udf val itself, lifted into a SQL builder. Same
    * contract as the Column form — every call deserializes its sketch
    * argument per ROW, so use them on already-aggregated results (one
    * sketch row per group), never on corpus-sized frames.
    */
  val udfBuilders: Map[String, (String, Seq[Expression] => Expression)] = {
    val F = functions
    Seq(
      "graft_bloom_might_contain" -> (
        "(dump, hash64) - membership test of a dumped Bloom filter",
        F.bloom_might_contain),
      "graft_bloom_cardinality" -> (
        "(dump) - cardinality estimate of a dumped Bloom filter; null " +
          "when saturated", F.bloom_cardinality),
      "graft_bloom_fprate" -> (
        "(dump, nkeys) - modeled false-positive rate after nkeys inserts",
        F.bloom_fprate),
      "graft_hll_estimate" -> (
        "(sketch) - HyperLogLog distinct estimate", F.hll_estimate),
      "graft_cms_estimate" -> (
        "(sketch, hash64) - count-min frequency estimate", F.cms_estimate),
      "graft_theta_estimate" -> (
        "(sketch) - theta distinct estimate", F.theta_estimate),
      "graft_theta_intersect" -> (
        "(a, b) - theta sketch of the intersection", F.theta_intersect),
      "graft_theta_a_not_b" -> (
        "(a, b) - theta sketch of a minus b", F.theta_a_not_b),
      "graft_tuple_estimate" -> (
        "(sketch) - tuple-sketch distinct-key estimate", F.tuple_estimate),
      "graft_tuple_sum_estimate" -> (
        "(sketch) - tuple-sketch total-weight estimate",
        F.tuple_sum_estimate),
      "graft_tuple_intersect" -> (
        "(a, b) - tuple sketch of the shared keys, summaries summed",
        F.tuple_intersect),
      "graft_tuple_a_not_b" -> (
        "(a, b) - tuple sketch of a's keys absent from b, a's summaries",
        F.tuple_a_not_b),
      "graft_freq_entries" -> (
        "(sketch) - array<struct<item, lower bound, upper bound>>",
        F.freq_entries),
      "graft_freq_lower_bound" -> (
        "(sketch, item) - lower bound on the item's weight (0 if absent)",
        F.freq_lower_bound),
      "graft_freq_max_error" -> (
        "(sketch) - max error of every freq-sketch bound", F.freq_max_error),
      "graft_tdigest_quantile" -> (
        "(sketch, q) - t-digest quantile", F.tdigest_quantile),
      "graft_kll_quantile" -> (
        "(sketch, q) - KLL quantile", F.kll_quantile),
      "graft_minhash_jaccard" -> (
        "(sigA, sigB) - MinHash Jaccard estimate", F.minhash_jaccard)
    ).map { case (name, (usage, u)) =>
      val named = u.withName(name)
      name -> (usage, (es: Seq[Expression]) => glue.udfExpression(named, es))
    }.toMap
  }

  /** Every graft_* SQL function as (id, info, builder): the one table
    * behind both entry points, so they cannot drift apart.
    */
  private[functions] def all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    (aggregateBuilders ++ scalarBuilders ++ udfBuilders).toSeq.map {
      case (name, (usage, builder)) =>
        // DESCRIBE FUNCTION <name> shows the usage string
        (FunctionIdentifier(name),
          new ExpressionInfo("graft", null, name, "_FUNC_" + usage, ""),
          builder)
    }

  /** Runtime registration of every graft_* function into a live session
    * (the same set GraftExtensions injects at session build).
    */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }
}

/** spark.sql.extensions entry point: SQL functions plus the runtime
  * Bloom semi-join pruning rule (conf-gated,
  * spark.graft.runtimeFilter.enabled).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    sql.all.foreach(e.injectFunction)
    e.injectOptimizerRule(graft.plans.GraftRuntimeFilter(_))
  }
}
