package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
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

  private type Builder = Seq[Expression] => Expression

  /** The arguments of one graft_* call. Every parse failure names the
    * function, the argument count and the usage string.
    */
  private final class Args(name: String, usage: String, es: Seq[Expression]) {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"$name: $why (${es.length} arguments given); usage: $name$usage")
    def col(i: Int): Column = glue.columnOf(es(i))
    private def literal(i: Int, what: String): Any =
      if (es(i).foldable) es(i).eval() else fail(s"$what must be a literal")
    def lng(i: Int, what: String): Long = literal(i, what) match {
      case n: Number => n.longValue()
      case other => fail(s"$what must be numeric, got $other")
    }
    def int(i: Int, what: String): Int = {
      val v = lng(i, what)
      if (v.isValidInt) v.toInt else fail(s"$what = $v is out of int range")
    }
    def dbl(i: Int, what: String): Double = literal(i, what) match {
      case n: Number => n.doubleValue()
      case d: Decimal => d.toDouble
      case other => fail(s"$what must be numeric, got $other")
    }
    def bool(i: Int, what: String): Boolean = literal(i, what) match {
      case b: java.lang.Boolean => b
      case n: Number => n.longValue() != 0
      case other => fail(s"$what must be a boolean, got $other")
    }
  }
  private type Decimal = org.apache.spark.sql.types.Decimal

  /** A graft_* SQL function. `body` calls the function's Column builder,
    * so the Column form's casts and defaults are the only ones, and is
    * defined at the argument counts the function takes — the one arity
    * check.
    */
  private def fn(name: String, usage: String)(
      body: Args => PartialFunction[Int, Column]): (String, (String, Builder)) =
    name -> (usage, (es: Seq[Expression]) => {
      val a = new Args(name, usage, es)
      glue.convertedExpressionOf(body(a).applyOrElse(es.length,
        (_: Int) => a.fail("wrong number of arguments")))
    })

  private val F = functions
  private val E = expressions

  /** name -> (usage, builder) for the aggregate expressions. */
  val aggregateBuilders: Map[String, (String, Builder)] = Map(
    fn("graft_bloom_agg_tokens",
       "(tokens, capacity, fpr[, maxBits]) - blocked Bloom filter dump") { a => {
      case 3 => F.bloom_agg_tokens(a.col(0), a.lng(1, "capacity"), a.dbl(2, "fpr"))
      case 4 => F.bloom_agg_tokens(a.col(0), a.lng(1, "capacity"), a.dbl(2, "fpr"),
        a.lng(3, "maxBits"))
    }},
    fn("graft_bloom_agg_hash",
       "(hash64, capacity, fpr[, maxBits]) - blocked Bloom filter dump") { a => {
      case 3 => F.bloom_agg_hash(a.col(0), a.lng(1, "capacity"), a.dbl(2, "fpr"))
      case 4 => F.bloom_agg_hash(a.col(0), a.lng(1, "capacity"), a.dbl(2, "fpr"),
        a.lng(3, "maxBits"))
    }},
    fn("graft_bloom_union_agg",
       "(dump, capacity, fpr) - union of Bloom dumps") { a => {
      // the Column form takes the geometry the capacity and fpr map to
      case 3 =>
        val (nbits, k) =
          BloomConfig.optimize(a.lng(1, "capacity"), a.dbl(2, "fpr"))
        F.bloom_union_agg(a.col(0), nbits, k)
    }},
    fn("graft_hll_agg_tokens", "(tokens[, p]) - HyperLogLog sketch") { a => {
      case 1 => F.hll_agg_tokens(a.col(0))
      case 2 => F.hll_agg_tokens(a.col(0), a.int(1, "p"))
    }},
    fn("graft_hll_agg_hash", "(hash64[, p]) - HyperLogLog sketch") { a => {
      case 1 => F.hll_agg_hash(a.col(0))
      case 2 => F.hll_agg_hash(a.col(0), a.int(1, "p"))
    }},
    fn("graft_hll_union_agg",
       "(sketch[, p]) - union of HyperLogLog sketches (register max)") { a => {
      case 1 => F.hll_union_agg(a.col(0))
      case 2 => F.hll_union_agg(a.col(0), a.int(1, "p"))
    }},
    fn("graft_cms_agg_tokens", "(tokens[, depth, width]) - count-min sketch") { a => {
      case 1 => F.cms_agg_tokens(a.col(0))
      case 2 => F.cms_agg_tokens(a.col(0), a.int(1, "depth"))
      case 3 => F.cms_agg_tokens(a.col(0), a.int(1, "depth"), a.int(2, "width"))
    }},
    fn("graft_cms_agg_hash", "(hash64[, depth, width]) - count-min sketch") { a => {
      case 1 => F.cms_agg_hash(a.col(0))
      case 2 => F.cms_agg_hash(a.col(0), a.int(1, "depth"))
      case 3 => F.cms_agg_hash(a.col(0), a.int(1, "depth"), a.int(2, "width"))
    }},
    fn("graft_cms_union_agg",
       "(sketch[, depth, width]) - union of count-min sketches (counters add)") { a => {
      case 1 => F.cms_union_agg(a.col(0))
      case 2 => F.cms_union_agg(a.col(0), a.int(1, "depth"))
      case 3 => F.cms_union_agg(a.col(0), a.int(1, "depth"), a.int(2, "width"))
    }},
    fn("graft_theta_agg_tokens",
       "(tokens[, k]) - theta (KMV) distinct sketch; intersectable") { a => {
      case 1 => F.theta_agg_tokens(a.col(0))
      case 2 => F.theta_agg_tokens(a.col(0), a.int(1, "k"))
    }},
    fn("graft_theta_agg_hash",
       "(hash64[, k]) - theta (KMV) distinct sketch; intersectable") { a => {
      case 1 => F.theta_agg_hash(a.col(0))
      case 2 => F.theta_agg_hash(a.col(0), a.int(1, "k"))
    }},
    fn("graft_theta_union_agg", "(sketch[, k]) - union of theta sketches") { a => {
      case 1 => F.theta_union_agg(a.col(0))
      case 2 => F.theta_union_agg(a.col(0), a.int(1, "k"))
    }},
    fn("graft_tuple_agg_hash",
       "(hash64, weight[, k]) - tuple sketch (theta + additive summary)") { a => {
      case 2 => F.tuple_agg_hash(a.col(0), a.col(1))
      case 3 => F.tuple_agg_hash(a.col(0), a.col(1), a.int(2, "k"))
    }},
    fn("graft_tuple_agg_tokens",
       "(tokens[, k]) - tuple sketch, weight 1 per token occurrence") { a => {
      case 1 => F.tuple_agg_tokens(a.col(0))
      case 2 => F.tuple_agg_tokens(a.col(0), a.int(1, "k"))
    }},
    fn("graft_tuple_union_agg",
       "(sketch[, k]) - union of tuple sketches (equal keys sum)") { a => {
      case 1 => F.tuple_union_agg(a.col(0))
      case 2 => F.tuple_union_agg(a.col(0), a.int(1, "k"))
    }},
    fn("graft_freq_agg_tokens",
       "(tokens[, k]) - Misra-Gries frequent-items sketch over raw " +
         "token ids; deterministic bounds, <= k entries") { a => {
      case 1 => F.freq_agg_tokens(a.col(0))
      case 2 => F.freq_agg_tokens(a.col(0), a.int(1, "k"))
    }},
    fn("graft_freq_agg_str",
       "(item[, k]) - Misra-Gries frequent-items sketch over strings") { a => {
      case 1 => F.freq_agg_str(a.col(0))
      case 2 => F.freq_agg_str(a.col(0), a.int(1, "k"))
    }},
    fn("graft_freq_union_agg",
       "(sketch[, k, stringItems]) - merge of freq sketches") { a => {
      case 1 => F.freq_union_agg(a.col(0))
      case 2 => F.freq_union_agg(a.col(0), a.int(1, "k"))
      case 3 => F.freq_union_agg(a.col(0), a.int(1, "k"),
        a.bool(2, "stringItems"))
    }},
    fn("graft_tdigest_agg", "(value[, compression]) - t-digest sketch") { a => {
      case 1 => F.tdigest_agg(a.col(0))
      case 2 => F.tdigest_agg(a.col(0), a.dbl(1, "compression"))
    }},
    fn("graft_kll_agg", "(value[, k]) - KLL quantile sketch") { a => {
      case 1 => F.kll_agg(a.col(0))
      case 2 => F.kll_agg(a.col(0), a.int(1, "k"))
    }},
    fn("graft_minhash_agg_tokens",
       "(tokens[, numPerms]) - MinHash signature of the union of the " +
         "token arrays, array<bigint>") { a => {
      case 1 => F.minhash_agg_tokens(a.col(0))
      case 2 => F.minhash_agg_tokens(a.col(0), a.int(1, "numPerms"))
    }},
    fn("graft_sketch_panel_agg",
       "(tokens, capacity, fpr[, p, depth, width]) - fused " +
         "struct(bloom, hll, cms) in one pass") { a =>
      def cap = a.lng(1, "capacity"); def fpr = a.dbl(2, "fpr")
      def p = a.int(3, "p"); def depth = a.int(4, "depth")
      val byCount: PartialFunction[Int, Column] = {
        case 3 => F.sketch_panel_agg(a.col(0), cap, fpr)
        case 4 => F.sketch_panel_agg(a.col(0), cap, fpr, p)
        case 5 => F.sketch_panel_agg(a.col(0), cap, fpr, p, depth)
        case 6 => F.sketch_panel_agg(a.col(0), cap, fpr, p, depth,
          a.int(5, "width"))
      }
      byCount
    },
    fn("graft_topk_by_score",
       "(score, id, k) - per-group top-k array<struct<id,score>>, " +
         "partial (map-side) top-k instead of a window") { a => {
      case 3 => F.topk_by_score(a.col(0), a.col(1), a.int(2, "k"))
    }})

  /** name -> (usage, builder) for the native scalar expressions (codegen,
    * no UDF dispatch — the SQL lift of the graft.functions.expressions
    * Column forms).
    */
  val scalarBuilders: Map[String, (String, Builder)] = Map(
    fn("graft_tokenize", "(text) - deterministic token ids, array<int>") { a => {
      case 1 => E.tokenize(a.col(0))
    }},
    fn("graft_token_hash", "(token_id) - splitmix64 of an int token") { a => {
      case 1 => E.token_hash64(a.col(0))
    }},
    fn("graft_fnv64", "(str) - 64-bit FNV-1a") { a => {
      case 1 => E.fnv1a64(a.col(0))
    }},
    fn("graft_minhash_signature",
       "(tokens[, numPerms]) - MinHash signature, array<long>") { a => {
      case 1 => F.minhash_signature()(a.col(0))
      case 2 => F.minhash_signature(a.int(1, "numPerms"))(a.col(0))
    }},
    fn("graft_minhash_bands",
       "(sig, numBands, rowsPerBand) - LSH band keys, array<long>") { a => {
      case 3 => E.minhash_bands(a.col(0), a.int(1, "numBands"),
        a.int(2, "rowsPerBand"))
    }},
    fn("graft_simhash", "(tokens) - 64-bit SimHash fingerprint") { a => {
      case 1 => E.simhash64(a.col(0))
    }},
    fn("graft_simhash_buckets",
       "(fp, maxHamming) - two-level pigeonhole bucket keys, array<long>") { a => {
      case 2 => E.simhash_buckets(a.col(0), a.int(1, "maxHamming"))
    }},
    fn("graft_hamming64",
       "(a, b) - Hamming distance of two int64 fingerprints") { a => {
      case 2 => E.hamming64(a.col(0), a.col(1))
    }},
    fn("graft_cosine_sim",
       "(a, b) - cosine similarity of two array<float>") { a => {
      case 2 => E.cosine_sim(a.col(0), a.col(1))
    }},
    fn("graft_token_shingles",
       "(tokens, n) - rolling n-gram shingle hashes, array<long>") { a => {
      case 2 => E.token_shingles(a.col(0), a.int(1, "n"))
    }},
    fn("graft_lang_id", "(text) - heuristic language id") { a => {
      case 1 => E.lang_id(a.col(0))
    }},
    fn("graft_canonical_url",
       "(url) - canonical URL form (dedup key): fragment/tracking-" +
         "param/default-port/www/trailing-slash normalization") { a => {
      case 1 => E.canonical_url(a.col(0))
    }},
    fn("graft_rolling_fp",
       "(text) - Karp-Rabin rolling-window fingerprint") { a => {
      case 1 => E.rolling_fingerprint(a.col(0))
    }},
    fn("graft_lsh_band_keys",
       "(emb, numBands, bitsPerBand, dim) - hyperplane band keys") { a => {
      case 4 => E.lsh_band_keys(a.col(0), a.int(1, "numBands"),
        a.int(2, "bitsPerBand"), a.int(3, "dim"))
    }},
    fn("graft_word_ngrams",
       "(text, n) - distinct word n-grams, array<string>") { a => {
      case 2 => E.word_ngrams(a.col(0), a.int(1, "n"))
    }},
    fn("graft_word_ngrams_all",
       "(text, n) - ALL word n-grams in position order, duplicates " +
         "kept (LM occurrence stream), array<string>") { a => {
      case 2 => E.word_ngrams_all(a.col(0), a.int(1, "n"))
    }},
    fn("graft_seg_token_count",
       "(text) - BPE-style pre-tokenizer token count (alnum runs + " +
         "one per other non-space char), long") { a => {
      case 1 => E.seg_token_count(a.col(0))
    }},
    fn("graft_gopher_signals",
       "(text) - Gopher quality raw signals, array<long> of 9: " +
         "[n_words, sum_word_codepoints, n_alpha_words, n_stopwords, " +
         "n_lines, n_bullet_lines, n_ellipsis_lines, n_hash_chars, " +
         "n_ellipsis_occurrences]") { a => {
      case 1 => E.gopher_signals(a.col(0))
    }},
    fn("graft_gram_hashes",
       "(text, n) - position-ordered rolling word-n-gram hashes, " +
         "array<long> (duplicate-span seeds)") { a => {
      case 2 => E.gram_hashes(a.col(0), a.int(1, "n"))
    }},
    fn("graft_gram_at",
       "(text, pos, n) - the word n-gram at word index pos, string " +
         "(span-candidate verifier; null out of range)") { a => {
      case 3 => E.gram_at(a.col(0), a.col(1), a.int(2, "n"))
    }})

  /** name -> (usage, builder) for the sketch accessors: each is the
    * `functions` udf val itself, lifted into a SQL builder, behind the
    * same argument-count check as the other builders. Same contract as
    * the Column form — every call deserializes its sketch argument per
    * ROW, so use them on already-aggregated results (one sketch row per
    * group), never on corpus-sized frames.
    */
  val udfBuilders: Map[String, (String, Builder)] = {
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
      val arity = glue.udfArity(u)
      name -> (usage, (es: Seq[Expression]) => {
        if (es.length != arity)
          new Args(name, usage, es).fail("wrong number of arguments")
        glue.udfExpression(named, es)
      })
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
