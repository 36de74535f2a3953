package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftglue.glue
import graft.core._

/** SQL surface: every sketch operator callable from `spark.sql(...)`.
  *
  * One table of graft_* functions in three parts — aggregates, native
  * scalar expressions and sketch accessors (the [[catalyst.Accessor]]
  * ops) — each with its usage string and each built from its Column
  * form, and two entry points that register all of it:
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

  /** A graft_* SQL function over `arity` column arguments. */
  private def columns(name: String, usage: String, arity: Int)(
      build: Seq[Column] => Column): (String, (String, Builder)) =
    fn(name, usage) { a => { case n if n == arity => build((0 until n).map(a.col)) } }

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
    columns("graft_tokenize", "(text) - deterministic token ids, array<int>", 1)(
      c => E.tokenize(c(0))),
    columns("graft_token_hash", "(token_id) - splitmix64 of an int token", 1)(
      c => E.token_hash64(c(0))),
    columns("graft_fnv64", "(str) - 64-bit FNV-1a", 1)(c => E.fnv1a64(c(0))),
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
    columns("graft_simhash", "(tokens) - 64-bit SimHash fingerprint", 1)(
      c => E.simhash64(c(0))),
    fn("graft_simhash_buckets",
       "(fp, maxHamming) - two-level pigeonhole bucket keys, array<long>") { a => {
      case 2 => E.simhash_buckets(a.col(0), a.int(1, "maxHamming"))
    }},
    columns("graft_hamming64",
       "(a, b) - Hamming distance of two int64 fingerprints", 2)(
      c => E.hamming64(c(0), c(1))),
    columns("graft_minhash_jaccard", "(sigA, sigB) - MinHash Jaccard estimate",
      2)(c => E.minhash_jaccard(c(0), c(1))),
    columns("graft_cosine_sim",
       "(a, b) - cosine similarity of two array<float>", 2)(
      c => E.cosine_sim(c(0), c(1))),
    fn("graft_token_shingles",
       "(tokens, n) - rolling n-gram shingle hashes, array<long>") { a => {
      case 2 => E.token_shingles(a.col(0), a.int(1, "n"))
    }},
    columns("graft_lang_id", "(text) - heuristic language id", 1)(
      c => E.lang_id(c(0))),
    columns("graft_canonical_url",
       "(url) - canonical URL form (dedup key): fragment/tracking-" +
         "param/default-port/www/trailing-slash normalization", 1)(
      c => E.canonical_url(c(0))),
    columns("graft_rolling_fp",
       "(text) - Karp-Rabin rolling-window fingerprint", 1)(
      c => E.rolling_fingerprint(c(0))),
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
    columns("graft_seg_token_count",
       "(text) - BPE-style pre-tokenizer token count (alnum runs + " +
         "one per other non-space char), long", 1)(
      c => E.seg_token_count(c(0))),
    columns("graft_gopher_signals",
       "(text) - Gopher quality raw signals, array<long> of 9: " +
         "[n_words, sum_word_codepoints, n_alpha_words, n_stopwords, " +
         "n_lines, n_bullet_lines, n_ellipsis_lines, n_hash_chars, " +
         "n_ellipsis_occurrences]", 1)(c => E.gopher_signals(c(0))),
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

  /** name -> (usage, builder) for the sketch accessors: `graft_<name>`
    * per [[catalyst.Accessor]] op, the op's Column form. Each call loads
    * its sketches per ROW: for already-aggregated results only.
    */
  val accessorBuilders: Map[String, (String, Builder)] =
    catalyst.Accessor.all.map(op =>
      columns("graft_" + op.name, op.usage, op.inputs.length)(op(_: _*))).toMap

  /** Every graft_* SQL function as (id, info, builder): the one table
    * behind both entry points, so they cannot drift apart.
    */
  private[functions] def all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    (aggregateBuilders ++ scalarBuilders ++ accessorBuilders).toSeq.map {
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
