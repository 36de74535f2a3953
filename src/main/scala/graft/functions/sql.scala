package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftglue.glue
import graft.core._

/** SQL surface: every sketch operator callable from `spark.sql(...)`.
  *
  * One table of graft_* functions in three parts — aggregates, native
  * scalar kernels (the [[expressions.Kernel]] ops) and sketch accessors
  * (the [[catalyst.Accessor]] ops) — each with its usage string and each
  * built from its Column form, and two entry points that register all
  * of it:
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

  /** name -> (usage, builder) for the native scalar kernels: `sqlName`
    * per [[expressions.Kernel]] op, the op's Column form over its column
    * arguments, then its int literals (a literal with a default may be
    * left out).
    */
  val scalarBuilders: Map[String, (String, Builder)] =
    expressions.Kernel.all.map { op =>
      val cols = op.inputs.length
      val most = cols + op.literals.length
      val least = most - op.literals.count(_.default.nonEmpty)
      fn(op.sqlName, op.usage) { a => {
        case n if n >= least && n <= most =>
          val literals = op.literals.zipWithIndex.map { case (l, i) =>
            if (cols + i < n) a.int(cols + i, l.name) else l.default.get }
          op((0 until cols).map(a.col): _*)(literals: _*)
      }}
    }.toMap

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
