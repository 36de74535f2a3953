package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Hashing
import graft.store.Store.BatchLog
import graft.store.{Tables => T}

/** Text-analysis operators for training-data pipelines: quality metrics,
  * token statistics, language ID, and content fingerprints.
  *
  * Quality metrics are pure column expressions (whole-stage codegen, no
  * UDF) so the scan->project pipeline stays vectorized at scale. The
  * heuristics (language ID, rolling-hash fingerprint) are deterministic
  * scalar functions — identical on any executor.
  */
object TextAnalysis {

  /** Per-document quality metrics, all codegen'd column expressions.
    * Word = maximal run of non-space characters (texts are single-space
    * separated; SQL-replicable: see SparkEntry oracle).
    */
  def qualityMetrics(docs: DataFrame): DataFrame = {
    // bind the token array once (higher-order filter/split trees are
    // not covered by codegen subexpression elimination — referencing
    // them from several output columns re-splits the text per column)
    docs
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        filter(split(col("text"), " "), w => length(w) > 0).as("__w"))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("__w")).as("n_words"),
        // whitespace-only text has n_words=0: emit null, not Infinity
        // (Spark orders NaN/Inf above every real value, so a quality
        // threshold filter would pass garbage docs)
        when(size(col("__w")) > 0,
          round(col("n_chars").cast("double") / size(col("__w")), 4))
          .as("chars_per_word"),
        size(array_distinct(col("__w"))).as("n_distinct_words"),
        round(size(col("__w")).cast("double") /
          greatest(size(array_distinct(col("__w"))), lit(1)), 4)
          .as("repetition_ratio"))
  }

  /** One-call corpus profile — the dashboard a pipeline runs before
    * touching anything: per source, exact doc/token/dup counts, the
    * exact token-count median, the HLL distinct estimate gated against
    * the exact count, and the Gopher keep rate. Three aggregations
    * (doc-level, token-level distinct, quality) joined on the tiny
    * source key — the sketch panel rides the same shuffle as the exact
    * counts, and everything else is native column expressions, so the
    * whole profile costs one pass over text plus one token explode at any
    * corpus size.
    */
  def corpusProfile(docs: DataFrame, hllP: Int = 14): DataFrame = {
    val F = graft.functions.functions
    val toks = graft.sources.TokenDocs.fromDocuments(docs)
    val base = toks.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      round(median(col("n_tok")), 2).as("p50_ntok"),
      F.hll_agg_tokens(col("tokens"), hllP).as("__hll"))
    val dist = toks.select(col("source"), explode(col("tokens")).as("t"))
      .groupBy(col("source"))
      .agg(countDistinct(col("t")).as("distinct_tokens"))
    val dups = docs.groupBy(col("source")).agg(
      (count(lit(1)) - countDistinct(md5(col("text")))).as("dup_docs"))
    // the battery CARRIES source through its projection, so the keep
    // rate aggregates straight off the scan — no corpus-sized join
    val keeps = gopherQualityFlags(docs, carry = Seq("source"))
      .groupBy(col("source"))
      .agg(round(avg(col("keep").cast("double")), 4).as("keep_rate"))
    // hll_ok is a STATISTICAL gate the SQL oracle cannot recompute (it
    // has no HLL): the oracle pins it `true`, so its width is chosen so
    // a correct implementation virtually never trips it — 6 sigma of
    // the HLL++ error (sigma = 1.04/sqrt(m)), P(trip | correct) ~ 1e-9
    // per source under the normal approximation. The TIGHT accuracy
    // assertion lives in sbt (SketchSpec / OperatorSpec pin the actual
    // relative error at 3 sigma on fixed corpora, where a red run means
    // a bug, not bad luck); this column exists so a PIPELINE sees
    // gross estimator breakage (orders of magnitude, not tail noise)
    // next to the exact count it would otherwise have to recompute.
    val bound = 6 * 1.04 / math.sqrt((1L << hllP).toDouble)
    base.join(dist, Seq("source")).join(dups, Seq("source"))
      .join(keeps, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("p50_ntok"), col("distinct_tokens"),
        (abs(F.hll_estimate(col("__hll")) / col("distinct_tokens") - 1)
          < lit(bound)).as("hll_ok"),
        col("dup_docs"), col("keep_rate"))
  }

  /** Cross-source n-gram overlap matrix — which sources share content
    * (mirrors, syndication, cross-source boilerplate). HLL cannot
    * answer this (no intersection); the theta sketch
    * (core/ThetaSketch.scala) can: one sketch per source, pairwise
    * `intersect` on the tiny per-source frame.
    *
    * Production shape (`withExact = false`): ONE n-gram explode ->
    * per-source theta aggregation (the sketch dedups internally, so no
    * distinct shuffle) -> pairwise estimates over the sources-sized
    * frame. Cost at any corpus size: one explode + one k-sized-row
    * shuffle; the quadratic distinct-gram self-join never happens.
    *
    * Audit shape (`withExact = true`, what q65 checks): additionally
    * computes the EXACT per-source and pairwise-common distinct-gram
    * counts (distinct + gram-keyed self-join — the expensive query the
    * sketch path replaces) and gates the sketch against them:
    * `theta_ok` = marginals within 6 sigma of the KMV RSE and the
    * intersection within 6 sigma of the framework error
    * sqrt(|U|/|I|)/sqrt(k). Like q46's `hll_ok`, the gate is
    * statistical — the SQL oracle pins it true and the width makes a
    * correct implementation trip with probability ~1e-9 per pair; the
    * tight error assertions live in ThetaSketchSpec.
    */
  def sourceOverlapMatrix(docs: DataFrame, n: Int = 3, thetaK: Int = 4096,
                          withExact: Boolean = true): DataFrame = {
    val F = graft.functions.functions
    val E = graft.functions.expressions
    val grams = docs.select(col("source"),
      explode(E.word_ngrams(col("text"), n)).as("g"))
    if (!withExact) {
      pairwiseEstimates(grams.groupBy(col("source"))
        .agg(F.theta_agg_hash(xxhash64(col("g")), thetaK).as("sketch")))
    } else {
      val dg = grams.distinct().localCheckpoint(true)
      val perSource = dg.groupBy(col("source")).agg(
        count(lit(1)).as("exact"),
        F.theta_agg_hash(xxhash64(col("g")), thetaK).as("__sk"))
      val xa = dg.select(col("source").as("source_a"), col("g"))
      val xb = dg.select(col("source").as("source_b"), col("g"))
      // shuffle_hash: both sides are the checkpointed distinct-gram
      // frame — hash-building one side per partition skips the two
      // corpus-vocabulary-sized sorts a sort-merge join would pay
      val common = xa.join(xb.hint("shuffle_hash"), "g")
        .where(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("exact_common"))
      val pa = perSource.select(col("source").as("source_a"),
        col("exact").as("exact_a"), col("__sk").as("__ska"))
      val pb = perSource.select(col("source").as("source_b"),
        col("exact").as("exact_b"), col("__sk").as("__skb"))
      val marginSigma = 6.0 / math.sqrt((thetaK - 1).toDouble)
      pa.join(pb, col("source_a") < col("source_b"))
        .join(common, Seq("source_a", "source_b"), "left")
        .withColumn("exact_common", coalesce(col("exact_common"), lit(0L)))
        .withColumn("__union",
          col("exact_a") + col("exact_b") - col("exact_common"))
        .withColumn("__estc",
          F.theta_estimate(F.theta_intersect(col("__ska"), col("__skb"))))
        .select(col("source_a"), col("source_b"),
          col("exact_a"), col("exact_b"), col("exact_common"),
          round(col("exact_common").cast("double") / col("__union"), 4)
            .as("jaccard"),
          ((abs(F.theta_estimate(col("__ska")) / col("exact_a") - 1) < marginSigma) &&
            (abs(F.theta_estimate(col("__skb")) / col("exact_b") - 1) < marginSigma) &&
            (abs(col("__estc") - col("exact_common")) <=
              lit(6.0 / math.sqrt(thetaK.toDouble)) *
                sqrt(col("__union") * greatest(col("exact_common"), lit(1L)))))
            .as("theta_ok"))
    }
  }

  /** Cross-source token-MASS overlap — the tuple-sketch twin of
    * [[sourceOverlapMatrix]]. The theta matrix answers "how many
    * distinct n-grams do two sources share"; this answers "how much
    * token mass (occurrence count) does that shared vocabulary carry"
    * — the quantity that decides whether overlap is a handful of
    * boilerplate grams repeated everywhere or a broad shallow overlap,
    * without materializing the per-gram join at corpus scale.
    *
    * Per source, one tuple sketch keyed by n-gram hash with weight 1
    * per occurrence (so retained summaries are exact per-gram
    * occurrence counts over the sampled key region). Pairwise:
    * shared mass = HT sum over the intersection (summaries summed
    * across both sides = "occurrences in either source of grams common
    * to both"); novel mass = HT sum over A-not-B (A's occurrences of
    * grams B lacks).
    *
    * Production form (`withExact = false`): sources x k samples is the
    * ONLY state after one corpus pass — the pair matrix costs
    * milliseconds at any corpus size. Verification form adds exact
    * recomputation (the per-gram pair join the sketch exists to avoid)
    * plus per-estimate gates from the Horvitz–Thompson variance
    * bound: Var(HT sum) = sum(w_i^2)(1-p)/p <= sum(w_i^2) * U/k, all
    * factors exact-computable, gate at 6 sigma (q65's oracle-pins-true
    * pattern, but with the bound derived from the published estimator
    * variance rather than a tuned width).
    */
  def tokenMassOverlap(docs: DataFrame, n: Int = 3, tupleK: Int = 4096,
                       withExact: Boolean = true): DataFrame = {
    val F = graft.functions.functions
    val E = graft.functions.expressions
    // multiplicity form: mass counts every occurrence, so the distinct
    // per-doc gram form (word_ngrams) would undercount repeated grams
    val grams = docs.select(col("source"),
      explode(E.word_ngrams_all(col("text"), n)).as("g"))
    if (!withExact) {
      // one pass, one source-keyed aggregation of k-bounded buffers
      val sk0 = grams.groupBy(col("source"))
        .agg(F.tuple_agg_hash(xxhash64(col("g")), lit(1L), tupleK).as("sketch"))
      // sources-sized frame materialized ONCE before the pair self-join
      // (the b15 lesson — a lazy plan scans the corpus twice)
      val sk = sk0.localCheckpoint(true)
      val a = sk.select(col("source").as("source_a"), col("sketch").as("__ska"))
      val b = sk.select(col("source").as("source_b"), col("sketch").as("__skb"))
      a.join(b, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          round(F.tuple_sum_estimate(col("__ska"))).cast("long").as("est_mass_a"),
          round(F.tuple_sum_estimate(col("__skb"))).cast("long").as("est_mass_b"),
          round(F.tuple_sum_estimate(
            F.tuple_intersect(col("__ska"), col("__skb"))))
            .cast("long").as("est_shared_mass"),
          round(F.tuple_sum_estimate(
            F.tuple_a_not_b(col("__ska"), col("__skb"))))
            .cast("long").as("est_novel_mass_a"),
          round(F.tuple_sum_estimate(
            F.tuple_a_not_b(col("__skb"), col("__ska"))))
            .cast("long").as("est_novel_mass_b"))
    } else {
      // exact per-source per-gram occurrence counts: the sketch build
      // rides this pre-aggregated frame (additive weights make the two
      // builds equivalent), and the exact columns + variance factors
      // come off it
      val pg = grams.groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("cnt")).localCheckpoint(true)
      val per = pg.groupBy(col("source")).agg(
        sum(col("cnt")).as("mass"),
        count(lit(1)).as("u"),
        sum(col("cnt") * col("cnt")).as("w2"),
        F.tuple_agg_hash(xxhash64(col("g")), col("cnt"), tupleK).as("__sk"))
      val xa = pg.select(col("source").as("source_a"), col("g"),
        col("cnt").as("cnt_a"))
      val xb = pg.select(col("source").as("source_b"), col("g"),
        col("cnt").as("cnt_b"))
      // shuffle_hash, as in the q65 exact side: no gram-keyed sorts
      val com = xa.join(xb.hint("shuffle_hash"), "g")
        .where(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("u_common"),
          sum(col("cnt_a")).as("shared_a"),
          sum(col("cnt_b")).as("shared_b"),
          sum((col("cnt_a") + col("cnt_b")) * (col("cnt_a") + col("cnt_b")))
            .as("w2_shared"),
          sum(col("cnt_a") * col("cnt_a")).as("w2a_common"),
          sum(col("cnt_b") * col("cnt_b")).as("w2b_common"))
      val pa = per.select(col("source").as("source_a"), col("mass").as("mass_a"),
        col("u").as("u_a"), col("w2").as("w2_a"), col("__sk").as("__ska"))
      val pb = per.select(col("source").as("source_b"), col("mass").as("mass_b"),
        col("u").as("u_b"), col("w2").as("w2_b"), col("__sk").as("__skb"))
      // 6-sigma HT bound: sd <= sqrt(w2 * U / k); U for set-op results
      // is the pair union (min-theta sampling region)
      def bound(w2: Column, u: Column): Column =
        lit(6.0) * sqrt(w2.cast("double") * u.cast("double") / tupleK)
      pa.join(pb, col("source_a") < col("source_b"))
        .join(com, Seq("source_a", "source_b"), "left")
        .withColumn("u_common", coalesce(col("u_common"), lit(0L)))
        .withColumn("shared_a", coalesce(col("shared_a"), lit(0L)))
        .withColumn("shared_b", coalesce(col("shared_b"), lit(0L)))
        .withColumn("w2_shared", coalesce(col("w2_shared"), lit(0L)))
        .withColumn("w2a_common", coalesce(col("w2a_common"), lit(0L)))
        .withColumn("w2b_common", coalesce(col("w2b_common"), lit(0L)))
        .withColumn("__uu", col("u_a") + col("u_b") - col("u_common"))
        .select(col("source_a"), col("source_b"),
          col("mass_a"), col("mass_b"),
          (col("shared_a") + col("shared_b")).as("shared_mass"),
          (col("mass_a") - col("shared_a")).as("novel_mass_a"),
          (col("mass_b") - col("shared_b")).as("novel_mass_b"),
          round((col("shared_a") + col("shared_b")).cast("double") /
            (col("mass_a") + col("mass_b")), 4).as("shared_frac"),
          ((abs(F.tuple_sum_estimate(col("__ska")) - col("mass_a")) <=
            bound(col("w2_a"), col("u_a"))) &&
            (abs(F.tuple_sum_estimate(col("__skb")) - col("mass_b")) <=
              bound(col("w2_b"), col("u_b"))) &&
            (abs(F.tuple_sum_estimate(
              F.tuple_intersect(col("__ska"), col("__skb"))) -
              (col("shared_a") + col("shared_b"))) <=
              bound(col("w2_shared"), col("__uu"))) &&
            (abs(F.tuple_sum_estimate(
              F.tuple_a_not_b(col("__ska"), col("__skb"))) -
              (col("mass_a") - col("shared_a"))) <=
              bound(col("w2_a") - col("w2a_common"), col("__uu"))) &&
            (abs(F.tuple_sum_estimate(
              F.tuple_a_not_b(col("__skb"), col("__ska"))) -
              (col("mass_b") - col("shared_b"))) <=
              bound(col("w2_b") - col("w2b_common"), col("__uu"))))
            .as("tuple_ok"))
    }
  }

  /** Vocabulary growth curve (Heaps' law): at each id-prefix checkpoint
    * c, the number of docs / n-gram occurrences / DISTINCT n-grams seen
    * among docs with doc_id < c — the curve a tokenizer/vocab plan is
    * sized from (V(n) ~ K*n^beta; a corpus whose curve has flattened
    * gains little new vocabulary from more data, one still growing
    * does).
    *
    * Checkpoints are id-prefix thresholds, NOT global row ranks: a
    * global rank would need a total sort at corpus scale, while
    * `doc_id < c` is a per-row predicate (and equals "first c docs"
    * exactly when ids are dense from 0, the engine's id convention).
    *
    * Plan shape: one explode + one gram-keyed aggregation for the
    * first-occurrence id (the unavoidable vocab-sized shuffle), a
    * when-chain bucket per gram (no checkpoint crossjoin — the
    * vocab-sized frame is touched ONCE however many checkpoints), then
    * cumulative sums over the checkpoints-sized frame (the one
    * single-partition window, |checkpoints| rows by construction).
    */
  def vocabGrowth(docs: DataFrame, checkpoints: Seq[Long],
                  n: Int = 1): DataFrame = {
    require(checkpoints.nonEmpty, "vocabGrowth needs at least one checkpoint")
    require(checkpoints == checkpoints.sorted.distinct,
      s"checkpoints must be strictly increasing, got $checkpoints")
    val E = graft.functions.expressions
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    // smallest checkpoint covering an id: ascending when-chain; ids at
    // or past the last checkpoint fall out (counted by no checkpoint)
    def bucketOf(id: Column): Column =
      checkpoints.tail.foldLeft(when(id < checkpoints.head, lit(checkpoints.head))) {
        (acc, c) => acc.when(id < c, lit(c))
      }
    val grams = docs.select(col("doc_id"),
      explode(E.word_ngrams_all(col("text"), n)).as("g"))
    val newVocab = grams.groupBy(col("g")).agg(min(col("doc_id")).as("fid"))
      .select(bucketOf(col("fid")).as("checkpoint"))
      .where(col("checkpoint").isNotNull)
      .groupBy(col("checkpoint")).agg(count(lit(1)).as("__nv"))
    val docStats = docs.select(col("doc_id"),
        size(E.word_ngrams_all(col("text"), n)).as("__nw"))
      .select(bucketOf(col("doc_id")).as("checkpoint"), col("__nw"))
      .where(col("checkpoint").isNotNull)
      .groupBy(col("checkpoint"))
      .agg(count(lit(1)).as("__nd"), sum(col("__nw")).as("__ng"))
    val cps = spark.createDataFrame(checkpoints.map(Tuple1(_)))
      .toDF("checkpoint")
    val w = Window.orderBy(col("checkpoint"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cps.join(newVocab, Seq("checkpoint"), "left")
      .join(docStats, Seq("checkpoint"), "left")
      .select(col("checkpoint"),
        sum(coalesce(col("__nd"), lit(0L))).over(w).as("n_docs"),
        sum(coalesce(col("__ng"), lit(0L))).over(w).as("n_grams"),
        sum(coalesce(col("__nv"), lit(0L))).over(w).as("vocab"))
  }

  /** Pairwise overlap estimates over a (source, sketch) frame — the
    * shared tail of [[sourceOverlapMatrix]]'s production form and
    * [[overlapMatrixVsSketches]].
    */
  private def pairwiseEstimates(sk0: DataFrame): DataFrame = {
    val F = graft.functions.functions
    // materialize the sources-sized sketch frame ONCE before the pair
    // self-join — a lazy plan would duplicate the aggregation subtree
    // on both sides and scan the corpus twice (the b15 lesson); the
    // checkpointed frame is sources x k samples, a few MB at any scale
    val sk = sk0.localCheckpoint(true)
    val a = sk.select(col("source").as("source_a"), col("sketch").as("__ska"))
    val b = sk.select(col("source").as("source_b"), col("sketch").as("__skb"))
    a.join(b, col("source_a") < col("source_b"))
      .withColumn("__common",
        F.theta_estimate(F.theta_intersect(col("__ska"), col("__skb"))))
      .select(col("source_a"), col("source_b"),
        round(F.theta_estimate(col("__ska"))).cast("long").as("est_a"),
        round(F.theta_estimate(col("__skb"))).cast("long").as("est_b"),
        round(col("__common")).cast("long").as("est_common"),
        round(col("__common") /
          (F.theta_estimate(col("__ska")) + F.theta_estimate(col("__skb"))
            - col("__common")), 4).as("est_jaccard"))
  }

  /** The cross-source overlap matrix read STRAIGHT off a persisted
    * sketch index ([[writeOverlapSketches]]) — zero corpus scan: the
    * sources-sized sketches table is the entire input, so the matrix
    * of a 100-TB corpus costs milliseconds once the index exists (and
    * stays current through [[appendToOverlapSketches]]).
    */
  def overlapMatrixVsSketches(spark: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    pairwiseEstimates(committedSketches(spark, dir)
      .select(col("source"), col("sketch")))

  /** Per-source n-gram theta sketches for a document frame — the
    * shared build step of [[sourceOverlapMatrix]] and the persisted
    * overlap index: one explode, one source-keyed aggregation of
    * k-bounded buffers.
    */
  private def perSourceSketches(docs: DataFrame, n: Int,
                                thetaK: Int): DataFrame = {
    val F = graft.functions.functions
    val E = graft.functions.expressions
    docs.select(col("source"), explode(E.word_ngrams(col("text"), n)).as("g"))
      .groupBy(col("source"))
      .agg(F.theta_agg_hash(xxhash64(col("g")), thetaK).as("sketch"))
  }

  /** [[perSourceSketches]] plus a tuple MASS sketch per source when
    * `tupleK > 0`: the explode switches to the occurrence stream
    * (`word_ngrams_all`) so mass counts every occurrence — the theta
    * sketch over that stream is IDENTICAL to the distinct-stream build
    * (set semantics: duplicate adds are no-ops), so the count results
    * don't move; one explode feeds both aggregates.
    */
  private def perSourceSketchesMass(docs: DataFrame, n: Int,
                                    thetaK: Int, tupleK: Int,
                                    freqK: Int = 0): DataFrame = {
    if (tupleK <= 0 && freqK <= 0) perSourceSketches(docs, n, thetaK)
    else {
      val F = graft.functions.functions
      val E = graft.functions.expressions
      // occurrence stream (word_ngrams_all): mass counts every
      // occurrence and the freq sketch's counts ARE occurrence counts;
      // the theta sketch over this stream is identical to the
      // distinct-stream build (set semantics)
      val aggs =
        Seq(F.theta_agg_hash(xxhash64(col("g")), thetaK).as("sketch")) ++
        (if (tupleK > 0)
          Seq(F.tuple_agg_hash(xxhash64(col("g")), lit(1L), tupleK)
            .as("mass_sketch")) else Nil) ++
        (if (freqK > 0)
          Seq(F.freq_agg_str(col("g"), freqK).as("freq_sketch")) else Nil)
      docs.select(col("source"),
          explode(E.word_ngrams_all(col("text"), n)).as("g"))
        .groupBy(col("source"))
        .agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Persist per-source n-gram theta sketches — the corpus-novelty
    * monitor's state. A 100-TB corpus compresses to sources x k
    * 8-byte samples (a few MB); any later snapshot can then be
    * screened for novelty/overlap against the WHOLE corpus without
    * rescanning it ([[overlapVsSketches]]), and new corpus batches
    * fold in by sketch union ([[appendToOverlapSketches]]) at
    * batch-sized cost — the same incremental contract as the dedup
    * and eval indexes, at estimate (not membership) granularity.
    */
  /** Persist the index. Layout (log-structured, the LmScore count-table
    * discipline applied to sketches):
    *
    *   dir/manifest                 (n, theta_k, tuple_k)
    *   dir/sketches/batch_id=<b>/   per-source sketch rows of batch b
    *   dir/batches                  committed-batch log (graft.store BatchLog)
    *
    * Readers union sketch rows across COMMITTED batches at read time
    * (sources x batches rows — trivial at any corpus size). Each
    * batch's rows hold that batch's grams exactly once, so the union
    * is correct for BOTH sketch kinds: theta (idempotent set union)
    * and tuple (additive summaries — the reason the old merged-table
    * swap had to go: its "replay is a no-op" contract held only for
    * idempotent unions). Exactly-once is the committed log.
    */
  def writeOverlapSketches(docs: DataFrame, dir: String, n: Int = 3,
                           thetaK: Int = 4096, tupleK: Int = 0,
                           freqK: Int = 0): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    perSourceSketchesMass(docs, n, thetaK, tupleK, freqK)
      .write.mode("overwrite").parquet(s"$dir/sketches/batch_id=0")
    T.Overlap.Manifest.check(Seq((n, thetaK, tupleK, freqK))
        .toDF("n", "theta_k", "tuple_k", "freq_k"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest")
    // log LAST: a crash mid-build leaves no committed log -> no index
    BatchLog.commit(spark, dir, Set(0L), -1L)
  }

  /** Stored build parameters; `tuple_k`/`freq_k` tolerant of older
    * indexes (a missing column reads as null, taken as 0 = that sketch
    * family absent).
    */
  private def overlapManifest(spark: org.apache.spark.sql.SparkSession,
                              dir: String): (Int, Int, Int, Int) = {
    val r = T.Overlap.Manifest.read(spark, dir).head()
    def orZero(i: Int): Int = if (r.isNullAt(i)) 0 else r.getInt(i)
    (r.getInt(0), r.getInt(1), orZero(2), orZero(3))
  }

  /** The per-source union of all COMMITTED batches — the frame every
    * reader consumes. Sources x batches input rows, sources output
    * rows; bit-identical to a fresh single build over the union of the
    * batches' docs (sketch merge == whole, TupleSketchSpec).
    */
  private def committedSketches(spark: org.apache.spark.sql.SparkSession,
                                dir: String): DataFrame = {
    val (_, k, tk, fk) = overlapManifest(spark, dir)
    val (ids, _) = BatchLog.read(spark, dir)
    val F = graft.functions.functions
    val aggs = F.theta_union_agg(col("sketch"), k).as("sketch") ::
      ((if (tk > 0) List(F.tuple_union_agg(col("mass_sketch"), tk)
        .as("mass_sketch")) else Nil) ++
       (if (fk > 0) List(F.freq_union_agg(col("freq_sketch"), fk,
         stringItems = true).as("freq_sketch")) else Nil))
    spark.read.parquet(s"$dir/sketches")
      .where(col("batch_id").cast("long").isin(ids.toSeq: _*))
      .groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Fold a new corpus batch in under `batchId` (the exactly-once
    * replay key: a committed or folded id is a no-op), committed
    * through `Store.BatchLog.append`. Cost scales with the batch;
    * stored batches are never read, let alone rescanned.
    *
    * `batchId = -1` auto-assigns max(committed)+1 — allowed only on
    * theta-only indexes (replaying the SAME DOCS under a fresh auto id
    * re-unions the same hash points, a set-level no-op; tuple
    * summaries would double-count, so mass-enabled indexes demand the
    * explicit key).
    */
  def appendToOverlapSketches(newDocs: DataFrame, dir: String,
                              batchId: Long = -1L): Unit = {
    val spark = newDocs.sparkSession
    val (n, k, tk, fk) = overlapManifest(spark, dir)
    require(batchId >= 0 || (tk == 0 && fk == 0),
      "mass/freq-enabled overlap index requires an explicit batchId: " +
        "tuple union and freq merge are not idempotent, exactly-once " +
        "needs a replay key")
    val id =
      if (batchId >= 0) batchId else BatchLog.read(spark, dir)._1.max + 1
    BatchLog.append(spark, dir, id) {
      perSourceSketchesMass(newDocs, n, k, tk, fk)
        .write.mode("overwrite").parquet(s"$dir/sketches/batch_id=$id")
    }
  }

  /** Mixture preview off the persisted index: the estimated DISTINCT
    * n-gram vocabulary of a proposed union of sources — the "how much
    * unique content does this mixture actually carry" question a
    * mixture plan needs before materializing anything (per-source
    * vocabularies don't add; mirrors/syndication overlap, and theta
    * union is exactly the dedup the sum ignores). Input = the
    * sources-sized sketch frame; the corpus is never read. Emits the
    * per-source estimates beside the union estimate so the
    * overlap discount (sum - union) is visible.
    */
  def mixturePreviewVsSketches(spark: org.apache.spark.sql.SparkSession,
                               dir: String,
                               sources: Seq[String]): DataFrame = {
    require(sources.nonEmpty, "mixture preview needs at least one source")
    val (_, k, _, _) = overlapManifest(spark, dir)
    val F = graft.functions.functions
    val picked = committedSketches(spark, dir)
      .where(col("source").isin(sources: _*))
    picked.agg(
        count(lit(1)).as("n_sources"),
        sum(round(F.theta_estimate(col("sketch"))).cast("long"))
          .as("est_sum_distinct"),
        F.theta_union_agg(col("sketch"), k).as("__u"))
      .select(col("n_sources"),
        col("est_sum_distinct"),
        round(F.theta_estimate(col("__u"))).cast("long")
          .as("est_union_distinct"))
      .withColumn("est_overlap_discount",
        col("est_sum_distinct") - col("est_union_distinct"))
  }

  /** Fold every committed batch into one — the read-amplification
    * bound: readers union all committed batches per read, so after
    * thousands of appends the (still tiny) sketches read costs
    * batches x sources rows; compaction folds them back to one. The
    * LmScore count-table discipline, applied to sketches:
    *
    *  - the folded union is written as a NEW batch id (never in place
    *    — readers of the old log keep working through the whole fold);
    *  - `Store.BatchLog.compact` switches the log to it, carrying
    *    `folded_up_to = max(old committed)` so every folded id is
    *    permanently burned — replaying an append whose batch was
    *    folded away stays a no-op — and GCs stale batch dirs only
    *    AFTER the switch.
    *
    * The folded state is bit-identical to the union the readers were
    * already computing (theta/tuple/freq merges are the same
    * aggregates), so every reader column is unchanged.
    */
  def compactOverlapSketches(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Unit =
    BatchLog.compact(spark, dir, Seq(s"$dir/sketches")) { (_, newId) =>
      committedSketches(spark, dir)
        .write.mode("overwrite").parquet(s"$dir/sketches/batch_id=$newId")
    }

  /** Screen a snapshot against the persisted corpus sketches: per
    * source, estimated distinct grams in the snapshot, in the corpus,
    * NOVEL to the snapshot (a-not-b — the estimate HLL cannot make),
    * and the novel fraction. Cost scales with the snapshot plus a
    * sources-sized broadcast; the corpus is never read.
    */
  def overlapVsSketches(snapshot: DataFrame, dir: String): DataFrame = {
    val spark = snapshot.sparkSession
    val (n, k, tk, _) = overlapManifest(spark, dir)
    val F = graft.functions.functions
    val corpusCols = col("sketch").as("__corpus_sk") ::
      (if (tk > 0) List(col("mass_sketch").as("__corpus_mass")) else Nil)
    val corpus = committedSketches(spark, dir)
      .select(col("source") :: corpusCols: _*)
    val emptySk = lit(graft.core.ThetaSketch(k).serialize())
    val base = perSourceSketchesMass(snapshot, n, k, tk)
      .join(broadcast(corpus), Seq("source"), "left")
      .withColumn("__c", coalesce(col("__corpus_sk"), emptySk))
      .withColumn("__snap", F.theta_estimate(col("sketch")))
      // |A \ B| <= |A| is a hard set identity the two raw estimators
      // (different thetas) can cross by sampling noise when novelty is
      // near-total; clamping to the marginal is a strict improvement
      .withColumn("__novel",
        least(F.theta_estimate(F.theta_a_not_b(col("sketch"), col("__c"))),
          col("__snap")))
    val countCols = List(col("source"),
      round(col("__snap")).cast("long").as("est_snapshot"),
      round(F.theta_estimate(col("__c"))).cast("long").as("est_corpus"),
      round(col("__novel")).cast("long").as("est_novel"),
      when(col("__snap") > 0,
        round(col("__novel") / col("__snap"), 4)).as("novel_frac"))
    if (tk == 0) base.select(countCols: _*)
    else {
      // mass twins: occurrence weight of the snapshot and of its novel
      // grams (the tuple a-not-b keeps the snapshot's summaries), same
      // marginal clamp
      val emptyMass = lit(graft.core.TupleSketch(tk).serialize())
      base
        .withColumn("__cm", coalesce(col("__corpus_mass"), emptyMass))
        .withColumn("__snapm", F.tuple_sum_estimate(col("mass_sketch")))
        .withColumn("__novelm",
          least(F.tuple_sum_estimate(
            F.tuple_a_not_b(col("mass_sketch"), col("__cm"))),
            col("__snapm")))
        .select(countCols ++ List(
          round(col("__snapm")).cast("long").as("est_snapshot_mass"),
          round(col("__novelm")).cast("long").as("est_novel_mass"),
          when(col("__snapm") > 0,
            round(col("__novelm") / col("__snapm"), 4))
            .as("novel_mass_frac")): _*)
    }
  }

  /** Per-source trending grams off the persisted overlap index: the
    * top-K n-grams by occurrence count from the committed freq
    * sketches, with their deterministic [lb, ub] bracket (ub - lb =
    * the sketch's maxError; 0 when every aggregation node stayed below
    * freq_k distinct grams, in which case the counts are EXACT). This
    * is [[boilerplateNgrams]]'s incremental twin: that one rescans the
    * corpus for exact counts; this one reads sources x freq_k rows of
    * index state — new batches fold in via
    * [[appendToOverlapSketches]] at batch-sized cost, the corpus is
    * never reread. Requires an index written with `freqK > 0`.
    *
    * Composes into a per-doc screen: feed the reported grams to
    * [[blocklistFlags]] (grams are exactly its consecutive-word
    * phrases) to flag documents dominated by corpus-trending
    * boilerplate — the trending state stays incremental, the screen
    * stays a single codegen text pass.
    */
  def trendingGrams(spark: org.apache.spark.sql.SparkSession, dir: String,
                    topK: Int = 20): DataFrame = {
    val (_, _, _, fk) = overlapManifest(spark, dir)
    require(fk > 0,
      s"overlap index at $dir has no freq sketches (freq_k = 0); " +
        "rewrite with writeOverlapSketches(freqK > 0)")
    val F = graft.functions.functions
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("cnt_lb").desc, col("g"))
    committedSketches(spark, dir)
      .select(col("source"),
        explode(F.freq_entries(col("freq_sketch"))).as("e"))
      .select(col("source"), col("e._1").as("g"),
        col("e._2").as("cnt_lb"), col("e._3").as("cnt_ub"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("source"), col("rank"), col("g"),
        col("cnt_lb"), col("cnt_ub"))
  }

  /** Corpus-wide repeated n-gram report — the "what boilerplate does
    * this corpus share" dashboard (nav bars, cookie banners, license
    * headers show up as high-doc-frequency n-grams). Exact counts: one
    * occurrence-stream explode (`word_ngrams_all`), one uniform
    * gram-keyed aggregation (occurrences + distinct-doc frequency,
    * both map-side partial), then TakeOrdered for the top-k under the
    * deterministic total order (n_docs desc, n_occ desc, gram asc) —
    * no global window, no second pass. This is the exact audit twin of
    * the CMS heavy-hitters path (q28): run this on a slice to verify,
    * run the sketch on the corpus. Pairs with SpanDedup for the fix:
    * this REPORTS shared spans by frequency; exciseSpans removes them.
    */
  def boilerplateNgrams(docs: DataFrame, n: Int = 5, topK: Int = 30,
                        minDocs: Long = 2L): DataFrame = {
    val E = graft.functions.expressions
    docs.select(col("doc_id"),
        explode(E.word_ngrams_all(col("text"), n)).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("g").asc)
      .limit(topK)
  }

  /** Collocation mining: top-`topK` word bigrams by pointwise-mutual-
    * information LIFT — c(ab)*N / (c(a)*c(b)), the ratio whose log2 is
    * PMI. Phrases ("new york") surface data-entry artifacts and
    * candidate tokenizer merges. Two exact integer-derived scores per
    * gram: `lift` (ONE IEEE div of exact int64 products — bit-identical
    * cross-engine, the q66 rule) and `pmi_bits` = floor-log2 PMI as
    * pure integer arithmetic (the LmScore bucketed-bits device), plus
    * the raw counts. `minCount` floors c(ab) so rare-pair noise (whose
    * lift is huge by chance) stays out; ties at the cut break on the
    * gram string.
    *
    * Shape at scale: one all-occurrences bigram explode + one word
    * explode, two vocab-sized groupBys, joins on the vocab-sized
    * frames. No corpus-sized join. int64 stays exact to ~3e9 tokens
    * per corpus slice (pre-slice beyond that).
    */
  def pmiPhrases(docs: DataFrame, topK: Int = 30,
                 minCount: Long = 5L): DataFrame = {
    val E = graft.functions.expressions
    val uni = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      .localCheckpoint(true)
    val bi = docs.select(
        explode(E.word_ngrams_all(col("text"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val n = uni.agg(sum(col("c_w"))).head().getLong(0)
    def blog2(x: Column): Column = length(bin(x)) - 1
    bi.withColumn("w1", element_at(split(col("g"), " "), 1))
      .withColumn("w2", element_at(split(col("g"), " "), 2))
      .join(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("c_w", "c_a"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("c_w", "c_b"), Seq("w2"))
      .select(col("g").as("gram"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab") * lit(n)).cast("double")
          / (col("c_a") * col("c_b")).cast("double")).as("lift"),
        (blog2(col("c_ab") * lit(n)) - blog2(col("c_a") * col("c_b")))
          .as("pmi_bits"))
      .orderBy(col("lift").desc, col("gram").asc)
      .limit(topK)
  }

  /** Characteristic vocabulary per source: top-`topK` words by keyness
    * LIFT p(w|source)/p(w|corpus) = c_sw*tot / (c_w*tot_s) — which
    * words make this source THIS source (a mixture-design and
    * contamination-triage view: a code source whose key terms are
    * suddenly celebrity names has a crawl problem). Same float
    * discipline as [[pmiPhrases]]: `lift` is one div of exact int64
    * products, `keyness_bits` its floor-log2 twin, `minCount` floors
    * c_sw, ties break on the word. Per-source ranking is a window over
    * the (source x vocab)-sized count frame — corpus-sized work is the
    * one word explode.
    */
  def sourceKeyness(docs: DataFrame, topK: Int = 10,
                    minCount: Long = 5L): DataFrame = {
    // ONE corpus explode; checkpoint the (source x vocab)-sized count
    // frame (NOT the corpus-sized word stream) so the three downstream
    // aggregations never rescan the corpus (q65 lesson)
    val sw = docs.select(col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw"))
      .localCheckpoint(true)
    val perSource = sw.groupBy(col("source"))
      .agg(sum(col("c_sw")).as("tot_s"))
    val global = sw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val tot = sw.agg(sum(col("c_sw"))).head().getLong(0)
    def blog2(x: Column): Column = length(bin(x)) - 1
    val scored = sw.filter(col("c_sw") >= minCount)
      .join(broadcast(perSource), Seq("source"))
      .join(global, Seq("w"))
      .select(col("source"), col("w").as("word"), col("c_sw"), col("c_w"),
        ((col("c_sw") * lit(tot)).cast("double")
          / (col("c_w") * col("tot_s")).cast("double")).as("lift"),
        (blog2(col("c_sw") * lit(tot)) - blog2(col("c_w") * col("tot_s")))
          .as("keyness_bits"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("lift").desc, col("word").asc)
    scored.withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= topK)
      .drop("rk")
      .orderBy(col("source"), col("lift").desc, col("word").asc)
  }

  /** Gopher-style quality-rule battery (Rae et al. 2021, A1.1 — the
    * standard pre-training filter set): per-doc signal columns plus a
    * boolean per rule and the composite `keep`. The raw signals come
    * from ONE native codegen kernel call per row
    * (`kernels.gopherSignals` — a single text pass; the earlier
    * higher-order-function formulation paid a CodegenFallback
    * evaluation per lambda per element), and everything derived from
    * them is codegen arithmetic, exactly SQL-replicable: the battery
    * rides inside whatever scan is already reading the text — zero
    * shuffle, zero extra pass at any corpus size. Rules on ratios
    * compare the ROUNDED (4 dp) values so both engines decide
    * boundaries identically; wordless docs (including null text, which
    * the kernel treats as empty) fail `keep` outright rather than
    * passing vacuous comparisons.
    */
  def gopherQualityFlags(docs: DataFrame,
                         minWords: Int = 50, maxWords: Int = 100000,
                         minMeanWordLen: Double = 3.0,
                         maxMeanWordLen: Double = 10.0,
                         maxSymbolRatio: Double = 0.1,
                         maxBulletLineFrac: Double = 0.9,
                         maxEllipsisLineFrac: Double = 0.3,
                         minAlphaWordFrac: Double = 0.8,
                         minStopwords: Int = 2,
                         textCol: String = "text",
                         idCol: String = "doc_id",
                         carry: Seq[String] = Nil): DataFrame = {
    val nw = col("n_words")
    val carried = carry.map(col)
    // signal layout: see kernels.gopherSignals
    val g = col("__g")
    docs
      .select(col(idCol) +: carried :+
        graft.functions.expressions.gopher_signals(col(textCol)).as("__g"): _*)
      .select(col(idCol) +: carried ++: Seq(g(0).cast("int").as("n_words"),
        g(1).as("__chars"), g(2).as("__alpha"),
        g(3).cast("int").as("n_stop_hits"),
        g(4).as("__lines"), g(5).as("__bullet"), g(6).as("__elllines"),
        (g(7) + g(8)).as("__symbols")): _*)
      .select(col(idCol) +: carried ++: Seq(nw,
        when(nw > 0, round(col("__chars").cast("double") / nw, 4))
          .as("mean_word_len"),
        when(nw > 0, round(col("__alpha").cast("double") / nw, 4))
          .as("frac_alpha_words"),
        // '#' chars + non-overlapping '...' occurrences per word (the
        // Gopher symbol set, ASCII form)
        when(nw > 0, round(col("__symbols").cast("double") / nw, 4))
          .as("symbol_ratio"),
        col("n_stop_hits"),
        round(col("__bullet").cast("double") / col("__lines"), 4)
          .as("frac_bullet_lines"),
        round(col("__elllines").cast("double") / col("__lines"), 4)
          .as("frac_ellipsis_lines")): _*)
      .withColumn("keep",
        coalesce(
          nw >= minWords && nw <= maxWords &&
            col("mean_word_len") >= minMeanWordLen &&
            col("mean_word_len") <= maxMeanWordLen &&
            col("symbol_ratio") <= maxSymbolRatio &&
            col("frac_bullet_lines") <= maxBulletLineFrac &&
            col("frac_ellipsis_lines") <= maxEllipsisLineFrac &&
            col("frac_alpha_words") >= minAlphaWordFrac &&
            col("n_stop_hits") >= minStopwords,
          lit(false)))
  }

  /** C4-style wordlist screen: per document, the count of blocklisted
    * entry occurrences, the distinct matched entries (sorted,
    * comma-joined), and `keep` = no hits (C4 drops a doc on ANY
    * blocklist hit; callers wanting a tolerance threshold filter on
    * `n_hits` instead). Entries may be single words or multi-word
    * phrases — the published lists mix both — and a phrase matches
    * only CONSECUTIVE words. Matching is word-level (the house
    * whitespace tokenization) and ASCII-case-insensitive — wordlist
    * screens match lowercase word forms, not substrings ("class" must
    * not hit a 3-letter entry).
    *
    * Scale: ONE native kernel pass per row
    * ([[graft.functions.expressions.BlocklistMatches]]) with the
    * normalized entry set riding the plan — zero shuffle, no n-gram
    * explode (the join formulation ships the corpus's full n-gram
    * stream to meet a few-hundred-row wordlist), streaming-safe.
    */
  def blocklistFlags(docs: DataFrame, words: Seq[String],
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), graft.functions.expressions
        .blocklist_matches(col(textCol), words).as("__m"))
      .select(col(idCol),
        size(col("__m")).cast("long").as("n_hits"),
        array_join(array_sort(array_distinct(col("__m"))), ",")
          .as("matched"),
        (size(col("__m")) === 0).as("keep"))

  /** Within-document repetition excision (the MassiveText/Gopher
    * preprocessing step the q39 metrics only FLAG): remove duplicate
    * lines from each document, keeping each line's first occurrence in
    * original order. Boilerplate headers/footers and templated nav
    * lines are the dominant within-doc repetition mode in web text;
    * doc-level dedup never sees them. Output per doc: `text_deduped`,
    * `n_lines` (long), `n_lines_removed` (long).
    *
    * Pure builtin projection — `array_distinct` keeps first
    * occurrences in order (pinned by spec AND by the q63 oracle, which
    * recomputes the order-preserving semantics with a window) — so the
    * op is codegen, zero shuffle, streaming-safe. The line array is
    * bound once (HOF trees get no codegen subexpression elimination).
    */
  def dedupLinesWithin(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol),
        split(coalesce(col(textCol), lit("")), "\n").as("__l"))
      .select(col(idCol),
        array_join(array_distinct(col("__l")), "\n").as("text_deduped"),
        size(col("__l")).cast("long").as("n_lines"),
        (size(col("__l")) - size(array_distinct(col("__l"))))
          .cast("long").as("n_lines_removed"))

  /** Per-document token counts for budget estimation over RAW text —
    * whitespace tokens (the corpus tokenizer's unit) and the BPE-style
    * pre-tokenizer segmentation count (`kernels.segTokenCount`: one
    * token per maximal alphanumeric run, one per other non-space
    * character — the segmentation a byte-pair tokenizer subdivides, so
    * it upper-bounds words and lower-bounds BPE tokens). Both exactly
    * SQL-recomputable; one projection, zero shuffle.
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val seg = col("seg_tokens")
    docs.select(col(idCol),
        length(coalesce(col(textCol), lit(""))).as("n_chars"),
        size(filter(split(coalesce(col(textCol), lit("")), " "),
          w => length(w) > 0)).as("ws_tokens"),
        graft.functions.expressions.seg_token_count(col(textCol))
          .as("seg_tokens"))
      .withColumn("chars_per_seg_token",
        when(seg > 0, round(col("n_chars").cast("double") / seg, 4)))
  }

  /** Markup-stripping steps, applied in order (order is part of the
    * contract): script/style elements go WITH their content, then
    * comments, then remaining tags become spaces, then the six
    * standard entities unescape (`&amp;` LAST so it cannot re-form
    * other entities), then whitespace runs collapse. Escaped markup
    * (`&lt;tag&gt;`) is content, not structure — tags are stripped
    * BEFORE entities unescape, so it survives into the text.
    */
  val markupSteps: Seq[(String, String)] = Seq(
    ("(?is)<script[^>]*>.*?</script>", " "),
    ("(?is)<style[^>]*>.*?</style>", " "),
    ("(?s)<!--.*?-->", " "),
    ("</?[A-Za-z][^>]*>", " "),
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'"),
    ("&nbsp;", " "), ("&amp;", "&"),
    ("\\s+", " "))

  /** Markup-to-text extraction — the step-zero transform of a web
    * curation pipeline, as a sequential builtin-regex chain (the
    * Redact.scrubPii portability discipline: whole-stage codegen, zero
    * shuffle, streaming-safe, patterns in the java.util.regex ∩ RE2
    * subset so the DuckDB oracle replays them verbatim with the 'g'
    * flag). NOT a browser-grade parser — no external parser exists in
    * this environment and the regex chain covers the shapes that
    * survive into a text corpus; pathological nesting falls through as
    * text, never as a crash. Output: `n_tags` (counted on the RAW
    * text), `had_markup`, and the cleaned, whitespace-collapsed
    * `text_clean`.
    */
  def stripMarkup(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val raw = coalesce(col(textCol), lit(""))
    val nTags = regexp_count(raw, lit("</?[A-Za-z][^>]*>")).cast("long")
    val cleaned = markupSteps.foldLeft(raw: Column) {
      case (c, (p, r)) => regexp_replace(c, p, r)
    }
    docs.select(col(idCol), nTags.as("n_tags"),
      (nTags > 0).as("had_markup"), trim(cleaned).as("text_clean"))
  }

  /** Tokenizer-fit report per source: fertility (segmentation tokens
    * per whitespace word) and compression (chars per token) — the two
    * numbers a tokenizer/budget plan needs per corpus slice (a source
    * whose fertility is 3x the others pays 3x the context window for
    * the same text; code and non-Latin sources routinely do). Uses the
    * q47-pinned segmentation kernel (`seg_token_count`, == the
    * documented regex in both engines), aggregated per source; the
    * ratios are one IEEE division of exact int64 sums each, NULL for a
    * degenerate (wordless/tokenless) source. Zero shuffle beyond the
    * one sources-sized aggregation.
    */
  def tokenizerFit(docs: DataFrame, textCol: String = "text",
                   sourceCol: String = "source"): DataFrame = {
    val E = graft.functions.expressions
    docs.select(col(sourceCol).as("source"),
        length(coalesce(col(textCol), lit(""))).as("nc"),
        size(filter(split(coalesce(col(textCol), lit("")), " "),
          w => length(w) > 0)).as("ws"),
        E.seg_token_count(col(textCol)).as("seg"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("ws")).as("n_words"),
        sum(col("seg")).as("n_seg_tokens"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        col("n_words"), col("n_seg_tokens"),
        when(col("n_words") > 0, col("n_seg_tokens").cast("double")
          / col("n_words").cast("double")).as("fertility"),
        when(col("n_seg_tokens") > 0, col("n_chars").cast("double")
          / col("n_seg_tokens").cast("double")).as("chars_per_token"))
      .orderBy(col("source"))
  }

  /** Within-document repetition signals (the Gopher/CCNet-style
    * duplicate n-gram fractions used to drop boilerplate and spam):
    * dup_Ngram_frac = 1 - distinct-n-grams / total-n-grams. All pure
    * codegen column expressions, O(len·log len) per row; docs shorter
    * than n have no n-grams and score 0.
    */
  def repetitionMetrics(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    // project the token array ONCE into a bound attribute: referencing
    // the filter(split(...)) tree from several output columns would
    // re-split the text per column; n-gram distinct counts come from
    // the native wordNgrams kernel (one split + rolling window per row,
    // not the O(len^2) higher-order-function formulation)
    val withToks = docs.select(col(idCol), col(textCol).as("__text"),
      filter(split(col(textCol), " "), t => t =!= "").as("__toks"))
    def dupFrac(n: Int) = {
      val total = size(col("__toks")) - (n - 1)
      val distinctN =
        if (n == 1) size(array_distinct(col("__toks")))
        else size(Decontaminate.wordNgrams(col("__text"), n))
      when(total >= lit(1),
        round(lit(1.0) - distinctN.cast("double") / total.cast("double"), 4))
        .otherwise(lit(0.0))
    }
    withToks.select(
      col(idCol),
      size(col("__toks")).cast("bigint").as("n_tokens"),
      dupFrac(1).as("dup_tok_frac"),
      dupFrac(2).as("dup_2gram_frac"),
      dupFrac(3).as("dup_3gram_frac"))
  }

  /** Stopword lists per language for the lang-ID heuristic (top function
    * words; standard public lists, trimmed).
    */
  val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "a", "of", "and", "to", "in", "is", "it", "that",
      "for", "on", "with", "as", "was", "at", "by"),
    "de" -> Set("der", "die", "das", "und", "ist", "von", "mit", "den",
      "nicht", "ein", "eine", "auf", "für", "im", "zu"),
    "fr" -> Set("le", "la", "les", "de", "et", "un", "une", "est", "en",
      "que", "pour", "dans", "qui", "sur", "pas"),
    "es" -> Set("el", "la", "los", "las", "de", "y", "un", "una", "es",
      "en", "que", "por", "para", "con", "no"))

  /** Heuristic language ID: score = stopword hits per language over the
    * lowercased word stream; falls back to character-class evidence for
    * CJK; "und" (undetermined) when nothing matches.
    */
  def detectLang(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0; var total = 0
    var i = 0
    while (i < text.length && i < 2000) {
      val c = text.charAt(i)
      if (!Character.isWhitespace(c)) {
        total += 1
        val block = Character.UnicodeBlock.of(c)
        if (block == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS ||
            block == Character.UnicodeBlock.HIRAGANA ||
            block == Character.UnicodeBlock.KATAKANA) cjk += 1
      }
      i += 1
    }
    if (total > 0 && cjk.toDouble / total > 0.2) return "zh"
    val words = text.toLowerCase.split("\\s+")
    val scores = stopwords.view.mapValues(sw => words.count(sw.contains))
      .toMap
    val (best, hits) = scores.maxBy { case (lang, n) => (n, lang) }
    if (hits == 0) "und" else best
  }

  /** Column form — native codegen expression, no UDF dispatch. */
  def lang_id(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.expressions.lang_id(text)

  /** Karp-Rabin rolling-hash fingerprint of the content: the minimum of
    * the rolling hashes over a sliding byte window — robust to
    * concatenation order, cheap to compute in one pass.
    */
  def rollingFingerprint(text: String, window: Int = 16): Long = {
    if (text == null || text.isEmpty) return 0L
    val bytes = text.getBytes("UTF-8")
    if (bytes.length <= window) return Hashing.fnv1a64(bytes)
    val B = 0x100000001B3L
    // B^window for the remove-term
    var bPow = 1L
    var i = 0
    while (i < window) { bPow *= B; i += 1 }
    var h = 0L
    var minH = Long.MaxValue
    i = 0
    while (i < bytes.length) {
      h = h * B + (bytes(i) & 0xFFL)
      if (i >= window) h -= bPow * (bytes(i - window) & 0xFFL)
      if (i >= window - 1) {
        val mixed = Hashing.splitmix64(h)
        if (mixed < minH) minH = mixed
      }
      i += 1
    }
    minH
  }

  /** Column form — native codegen expression, no UDF dispatch. */
  def rolling_fingerprint(text: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    graft.functions.expressions.rolling_fingerprint(text)

  /** Exact top-k heavy hitters over a word/token column: (value, cnt)
    * by (cnt desc, value asc). groupBy + global top-k (TakeOrdered — k
    * rows per partition reach the driver-side merge, never the full
    * count table). Pair with a CMS built over the same stream when the
    * full count table must not materialize: the CMS estimate of each
    * candidate is within eps*N above its true count (the q28 check).
    */
  def heavyHitters(values: DataFrame, valueCol: String, k: Int): DataFrame =
    values.groupBy(col(valueCol))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(valueCol).asc)
      .limit(k)

  /** Token statistics per source over the token table: docs, total and
    * distinct tokens, token-length quantile inputs. Pure aggregation.
    */
  def tokenStats(tokenDocs: DataFrame): DataFrame =
    tokenDocs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_n_tok"))
      // LEFT join from the per-doc side: a source whose docs all have
      // empty token arrays produces no exploded rows, and an inner
      // join would silently drop it from the stats instead of
      // reporting zero tokens
      .join(
        tokenDocs
          .select(col("source"), explode(col("tokens")).as("t"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("total_tokens"),
            countDistinct(col("t")).as("distinct_tokens")),
        Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("distinct_tokens"), lit(0L)).as("distinct_tokens"),
        col("sum_n_tok"))
}
