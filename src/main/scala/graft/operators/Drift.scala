package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.store.{Store, Tables => T}

/** Corpus drift monitors — compare two snapshots of the training corpus
  * (crawl N vs crawl N+1, or any two id/source slices) BEFORE a model is
  * trained on the newer one. Four modalities, each in three forms:
  *
  *  - TOKEN distribution: [[tokenDrift]] (per-word report ranked by the
  *    integer mass delta |c_a*totB - c_b*totA| — the word's
  *    contribution to total-variation distance, cross-multiplied so it
  *    stays exact in int64), [[driftSummary]] (one-row panel: TV from
  *    the same integer numerator + add-one-smoothed KL in
  *    power-of-two-BUCKETED bits, the LmScore floor-log2 device;
  *    [[klPrecise]] is the nats twin for in-engine thresholds), and
  *    [[sourceDrift]] (the per-source matrix — which slice moved).
  *  - LENGTH distribution: [[lengthDrift]] — exact two-sample
  *    Kolmogorov-Smirnov over n_tok (cross-multiplied cumulative
  *    counts, int64) beside a KLL-sketch estimate with a wide gate
  *    (`kll_ks_ok`, the q46 `hll_ok` pattern). At 10^12 rows the exact
  *    path's value table is still small (distinct lengths, not rows).
  *  - EMBEDDING distribution: [[embeddingDrift]] — cosine between
  *    snapshot mean vectors + per-dim L1 + top mover, on 2^10
  *    fixed-point integer sums.
  *
  * Each modality also runs OFF A PERSISTED BASELINE
  * ([[writeReferenceCounts]] / [[writeEmbeddingReference]] +
  * the `*VsReference` variants — index once, screen every snapshot,
  * never rescan the reference) and ON A STREAM (the `windowed*`
  * readers over finalized-window state emitted by
  * `streaming.StreamingSketches`: [[windowedTokenDrift]],
  * [[windowedLengthDrift]], [[windowedEmbeddingDrift]]).
  *
  * Float discipline (the q66 rule): every double column is ONE IEEE
  * division (or product chain) of exactly-representable integer
  * operands, identical bit-for-bit in Spark and DuckDB — no
  * transcendental functions, no order-dependent float sums. All sums
  * happen in int64.
  *
  * Scale shape: one word explode per snapshot -> vocab-sized count
  * frames (checkpointed once, so the totals pass does not rescan the
  * corpus — the q65 double-scan lesson), then everything downstream is
  * vocab-sized. No corpus-sized join, no driver collect.
  */
object Drift {

  /** Word stream of a document frame: maximal runs of non-space
    * characters (texts are single-space separated; same contract as
    * the q19 oracle).
    */
  private def wordsOf(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")

  /** floor(log2(x)) for a positive int64 column, as pure integer
    * arithmetic (binary-string length), exactly replicable in SQL.
    */
  private def blog2(x: Column): Column = length(bin(x)) - 1

  /** Per-word counts of both snapshots (`w, c_a, c_b`), full-outer
    * joined and checkpointed (vocab-sized). Public so a caller that
    * wants BOTH drift views pays the two corpus explodes once:
    * `val cnt = wordCounts(a, b)` then [[tokenDriftFromCounts]] +
    * [[driftSummaryFromCounts]] read the checkpointed frame. The
    * two-argument [[tokenDrift]]/[[driftSummary]] are one-call
    * conveniences that each build their own counts.
    */
  def wordCounts(docsA: DataFrame, docsB: DataFrame): DataFrame =
    countsJoin(
      wordsOf(docsA).groupBy(col("w")).agg(count(lit(1)).as("c_a")),
      wordsOf(docsB).groupBy(col("w")).agg(count(lit(1)).as("c_b")))

  // checkpoint: totals + report both read this frame; UNcheckpointed,
  // lazy plans would re-run both corpus explodes per consumer (q65
  // lesson). Lazy checkpoint (r06): the totals aggregation materializes
  // the blocks — same single evaluation, without a dedicated
  // materialization job first. (The *VsReference readers stay EAGER:
  // their inputs are GC-racy persisted dirs — ADVICE r05 #3.)
  private def countsJoin(ca: DataFrame, cb: DataFrame): DataFrame =
    ca.join(cb, Seq("w"), "full_outer")
      .na.fill(0L, Seq("c_a", "c_b"))
      .localCheckpoint(false)

  /** Persist a reference distribution snapshot — the vocab-sized word
    * counts, the document-length value table, and the build-time KLL
    * length sketch of a baseline corpus — so every later snapshot can
    * be drift-screened against it (token TV/KL via
    * [[referenceWordCounts]], length KS via
    * [[lengthDriftVsReference]]) WITHOUT rescanning the reference: the
    * engine's index-once-screen-many pattern applied to drift. A
    * reference is a FIXED baseline by definition, so the layout is
    * deliberately append-free: moving the baseline is a semantic
    * decision, made loudly via a fresh write, never an accumulation.
    *
    * Layout: versioned dirs `v=<N>/{counts, lengths, length_sketch}`
    * committed by ONE `_current` pointer swap (`graft.store.Store`),
    * so the three tables become visible together or not at all, and
    * superseded/orphaned versions are GC'd by the next successful write.
    */
  def writeReferenceCounts(docs: DataFrame, dir: String,
                           kllK: Int = 200): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Store.heal(spark, dir, "_current")
    val newVer = currentVersion(spark, dir).getOrElse(0L) + 1
    // stage EVERYTHING under the new version dir, then commit with ONE
    // pointer swap: the three tables become visible together or not at
    // all — one swap per table would have a crash window exposing a
    // MIXED baseline (new lengths beside old words), which no heal
    // could tell from a valid one
    // when the corpus carries a source column, persist the
    // (source × vocab) counts too and DERIVE the global table from
    // them — one corpus explode feeds both, and sourceDriftVsReference
    // becomes answerable off the index
    if (docs.columns.contains("source")) {
      val sw = docs.select(col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      sw.write.mode("overwrite")
        .parquet(s"$dir/v=$newVer/source_counts")
      T.Drift.Counts.check(sw.groupBy(col("w")).agg(sum(col("c")).as("c")))
        .write.mode("overwrite").parquet(s"$dir/v=$newVer/counts")
    } else {
      T.Drift.Counts.check(
          wordsOf(docs).groupBy(col("w")).agg(count(lit(1)).as("c")))
        .write.mode("overwrite").parquet(s"$dir/v=$newVer/counts")
    }
    val lens = docs
      .select(size(graft.functions.functions.tokenize(col("text")))
        .as("n_tok"))
      .localCheckpoint(true)
    T.Drift.Lengths.check(
        lens.groupBy(col("n_tok")).agg(count(lit(1)).as("cnt")))
      .write.mode("overwrite").parquet(s"$dir/v=$newVer/lengths")
    val blob = lens
      .agg(graft.functions.functions
        .kll_agg(col("n_tok").cast("double"), kllK))
      .head().getAs[Array[Byte]](0)
    T.Drift.LengthSketch.check(Seq((lens.count(), blob)).toDF("n_docs", "kll"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/v=$newVer/length_sketch")
    // commit: pointer swap, then GC superseded versions (crash
    // leftovers included: a staged-but-never-committed version is
    // invisible to readers)
    Store.swap(spark, dir, "_current") { next =>
      T.Drift.Current.check(Seq(newVer).toDF("version")).coalesce(1)
        .write.mode("overwrite").parquet(next)
    }
    Store.gc(spark, dir, "v=", Set(newVer))
  }

  /** The persisted reference word table, as (w, c) — rename to
    * (t, c_ref) to feed [[windowedTokenDrift]]. Heals a crashed
    * [[writeReferenceCounts]] pointer swap first (`graft.store.Store`).
    */
  def readReferenceCounts(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame =
    // eagerly pinned (vocab-sized): the next writeReferenceCounts GCs
    // every superseded v= dir, so a lazy frame held across a baseline
    // rewrite would FileNotFound mid-evaluation — the internal
    // *VsReference paths checkpoint for the same reason (ADVICE r05 #3)
    T.Drift.Counts.read(spark, liveReferenceDir(spark, dir))
      .localCheckpoint(true)

  private def currentVersion(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Option[Long] = {
    if (!Store.fs(spark, dir).exists(
        new org.apache.hadoop.fs.Path(s"$dir/_current"))) None
    else Some(T.Drift.Current.read(spark, dir)
      .head().getAs[Long]("version"))
  }

  private def liveReferenceDir(spark: org.apache.spark.sql.SparkSession,
                               dir: String): String = {
    Store.heal(spark, dir, "_current")
    val ver = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed reference at $dir"))
    s"$dir/v=$ver"
  }

  /** Counts frame (`w, c_a` = reference, `c_b` = snapshot) of a
    * snapshot against a persisted reference — feed
    * [[tokenDriftFromCounts]] / [[driftSummaryFromCounts]]; equal by
    * construction to `wordCounts(referenceCorpus, snapshot)` with the
    * reference corpus never rescanned.
    */
  def referenceWordCounts(snapshot: DataFrame, dir: String): DataFrame =
    countsJoin(
      readReferenceCounts(snapshot.sparkSession, dir)
        .select(col("w"), col("c").as("c_a")),
      wordsOf(snapshot).groupBy(col("w")).agg(count(lit(1)).as("c_b")))

  private def totalsOf(cnt: DataFrame): DataFrame =
    cnt.agg(
      sum(col("c_a")).as("tot_a"), sum(col("c_b")).as("tot_b"),
      count(lit(1)).as("v_union"))

  /** Top-`topK` drifting words between snapshots A and B, ranked by the
    * exact integer TV-mass delta. Columns: `word, c_a, c_b, p_a, p_b`
    * (each ONE div of exact operands), `delta_num` =
    * c_a*tot_b - c_b*tot_a (int64; its abs, summed over the vocab, is
    * the TV numerator), and `lift` = smoothed frequency ratio
    * (c_a+1)(tot_b+V) / ((c_b+1)(tot_a+V)) as one div of exact int64
    * products. Ties at the cut break on the word itself so the top-K
    * SET is engine-independent.
    *
    * int64 ranges: products are <= c * tot <= tot^2; exact for corpora
    * to ~3e9 tokens per snapshot. Beyond that, pre-aggregate per
    * source/shard and diff shards (the numbers a drift DASHBOARD wants
    * are per-slice anyway).
    */
  def tokenDrift(docsA: DataFrame, docsB: DataFrame,
                 topK: Int = 20): DataFrame =
    tokenDriftFromCounts(wordCounts(docsA, docsB), topK)

  /** [[tokenDrift]] over a precomputed [[wordCounts]] frame. */
  def tokenDriftFromCounts(cnt: DataFrame, topK: Int = 20): DataFrame = {
    val totals = totalsOf(cnt)
    cnt.crossJoin(broadcast(totals))
      .select(col("w").as("word"), col("c_a"), col("c_b"),
        (col("c_a").cast("double") / col("tot_a").cast("double"))
          .as("p_a"),
        (col("c_b").cast("double") / col("tot_b").cast("double"))
          .as("p_b"),
        (col("c_a") * col("tot_b") - col("c_b") * col("tot_a"))
          .as("delta_num"),
        (((col("c_a") + 1) * (col("tot_b") + col("v_union"))).cast("double")
          / ((col("c_b") + 1) * (col("tot_a") + col("v_union")))
            .cast("double")).as("lift"))
      .orderBy(abs(col("delta_num")).desc, col("word").asc)
      .limit(topK)
  }

  /** One-row drift panel between snapshots A and B:
    * `tot_a, tot_b, vocab_a, vocab_b, vocab_union`,
    * `tv_num` = sum |c_a*tot_b - c_b*tot_a| (exact int64),
    * `tv` = tv_num / (2*tot_a*tot_b) in [0,1] (denominator multiplied
    * in double — deterministic IEEE, overflow-free at any scale),
    * `kl_ab_num`/`kl_ba_num` = add-one-smoothed KL numerators in
    * bucketed bits: sum_w c_a(w) * [blog2((c_a+1)(tot_b+V)) -
    * blog2((c_b+1)(tot_a+V))] (exact int64; the bucketed-log margin
    * device from LmScore.contrastiveScore), and `kl_ab_bits`/
    * `kl_ba_bits` = numerator / tot (one div each). Bucketed KL is
    * coarse (floor-log2 quantization) but exact and mergeable — the
    * monitor wants "did it move and which direction", not nats to four
    * places; scoreDocsPrecise-style float KL can sit beside it in sbt.
    */
  def driftSummary(docsA: DataFrame, docsB: DataFrame): DataFrame =
    driftSummaryFromCounts(wordCounts(docsA, docsB))

  /** [[driftSummary]] over a precomputed [[wordCounts]] frame. */
  def driftSummaryFromCounts(cnt: DataFrame): DataFrame = {
    val totals = totalsOf(cnt)
    val margAB = blog2((col("c_a") + 1) * (col("tot_b") + col("v_union"))) -
      blog2((col("c_b") + 1) * (col("tot_a") + col("v_union")))
    cnt.crossJoin(broadcast(totals))
      .agg(
        first(col("tot_a")).as("tot_a"),
        first(col("tot_b")).as("tot_b"),
        sum(when(col("c_a") > 0, 1L).otherwise(0L)).as("vocab_a"),
        sum(when(col("c_b") > 0, 1L).otherwise(0L)).as("vocab_b"),
        count(lit(1)).as("vocab_union"),
        sum(abs(col("c_a") * col("tot_b") - col("c_b") * col("tot_a")))
          .as("tv_num"),
        sum(col("c_a") * margAB).as("kl_ab_num"),
        sum(col("c_b") * negate(margAB)).as("kl_ba_num"))
      .select(col("tot_a"), col("tot_b"), col("vocab_a"), col("vocab_b"),
        col("vocab_union"), col("tv_num"),
        (col("tv_num").cast("double")
          / (lit(2.0d) * col("tot_a").cast("double")
            * col("tot_b").cast("double"))).as("tv"),
        col("kl_ab_num"),
        (col("kl_ab_num").cast("double") / col("tot_a").cast("double"))
          .as("kl_ab_bits"),
        col("kl_ba_num"),
        (col("kl_ba_num").cast("double") / col("tot_b").cast("double"))
          .as("kl_ba_bits"))
  }

  /** Full-precision twin of [[driftSummaryFromCounts]]'s KL columns:
    * add-one-smoothed KL divergence in NATS (`kl_ab_nats`,
    * `kl_ba_nats`), for in-engine thresholds and dashboards where
    * cross-engine bit-equality is not required — float log sums are
    * order-dependent, so this column can never sit on the oracle
    * surface (the LmScore scoreDocs/scoreDocsPrecise split). The
    * bucketed panel's floor-log2 term error is in (-1, 1) bits, so
    * `kl_*_bits` and `kl_*_nats / ln 2` agree within 1 bit — pinned in
    * sbt.
    */
  def klPrecise(cnt: DataFrame): DataFrame = {
    val totals = totalsOf(cnt)
    def lg(c: Column, tot: Column): Column =
      log((c + 1).cast("double") * (tot + col("v_union")).cast("double"))
    val marg = lg(col("c_a"), col("tot_b")) - lg(col("c_b"), col("tot_a"))
    cnt.crossJoin(broadcast(totals))
      .agg(
        (sum(col("c_a").cast("double") * marg)
          / first(col("tot_a")).cast("double")).as("kl_ab_nats"),
        (sum(col("c_b").cast("double") * negate(marg))
          / first(col("tot_b")).cast("double")).as("kl_ba_nats"))
  }

  /** Per-SOURCE drift between snapshots A and B — which slice moved.
    * A global TV (q79) says THAT the corpus moved; operators act on
    * slices, so this localizes it: one row per source with the
    * source-conditional total-variation distance and the top-moving
    * word within that source. Columns: `source, tot_a, tot_b,
    * vocab_union, tv_num` (exact int64), `tv` (one deterministic IEEE
    * chain; NULL when either side of the source is empty — TV against
    * an empty distribution is a boundary convention, not a number this
    * monitor should invent), `top_word, top_delta_num` (ties break on
    * the word). Shape: one word explode per snapshot, then everything
    * is (source x vocab)-sized; the count frame is checkpointed once.
    */
  def sourceDrift(docsA: DataFrame, docsB: DataFrame): DataFrame = {
    def cnts(d: DataFrame, as: String) =
      d.select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as(as))
    // lazy, as countsJoin: the per-source totals aggregation
    // materializes the frame for the report join — no dedicated job
    sourceDriftFromCounts(cnts(docsA, "c_a")
      .join(cnts(docsB, "c_b"), Seq("source", "w"), "full_outer")
      .na.fill(0L, Seq("c_a", "c_b"))
      .localCheckpoint(false))
  }

  /** [[sourceDrift]] with the A side read from a persisted reference —
    * requires the baseline to have been written from a corpus WITH a
    * source column ([[writeReferenceCounts]] then stores the
    * (source × vocab) table); identical output by construction to
    * `sourceDrift(referenceCorpus, snapshot)`.
    */
  def sourceDriftVsReference(snapshot: DataFrame,
                             dir: String): DataFrame = {
    val spark = snapshot.sparkSession
    // inferred: the `source` column has the writing corpus' type
    val live = liveReferenceDir(spark, dir)
    val ca = spark.read.parquet(s"$live/source_counts")
      .select(col("source"), col("w"), col("c").as("c_a"))
    val cb = snapshot
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_b"))
    sourceDriftFromCounts(ca.join(cb, Seq("source", "w"), "full_outer")
      .na.fill(0L, Seq("c_a", "c_b"))
      .localCheckpoint(true))
  }

  private def sourceDriftFromCounts(cnt: DataFrame): DataFrame = {
    val totals = cnt.groupBy(col("source")).agg(
      sum(col("c_a")).as("tot_a"), sum(col("c_b")).as("tot_b"))
    val j = cnt.join(broadcast(totals), Seq("source"))
      .withColumn("delta_num",
        col("c_a") * col("tot_b") - col("c_b") * col("tot_a"))
    val sums = j.groupBy(col("source")).agg(
      first(col("tot_a")).as("tot_a"), first(col("tot_b")).as("tot_b"),
      count(lit(1)).as("vocab_union"),
      sum(abs(col("delta_num"))).as("tv_num"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(abs(col("delta_num")).desc, col("w").asc)
    val top = j.withColumn("rk", row_number().over(rankW))
      .filter(col("rk") === 1)
      .select(col("source"), col("w").as("top_word"),
        col("delta_num").as("top_delta_num"))
    sums.join(top, Seq("source"))
      .select(col("source"), col("tot_a"), col("tot_b"),
        col("vocab_union"), col("tv_num"),
        when(col("tot_a") > 0 && col("tot_b") > 0,
          col("tv_num").cast("double")
            / (lit(2.0d) * col("tot_a").cast("double")
              * col("tot_b").cast("double"))).as("tv"),
        col("top_word"), col("top_delta_num"))
      .orderBy(col("source"))
  }

  /** Document-length (n_tok = word count) distribution drift: the exact
    * two-sample KS statistic plus a KLL-sketch estimate of the same
    * number. One row: `n_a, n_b` (doc counts), `ks_num` =
    * max_v |cumA(v)*n_b - cumB(v)*n_a| (exact int64 over the
    * distinct-length value table), `ks` = ks_num / (n_a*n_b) (IEEE div,
    * double-product denominator), `kll_ks_ok` = |KS from two k=`kllK`
    * KLL sketches - exact| <= `gate`. Gate width: each KLL rank query
    * is within ~1/100 normalized rank at k=200 (SketchSpec pins 0.02 on
    * fixed corpora); the estimate differs from exact by at most two
    * rank errors, so 0.08 is ~4x the pinned worst case — trip means
    * estimator breakage, not tail luck (q46 `hll_ok` pattern; the SQL
    * oracle pins it true).
    *
    * Exact-path shape: groupBy(n_tok) per snapshot (corpus-sized scan,
    * value-table-sized result), then ONE single-partition window over
    * the distinct-length table — bounded by max document length, not
    * corpus size. The KLL side is two tiny aggregates; the two sketch
    * blobs are the only driver collect.
    *
    * AT SCALE: this signature's exact path re-scans BOTH corpora per
    * call. For a 100-TB reference side, persist the baseline once with
    * [[writeReferenceCounts]] and call [[lengthDriftVsReference]] —
    * identical output, reference never rescanned — and lean on the KLL
    * estimate (`kll_ks_ok` gates it against exact here) where the
    * value table itself is the cost.
    */
  def lengthDrift(docsA: DataFrame, docsB: DataFrame,
                  kllK: Int = 200, gate: Double = 0.08): DataFrame = {
    val F = graft.functions.functions
    // native codegen word count (q19 pins tokenize-count == space-split
    // count on this corpus shape; a HOF filter here would be
    // CodegenFallback per row)
    def lens(docs: DataFrame): DataFrame =
      docs.select(size(graft.functions.functions.tokenize(col("text")))
        .as("n_tok"))
    // lazy checkpoints: each side still evaluates once (sketch agg
    // materializes the blocks, the value-table groupBy reads them) but
    // without a separate materialization job per side
    val la = lens(docsA).localCheckpoint(false)
    val lb = lens(docsB).localCheckpoint(false)
    // sketch and doc count in ONE aggregation per side (each was its
    // own job over the checkpointed lengths before)
    def skAndN(l: DataFrame): (Array[Byte], Long) = {
      val r = l.agg(F.kll_agg(col("n_tok").cast("double"), kllK),
        count(lit(1))).head()
      (r.getAs[Array[Byte]](0), r.getLong(1))
    }
    val (skA, nA) = skAndN(la)
    val (skB, nB) = skAndN(lb)
    ksFromSides(
      la.groupBy(col("n_tok")).agg(count(lit(1)).as("cnt_a")),
      nA, graft.core.KllSketch.deserialize(skA),
      lb.groupBy(col("n_tok")).agg(count(lit(1)).as("cnt_b")),
      nB, graft.core.KllSketch.deserialize(skB), gate)
  }

  /** [[lengthDrift]] with the A side read from a persisted reference
    * ([[writeReferenceCounts]] stores the length value-table AND the
    * build-time KLL blob, so neither side of the statistic rescans the
    * reference corpus). Output identical by construction to
    * `lengthDrift(referenceCorpus, snapshot)`.
    */
  def lengthDriftVsReference(snapshot: DataFrame, dir: String,
                             kllK: Int = 200,
                             gate: Double = 0.08): DataFrame = {
    val spark = snapshot.sparkSession
    val F = graft.functions.functions
    val live = liveReferenceDir(spark, dir)
    // pinned: a later writeReferenceCounts GCs this version's files
    val va = T.Drift.Lengths.read(spark, live)
      .select(col("n_tok"), col("cnt").as("cnt_a"))
      .localCheckpoint(true)
    val meta = T.Drift.LengthSketch.read(spark, live).head()
    val nA = meta.getAs[Long]("n_docs")
    val a = graft.core.KllSketch.deserialize(meta.getAs[Array[Byte]]("kll"))
    val lb = snapshot
      .select(size(F.tokenize(col("text"))).as("n_tok"))
      .localCheckpoint(false)
    // sketch and doc count in ONE aggregation job (the lengthDrift
    // skAndN fusion — these were two separate snapshot passes)
    val bRow = lb.agg(F.kll_agg(col("n_tok").cast("double"), kllK),
      count(lit(1))).head()
    ksFromSides(va, nA, a,
      lb.groupBy(col("n_tok")).agg(count(lit(1)).as("cnt_b")),
      bRow.getLong(1),
      graft.core.KllSketch.deserialize(bRow.getAs[Array[Byte]](0)), gate)
  }

  /** The KS machinery shared by [[lengthDrift]] and
    * [[lengthDriftVsReference]]: exact numerator over the joined
    * value tables (cross-multiplied cumulative counts, int64), sketch
    * estimate on the two KLL quantile grids.
    */
  private def ksFromSides(va: DataFrame, nA: Long, a: graft.core.KllSketch,
                          vb: DataFrame, nB: Long, b: graft.core.KllSketch,
                          gate: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tok"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = va.join(vb, Seq("n_tok"), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
      .select(col("n_tok"),
        sum(col("cnt_a")).over(w).as("cum_a"),
        sum(col("cnt_b")).over(w).as("cum_b"))
    val ksRow = cum
      .agg(max(abs(col("cum_a") * lit(nB) - col("cum_b") * lit(nA)))
        .as("ks_num"))
    // evaluate |F_A - F_B| on both sketches' quantile grids (the KS sup
    // is attained at a support point of one of the samples; 401 grid
    // points per side covers every retained-item step at k=200)
    val estKs = (0 to 400).iterator.flatMap { i =>
      val q = i / 400.0
      Iterator(a.quantile(q), b.quantile(q))
    }.map(v => math.abs(a.rank(v) - b.rank(v))).max
    ksRow.select(lit(nA).as("n_a"), lit(nB).as("n_b"), col("ks_num"),
      (col("ks_num").cast("double")
        / (lit(nA).cast("double") * lit(nB).cast("double"))).as("ks"),
      (abs(lit(estKs) - col("ks_num").cast("double")
        / (lit(nA).cast("double") * lit(nB).cast("double"))) <= gate)
        .as("kll_ks_ok"))
  }

  /** EMBEDDING-distribution drift between two snapshots — the monitor
    * for the failure mode the IVF append gate catches at the index:
    * the corpus's embedding distribution moving (new encoder version,
    * new modality mix) breaks ANN recall and semantic-dedup thresholds
    * silently. One row: `n_a, n_b`, `cos_means` = cosine between the
    * two mean vectors (computed on the SUM vectors — the 1/n factors
    * cancel in the ratio), `l1_num`/`l1_mean_delta` = summed per-dim
    * cross-multiplied mean delta, `top_dim`/`top_delta_num` = the
    * dimension that moved most (ties take the SMALLER dim — the
    * engine-wide tie convention; the SQL twin mirrors it).
    *
    * Exactness device: each component is quantized to 2^10 fixed
    * point (round-half-away-from-zero — the semantics Spark and
    * DuckDB share), so every sum/dot/norm is EXACT int64 arithmetic,
    * and the two doubles are deterministic IEEE chains over exact
    * operands (sqrt is correctly rounded, so it is as portable as
    * division). int64 bounds: |s_d| ≤ n·2^10·max|v|, dot ≤
    * dims·max|s|² — safe beyond 10^7 vectors/side at |v| ≤ 4;
    * pre-slice beyond that. Shape: one posexplode per side →
    * dims-sized frames; the checkpoint is 64 rows.
    */
  def embeddingDrift(embA: DataFrame, embB: DataFrame,
                     embCol: String = "embedding"): DataFrame = {
    def sums(df: DataFrame, as: String) =
      df.select(posexplode(col(embCol)).as(Seq("dim", "v")))
        .groupBy(col("dim"))
        .agg(sum(round(col("v").cast("double") * 1024).cast("bigint"))
          .as(as))
    val j = sums(embA, "s_a").join(sums(embB, "s_b"), Seq("dim"),
        "full_outer")
      .na.fill(0L, Seq("s_a", "s_b"))
      .localCheckpoint(true)
    embeddingDriftFromSums(j, embA.count(), embB.count())
  }

  /** The statistic over a joined (dim, s_a, s_b) sum frame — shared by
    * [[embeddingDrift]] and [[embeddingDriftVsReference]].
    */
  private def embeddingDriftFromSums(j: DataFrame, nA: Long,
                                     nB: Long): DataFrame = {
    val delta = col("s_a") * lit(nB) - col("s_b") * lit(nA)
    j.agg(
        sum(col("s_a") * col("s_b")).as("dot"),
        sum(col("s_a") * col("s_a")).as("n2a"),
        sum(col("s_b") * col("s_b")).as("n2b"),
        sum(abs(delta)).as("l1_num"),
        max(struct(abs(delta).as("d"), negate(col("dim")).as("ndim"),
          delta.as("raw"))).as("__top"))
      .select(lit(nA).as("n_a"), lit(nB).as("n_b"),
        (col("dot").cast("double")
          / (sqrt(col("n2a").cast("double"))
            * sqrt(col("n2b").cast("double")))).as("cos_means"),
        col("l1_num"),
        (col("l1_num").cast("double")
          / (lit(nA).cast("double") * lit(nB).cast("double")
            * lit(1024.0d))).as("l1_mean_delta"),
        negate(col("__top.ndim")).as("top_dim"),
        col("__top.raw").as("top_delta_num"))
  }

  /** Persist the embedding baseline — the dims-sized fixed-point sum
    * vector plus the vector count — so later snapshots screen with
    * [[embeddingDriftVsReference]] without rescanning the reference
    * (the reference-counts pattern for the embedding table, committed
    * by one `graft.store.Store` swap of `sums`).
    */
  def writeEmbeddingReference(emb: DataFrame, dir: String,
                              embCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    val n = emb.count()
    Store.swap(spark, dir, "sums") { next =>
      T.Drift.Sums.check(emb.select(posexplode(col(embCol)).as(Seq("dim", "v")))
          .groupBy(col("dim"))
          .agg(sum(round(col("v").cast("double") * 1024).cast("bigint"))
            .as("s"))
          .withColumn("n_vecs", lit(n)))
        .coalesce(1)
        .write.mode("overwrite").parquet(next)
    }
  }

  /** [[embeddingDrift]] with the A side read from a persisted
    * [[writeEmbeddingReference]] — identical output by construction.
    */
  def embeddingDriftVsReference(snapshot: DataFrame, dir: String,
                                embCol: String = "embedding"): DataFrame = {
    val spark = snapshot.sparkSession
    Store.heal(spark, dir, "sums")
    val ref = T.Drift.Sums.read(spark, dir).localCheckpoint(true)
    val nA = ref.head().getAs[Long]("n_vecs")
    val sb = snapshot
      .select(posexplode(col(embCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(sum(round(col("v").cast("double") * 1024).cast("bigint"))
        .as("s_b"))
    val j = ref.select(col("dim"), col("s").as("s_a"))
      .join(sb, Seq("dim"), "full_outer")
      .na.fill(0L, Seq("s_a", "s_b"))
      .localCheckpoint(true)
    embeddingDriftFromSums(j, nA, snapshot.count())
  }

  /** Streaming twin of [[embeddingDrift]]: per-window drift vs the
    * persisted [[writeEmbeddingReference]] baseline, computed off the
    * windowed sum rows emitted by
    * [[graft.streaming.StreamingSketches.windowedEmbeddingSums]] —
    * the windowedTokenDrift pattern: the stream keeps only dims-sized
    * sums per open window, finalized windows land in a sink, and this
    * batch READER turns each into the exact q92 statistic against the
    * baseline (reference side = A, window = B; all int64 arithmetic,
    * so the numbers equal a direct `embeddingDrift(referenceCorpus,
    * windowSlice)` bit-for-bit).
    */
  def windowedEmbeddingDrift(windowed: DataFrame,
                             dir: String): DataFrame = {
    val spark = windowed.sparkSession
    Store.heal(spark, dir, "sums")
    val ref = T.Drift.Sums.read(spark, dir)
      .select(col("dim"), col("s").as("s_a"), col("n_vecs").as("n_a"))
      .localCheckpoint(true)
    val keys = Seq("win_start", "win_end")
    val w = windowed.select(keys.map(col) ++
        Seq(col("dim"), col("s").as("s_b"), col("n_vecs").as("n_b")): _*)
      .localCheckpoint(true) // windows×dims; independent lineage (sink views)
    // per-dim counts must agree within a window — ragged vectors would
    // otherwise mis-normalize SILENTLY; the check rides the existing
    // aggregation (raise_error column, no extra pass)
    val winMeta = w.groupBy(keys.map(col): _*)
      .agg(max(col("n_b")).as("n_b"), min(col("n_b")).as("__min"))
      .select(keys.map(col) :+
        when(col("__min") =!= col("n_b"), raise_error(concat(
          lit("windowedEmbeddingDrift: ragged vectors in window "),
          col("win_start").cast("string"))))
          .otherwise(col("n_b")).as("n_b"): _*)
    // per-window dim grid = REFERENCE dims ∪ WINDOW dims (the
    // windowedTokenDrift onRef/offRef device). The old grid was
    // reference-only, so a window dim absent from the baseline — the
    // encoder-upgrade scenario this monitor exists to catch — was
    // silently dropped from dot/norm/l1/top-mover, breaking the
    // documented bit-for-bit parity with embeddingDrift's full_outer
    // grid exactly there (ADVICE r05 #1).
    val gridCols = keys.map(col) ++
      Seq(col("dim"), col("s_a"), col("n_a"), col("s_b"), col("n_b"))
    val refNa = ref.agg(max(col("n_a")).as("n_a"))
    val onRef = winMeta.crossJoin(broadcast(ref))
      .join(w.select(keys.map(col) ++ Seq(col("dim"), col("s_b")): _*),
        keys :+ "dim", "left")
      .na.fill(0L, Seq("s_b"))
      .select(gridCols: _*)
    val offRef = w
      .select(keys.map(col) ++ Seq(col("dim"), col("s_b")): _*)
      .join(broadcast(ref.select(col("dim"))), Seq("dim"), "left_anti")
      .join(winMeta, keys)
      .crossJoin(broadcast(refNa))
      .withColumn("s_a", lit(0L))
      .select(gridCols: _*)
    val j = onRef.unionByName(offRef)
    val delta = col("s_a") * col("n_b") - col("s_b") * col("n_a")
    j.groupBy(keys.map(col): _*)
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(col("s_a") * col("s_b")).as("dot"),
        sum(col("s_a") * col("s_a")).as("n2a"),
        sum(col("s_b") * col("s_b")).as("n2b"),
        sum(abs(delta)).as("l1_num"),
        max(struct(abs(delta).as("d"), negate(col("dim")).as("ndim"),
          delta.as("raw"))).as("__top"))
      .select(keys.map(col) ++ Seq(col("n_a"), col("n_b"),
        (col("dot").cast("double")
          / (sqrt(col("n2a").cast("double"))
            * sqrt(col("n2b").cast("double")))).as("cos_means"),
        col("l1_num"),
        (col("l1_num").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")
            * lit(1024.0d))).as("l1_mean_delta"),
        negate(col("__top.ndim")).as("top_dim"),
        col("__top.raw").as("top_delta_num")): _*)
      .orderBy(col("win_start"))
  }

  /** Streaming twin of [[lengthDriftVsReference]]: EXACT per-window
    * two-sample KS against the persisted baseline, computed off the
    * windowed value-count rows from
    * [[graft.streaming.StreamingSketches.windowedLengthCounts]]. The
    * window side carries exact counts (its value table IS the state),
    * so unlike the batch operator there is no estimate and no gate —
    * every column is exact integer arithmetic plus the one KS
    * division. One row per finalized window:
    * `win_start, win_end, n_a, n_b, ks_num, ks` (reference = A).
    */
  def windowedLengthDrift(windowed: DataFrame, dir: String): DataFrame = {
    val spark = windowed.sparkSession
    val live = liveReferenceDir(spark, dir)
    val va = T.Drift.Lengths.read(spark, live)
      .select(col("n_tok"), col("cnt").as("cnt_a"))
      .localCheckpoint(true)
    val nA = T.Drift.LengthSketch.read(spark, live)
      .head().getAs[Long]("n_docs")
    val keys = Seq("win_start", "win_end")
    val w = windowed.select(keys.map(col) ++
        Seq(col("n_tok"), col("cnt").as("cnt_b")): _*)
      .localCheckpoint(true) // windows×values; independent lineage
    val winMeta = w.groupBy(keys.map(col): _*)
      .agg(sum(col("cnt_b")).as("n_b"))
    // per-window value grid = union of the reference's values and the
    // window's (both sides' cumulative counts must step at every value)
    val grid = winMeta.crossJoin(broadcast(va.select(col("n_tok"))))
      .select(keys.map(col) :+ col("n_tok"): _*)
      .unionByName(w.select(keys.map(col) :+ col("n_tok"): _*))
      .distinct()
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("n_tok"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid
      .join(broadcast(va), Seq("n_tok"), "left")
      .join(w, keys :+ "n_tok", "left")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
      .select(keys.map(col) ++ Seq(col("n_tok"),
        sum(col("cnt_a")).over(cumW).as("cum_a"),
        sum(col("cnt_b")).over(cumW).as("cum_b")): _*)
      .join(winMeta, keys)
      .groupBy(keys.map(col): _*)
      .agg(first(col("n_b")).as("n_b"),
        max(abs(col("cum_a") * col("n_b") - col("cum_b") * lit(nA)))
          .as("ks_num"))
      .select(keys.map(col) ++ Seq(lit(nA).as("n_a"), col("n_b"),
        col("ks_num"),
        (col("ks_num").cast("double")
          / (lit(nA).cast("double") * col("n_b").cast("double")))
          .as("ks")): _*)
      .orderBy(col("win_start"))
  }

  /** Streaming twin of the token-drift monitor: per-window drift vs a
    * REFERENCE token distribution, computed off the windowed sketch
    * panel's Misra-Gries column
    * ([[graft.streaming.StreamingSketches.windowedSourceSketches]] with
    * `freqK > 0`). The stream itself maintains ONE k-bounded buffer per
    * open window — no per-token state, no second streaming aggregation;
    * finalized windows land in a sink, and this READER (batch, over the
    * sink — the trendingGrams pattern) turns each into a drift row
    * without touching the stream again.
    *
    * Per (win_start, win_end, source): `tv_num` =
    * sum_t |c_win(t)·ref_total − c_ref(t)·n_tokens| over the union of
    * the reference vocabulary and the window's sketch entries, `tv` the
    * [0,1] total-variation distance from it (one deterministic IEEE
    * chain), `top_token`/`top_delta_num` the largest mover (ties break
    * on the token string — max over a (|delta|, t) struct), and `exact`
    * = the sketch's maxError was 0 for this window (window vocab ≤
    * freqK), in which case every number is EXACT — the regime the
    * panel is sized for. Past that regime entry counts are lower
    * bounds each within maxError of truth, and `tv` is an estimate.
    *
    * Work shape: windows×refVocab join rows, nothing corpus-sized; the
    * reference frame is checkpointed once (it usually derives from a
    * corpus explode — don't pay that per consumer, the q65 lesson).
    * Each finalized window must appear once (Append-mode sink rows).
    */
  /** [[windowedTokenDrift]] against a persisted
    * [[writeReferenceCounts]] baseline — reads the live word table and
    * feeds it through as the reference side.
    */
  def windowedTokenDriftVsReference(windowed: DataFrame,
                                    dir: String): DataFrame =
    windowedTokenDrift(windowed,
      readReferenceCounts(windowed.sparkSession, dir)
        .select(col("w").as("t"), col("c").as("c_ref")))

  def windowedTokenDrift(windowed: DataFrame, ref: DataFrame): DataFrame = {
    val F = graft.functions.functions
    val keys = Seq("win_start", "win_end", "source")
    val refC = ref.select(col("t").cast("string").as("t"),
        col("c_ref").cast("bigint").as("c_ref"))
      .localCheckpoint(true)
    val totals = refC.agg(sum(col("c_ref")).as("ref_total"))
    val wins = windowed.select(
      keys.map(col) ++ Seq(col("n_tokens"),
        (col("freq_max_err") === 0L).as("exact"), col("freq")): _*)
    // both sides of the joins below derive from `wins`; checkpoint the
    // two windows-sized frames so their lineages (and attribute ids)
    // are independent — a shared-lineage self-join trips Catalyst's
    // conflicting-reference resolution on sink-view plans
    val ent = wins
      .select(keys.map(col) :+
        explode(F.freq_entries(col("freq"))).as("e"): _*)
      .select(keys.map(col) ++
        Seq(col("e._1").as("t"), col("e._2").as("c_win")): _*)
      .localCheckpoint(true)
    val winMeta = wins.select(
      keys.map(col) ++ Seq(col("n_tokens"), col("exact")): _*)
      .localCheckpoint(true)
    val cols = (keys ++ Seq("t", "c_win", "c_ref", "n_tokens", "exact"))
      .map(col)
    // reference vocab per window (absent tokens count as c_win = 0) ...
    val onRef = winMeta.crossJoin(broadcast(refC))
      .join(ent, keys :+ "t", "left")
      .na.fill(0L, Seq("c_win"))
      .select(cols: _*)
    // ... plus window entries OUTSIDE the reference vocab (c_ref = 0)
    val offRef = ent.join(broadcast(refC), Seq("t"), "left_anti")
      .join(winMeta, keys)
      .withColumn("c_ref", lit(0L))
      .select(cols: _*)
    onRef.unionByName(offRef)
      .crossJoin(broadcast(totals))
      .withColumn("delta_num",
        col("c_win") * col("ref_total") - col("c_ref") * col("n_tokens"))
      .groupBy(keys.map(col): _*)
      .agg(first(col("n_tokens")).as("n_tokens"),
        first(col("ref_total")).as("ref_total"),
        sum(abs(col("delta_num"))).as("tv_num"),
        // top mover with SMALLER-token tie-break (min over (-|delta|,
        // t)), matching the engine-wide convention of tokenDrift/
        // sourceDrift (word asc) and the embedding paths (negated dim)
        // — the old max over (|delta|, t) broke ties toward the
        // LARGEST token (ADVICE r05 #2)
        min(struct(negate(abs(col("delta_num"))).as("nd"), col("t").as("t"),
          col("delta_num").as("raw"))).as("__top"),
        first(col("exact")).as("exact"))
      .select(keys.map(col) ++ Seq(col("n_tokens"), col("ref_total"),
        col("tv_num"),
        (col("tv_num").cast("double")
          / (lit(2.0d) * col("n_tokens").cast("double")
            * col("ref_total").cast("double"))).as("tv"),
        col("__top.t").as("top_token"),
        col("__top.raw").as("top_delta_num"),
        col("exact")): _*)
  }
}
