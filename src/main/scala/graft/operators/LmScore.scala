package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{expressions => E}
import graft.store.{Store, Tables => T}
import graft.store.Store.BatchLog

/** CCNet-style n-gram language-model quality scoring (Wenzek et al.
  * 2020): train a smoothed bigram model on a trusted reference slice of
  * the corpus, score every other document by its model fit, and keep the
  * well-modeled ones. The production pipelines behind most open corpora
  * run exactly this shape (a KenLM 5-gram over Wikipedia); here it is a
  * bigram over a deterministic reference sample, built relationally so
  * both sides scale.
  *
  * Two scores:
  *  - [[scoreDocs]] — `bits_per_bigram`: add-one-smoothed bigram NLL in
  *    power-of-two-bucketed bits, floor(log2(c(prev)+V)) -
  *    floor(log2(c(prev,w)+1)) per occurrence (within 1 bit of the true
  *    smoothed NLL term log2((c(prev)+V)/(c(prev,w)+1))). The bucket is
  *    deliberate: every input is an integer count and floor(log2(x)) is
  *    `length(bin(x))-1` — EXACT integer arithmetic any SQL engine
  *    reproduces bit-for-bit (the q52 DuckDB oracle), where a raw
  *    `ln` differs across engines in the last ulp and can flip a rounded
  *    comparison. Ranking quality is preserved (OperatorSpec pins
  *    rank agreement with the precise score on a fixture).
  *  - [[scoreDocsPrecise]] — the full-precision `avg_nll` in nats for
  *    in-engine consumers (sbt-verified against a direct recomputation;
  *    not oracle-hashed, per the engine-wide IEEE rounding rule).
  *
  * Scale design (corpus side is the 100 TB side):
  *  - model counts aggregate the REFERENCE slice only (small by
  *    construction) with map-side partial aggregation; the vocabulary
  *    size joins in as a one-row broadcast, never a driver collect;
  *  - scoring explodes the corpus bigram stream ONCE (native
  *    [[graft.functions.kernels.wordNgramsAll]] kernel — O(len) per doc,
  *    duplicates kept, the HOF formulation is O(len^2) CodegenFallback)
  *    and looks up (bigram, prev-word) counts with two equi-joins on
  *    uniform string keys; Catalyst/AQE broadcasts the model tables
  *    when they fit, otherwise both shuffles hash-partition on keys
  *    with no skew (Zipf mass concentrates on DISTINCT hot grams, but
  *    each (doc,pos) occurrence row is unique — hot grams fan out
  *    across doc partitions and meet the count table row-to-row);
  *  - the per-doc reduce is a sum/count groupBy with partial combine —
  *    one corpus-keyed shuffle of narrow (id, int) rows.
  */
object LmScore {

  /** Occurrence counts of the reference slice's word n-grams of a given
    * order: (ng, c2). Order 2 = the bigram table.
    */
  def ngramCounts(ref: DataFrame, order: Int,
                  textCol: String = "text"): DataFrame =
    ref.select(explode(E.word_ngrams_all(col(textCol), order)).as("ng"))
      .groupBy(col("ng")).agg(count(lit(1)).as("c2"))

  /** Bigram occurrence counts of the reference slice: (ng, c2). */
  def bigramCounts(ref: DataFrame, textCol: String = "text"): DataFrame =
    ngramCounts(ref, 2, textCol)

  /** Context (= order-1 gram) occurrence counts: (w, c1). Order 2 =
    * the unigram table.
    */
  def contextCounts(ref: DataFrame, order: Int,
                    textCol: String = "text"): DataFrame =
    ref.select(explode(E.word_ngrams_all(col(textCol), order - 1)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))

  /** Unigram (word) occurrence counts of the reference slice: (w, c1). */
  def unigramCounts(ref: DataFrame, textCol: String = "text"): DataFrame =
    contextCounts(ref, 2, textCol)

  /** Per-document bucketed-bits LM score of `docs` under an `order`-gram
    * model trained on `ref` (order 2 = bigram, the default; production
    * CCNet models run order 5). Per occurrence the score is
    * floor(log2(c(context)+V)) - floor(log2(c(gram)+1)) with context =
    * the gram's first order-1 words and V = the reference's distinct
    * WORD count (the add-one alphabet is the continuation word,
    * whatever the order). Output per doc (every doc, including those
    * too short to score): `n_bigrams` (long, 0 — the column keeps its
    * q52-pinned name at every order; it counts scored grams),
    * `sum_bits` (long, 0), `bits_per_bigram` (double 4dp, null when
    * unscorable), `keep` = bits_per_bigram <= maxBitsPerBigram (false
    * when unscorable — the engine-wide wordless-docs-fail rule).
    */
  def scoreDocs(docs: DataFrame, ref: DataFrame,
                maxBitsPerBigram: Double = 12.0,
                textCol: String = "text",
                idCol: String = "doc_id",
                order: Int = 2): DataFrame = {
    require(order >= 2, s"order must be >= 2, got $order")
    // LAZY localCheckpoint: the context table feeds BOTH the vocab
    // scalar and the scoring join, and the two references prune to
    // DIFFERENT column sets (vocab drops c1), so exchange reuse cannot
    // share them — uncheckpointed, the reference is exploded and
    // aggregated twice per score (measured on the b14 shape). The
    // checkpoint materializes once inside the first action; the
    // operator stays lazy (the dedupDocs discipline).
    val ctx = contextCounts(ref, order, textCol).localCheckpoint(false)
    // at order 2 the context table IS the word table — don't pay a
    // third reference pass for the vocab scalar
    val vocab = (if (order == 2) ctx else unigramCounts(ref, textCol))
      .agg(count(lit(1)).as("__v"))
    scoreWithCounts(docs, ctx, ngramCounts(ref, order, textCol), vocab,
      maxBitsPerBigram, textCol, idCol, order)
  }

  /** CCNet/fastText-style CONTRASTIVE quality score under two models in
    * ONE corpus pass: per gram, margin = bucketed bits under the
    * good-reference model minus bucketed bits under the bad-reference
    * model (the exact integer arithmetic of [[scoreDocs]], see the
    * object scaladoc — the margin of two bucketed scores is itself
    * cross-engine exact). A doc better modeled by the trusted slice
    * than by the rejected slice scores negative; `keep` =
    * margin_bits_per_gram <= maxMarginBits (false when unscorable).
    *
    * Scale: calling [[scoreDocs]] twice would scan + explode the
    * 100 TB corpus twice and pay the per-doc reduce shuffle twice —
    * here the gram stream explodes ONCE and meets all four count
    * tables (each reference-sized, broadcast when they fit), then one
    * per-doc reduce. Output per doc: n_grams, sum_margin_bits,
    * margin_bits_per_gram (4dp, null when unscorable), keep.
    */
  def contrastiveScore(docs: DataFrame, goodRef: DataFrame,
                       badRef: DataFrame, maxMarginBits: Double = 0.0,
                       textCol: String = "text",
                       idCol: String = "doc_id",
                       order: Int = 2): DataFrame = {
    require(order >= 2, s"order must be >= 2, got $order")
    def blog2(x: Column): Column = length(bin(x)) - 1
    val bigG = ngramCounts(goodRef, order, textCol)
      .withColumnRenamed("c2", "c2g")
    val bigB = ngramCounts(badRef, order, textCol)
      .withColumnRenamed("c2", "c2b")
    // lazily checkpointed for the same vocab-branch sharing as
    // scoreDocs (each context table feeds its vocab scalar AND its
    // scoring join)
    val ctxG = contextCounts(goodRef, order, textCol)
      .withColumnRenamed("w", "wg").withColumnRenamed("c1", "c1g")
      .localCheckpoint(false)
    val ctxB = contextCounts(badRef, order, textCol)
      .withColumnRenamed("w", "wb").withColumnRenamed("c1", "c1b")
      .localCheckpoint(false)
    // order 2: the context tables already are the word tables (the
    // scoreDocs vocab-reuse rule, once per side)
    val vG = (if (order == 2) ctxG.select(col("wg").as("w"))
              else unigramCounts(goodRef, textCol))
      .agg(count(lit(1)).as("__vg"))
    val vB = (if (order == 2) ctxB.select(col("wb").as("w"))
              else unigramCounts(badRef, textCol))
      .agg(count(lit(1)).as("__vb"))
    // the scoreWithCounts join-strategy rule, per side: gram tables
    // shuffled-hash (model-bounded build), order-2 context tables
    // broadcast (vocabulary-bounded) — no corpus-side sorts, one
    // corpus-sized exchange total instead of four
    def ctxSide(ctx: DataFrame): DataFrame =
      if (order == 2) broadcast(ctx) else ctx.hint("shuffle_hash")
    val occ = docs
      .select(col(idCol),
        explode(E.word_ngrams_all(col(textCol), order)).as("ng"))
      .crossJoin(vG).crossJoin(vB) // one row each: no shuffle
      .join(bigG.hint("shuffle_hash"), Seq("ng"), "left")
      .join(bigB.hint("shuffle_hash"), Seq("ng"), "left")
      .withColumn("__prev", substring_index(col("ng"), " ", order - 1))
      .join(ctxSide(ctxG), col("__prev") === col("wg"), "left")
      .join(ctxSide(ctxB), col("__prev") === col("wb"), "left")
      .select(col(idCol),
        ((blog2(coalesce(col("c1g"), lit(0L)) + col("__vg")) -
          blog2(coalesce(col("c2g"), lit(0L)) + lit(1L))) -
          (blog2(coalesce(col("c1b"), lit(0L)) + col("__vb")) -
            blog2(coalesce(col("c2b"), lit(0L)) + lit(1L)))).as("__mb"))
    val perDoc = occ.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_grams"),
      sum(col("__mb")).cast("bigint").as("sum_margin_bits"))
    docs.select(col(idCol))
      .join(perDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("sum_margin_bits"), lit(0L)).as("sum_margin_bits"),
        round(col("sum_margin_bits").cast("double") / col("n_grams"), 4)
          .as("margin_bits_per_gram"))
      .withColumn("keep",
        coalesce(col("margin_bits_per_gram") <= maxMarginBits, lit(false)))
  }

  /** The scoring core both the direct and the persisted-model paths
    * share — one evaluation of the count-table semantics, so the two
    * paths cannot drift (q56 pins equality anyway). `vocab` is a
    * one-row (__v: long) frame holding the distinct-word count.
    */
  private def scoreWithCounts(docs: DataFrame, uni: DataFrame,
                              big: DataFrame, vocab: DataFrame,
                              maxBitsPerBigram: Double,
                              textCol: String, idCol: String,
                              order: Int): DataFrame = {
    // floor(log2(x)) for x >= 1, exact in integers on any engine
    def blog2(x: Column): Column = length(bin(x)) - 1
    val occ = docs
      .select(col(idCol),
        explode(E.word_ngrams_all(col(textCol), order)).as("ng"))
      .crossJoin(vocab) // one row: BroadcastNestedLoopJoin, no shuffle
      // model-table join strategies, chosen deliberately (guide §3.1 —
      // aggregated tables have no size estimate, so without the hints
      // the planner sort-merge-joins BOTH model tables against the
      // corpus gram stream: two full corpus-side exchanges plus sorts,
      // measured as the dominant cost of the b14 workload). The gram
      // table is model-bounded: shuffled-hash builds |big|/partitions
      // rows per task and skips the corpus-side sort. Strategy hints
      // change no result rows.
      .join(big.hint("shuffle_hash"), Seq("ng"), "left")
      .withColumn("__prev", substring_index(col("ng"), " ", order - 1))
      // at order 2 the context table is the reference VOCABULARY —
      // bounded by distinct words, the same artifact loadLmModelLocal
      // ships whole to every worker — so broadcasting it removes the
      // second corpus-sized exchange outright (guide §2.4). Higher
      // orders' context tables grow like gram tables: shuffled-hash.
      .join(if (order == 2) broadcast(uni) else uni.hint("shuffle_hash"),
        col("__prev") === uni("w"), "left")
      .select(col(idCol),
        (blog2(coalesce(col("c1"), lit(0L)) + col("__v")) -
          blog2(coalesce(col("c2"), lit(0L)) + lit(1L))).as("__bits"))
    val perDoc = occ.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_bigrams"),
      sum(col("__bits")).cast("bigint").as("sum_bits"))
    docs.select(col(idCol))
      .join(perDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        round(col("sum_bits").cast("double") / col("n_bigrams"), 4)
          .as("bits_per_bigram"))
      .withColumn("keep",
        coalesce(col("bits_per_bigram") <= maxBitsPerBigram, lit(false)))
  }

  // ----------------- persisted LM model -----------------
  //
  // The production shape (the eval-index / dedup-index twin for LM
  // scoring): the reference corpus changes rarely, training snapshots
  // keep coming — so the count tables persist and new reference batches
  // fold in WITHOUT rescanning old ones. Layout:
  //   dir/uni/batch_id=<b>/   (w, c1)  per-batch unigram counts
  //   dir/big/batch_id=<b>/   (ng, c2) per-batch bigram counts
  //   dir/batches             the graft.store BatchLog of COMMITTED batches
  //   dir/manifest            (order) — probe-compatibility guard
  // Counts are log-structured: each batch holds ITS OWN counts and the
  // reader sums across committed batches (counts are mergeable, the
  // same partial->final property every sketch here leans on). Commits,
  // heals and exactly-once replays are `graft.store.Store.BatchLog`'s:
  // a crashed append leaves an uncommitted partition the reader
  // ignores, and re-running it OVERWRITES that partition and then
  // commits — no double counting, no partial reads.

  /** Build and persist the model from the initial reference batch.
    * `order` > 2 adds a third per-batch count table, `words/` (the
    * distinct-word alphabet the add-one denominator needs; at order 2
    * the context table already is it).
    */
  /** Head size of the build-time drift baseline (see [[writeLmModel]]). */
  private val DriftHeadK = 256

  def writeLmModel(ref: DataFrame, dir: String,
                   textCol: String = "text", order: Int = 2): Unit = {
    require(order >= 2, s"order must be >= 2, got $order")
    val spark = ref.sparkSession
    import spark.implicits._
    writeBatch(ref, dir, 0L, textCol, order)
    // build-time drift baseline (the IVF manifest-baseline pattern,
    // Ann.scala appendToIvfIndex): the top-DriftHeadK unigram counts +
    // the full total, read back from the unigram table JUST written
    // (order 2: uni/ IS the unigram table) — no extra corpus pass.
    // appendToLmModel gates each new batch against this head; the
    // baseline deliberately stays the BUILD distribution across
    // appends and compactions (same semantic as IVF: drift is measured
    // against what the model was validated on, not against whatever it
    // has absorbed since).
    val uniTable =
      if (order > 2) T.Lm.Words.readAt(spark, s"$dir/words/batch_id=0")
      else T.Lm.Uni.readAt(spark, s"$dir/uni/batch_id=0")
    val total = uniTable.agg(coalesce(sum(col("c1")), lit(0L)))
      .head().getLong(0)
    T.Lm.DriftBaseline.check(uniTable.orderBy(col("c1").desc, col("w").asc)
        .limit(DriftHeadK).withColumn("total_words", lit(total)))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/drift_baseline")
    T.Lm.Manifest.check(Seq(order).toDF("order"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest")
    BatchLog.commit(spark, dir, Set(0L), -1L)
  }

  /** Fold a NEW reference batch into the model under caller-chosen
    * `batchId` (exactly-once key: an id already committed, or folded
    * away by a compaction, is a no-op, so retries are safe). Scales with
    * the new batch only — stored batches are never read, let alone
    * rescanned.
    */
  def appendToLmModel(newRef: DataFrame, dir: String, batchId: Long,
                      textCol: String = "text"): Unit = {
    require(batchId > 0, "batchId 0 is the initial build; use > 0")
    val spark = newRef.sparkSession
    val order = readOrder(spark, dir)
    BatchLog.append(spark, dir, batchId) {
      driftGate(newRef, dir, textCol)
      writeBatch(newRef, dir, batchId, textCol, order)
    }
  }

  /** The count tables of reference batch `batchId`, each OVERWRITING its
    * `batch_id=` directory (a replay after a crash rewrites it whole).
    */
  private def writeBatch(ref: DataFrame, dir: String, batchId: Long,
                         textCol: String, order: Int): Unit = {
    T.Lm.Uni.check(contextCounts(ref, order, textCol))
      .write.mode("overwrite").parquet(s"$dir/uni/batch_id=$batchId")
    T.Lm.Big.check(ngramCounts(ref, order, textCol))
      .write.mode("overwrite").parquet(s"$dir/big/batch_id=$batchId")
    if (order > 2) T.Lm.Words.check(unigramCounts(ref, textCol))
      .write.mode("overwrite").parquet(s"$dir/words/batch_id=$batchId")
  }

  private def readOrder(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Int =
    T.Lm.Manifest.read(spark, dir).head().getAs[Int]("order")

  /** Drift gate on model appends (the engine's no-silent-degradation
    * rule applied to its own model, mirroring the IVF append gate at
    * `Ann.appendToIvfIndex`): a reference batch whose word
    * distribution has moved away from the build-time baseline shifts
    * every score the model emits — silently, since the scorer has no
    * ground truth. Before any data write, the new batch's
    * head-restricted total-variation distance to the `drift_baseline`
    * written by [[writeLmModel]] is computed: TV over the baseline's
    * top-[[DriftHeadK]] words with everything else folded into one
    * tail bucket — a LOWER bound on the true TV (merging outcomes can
    * only lower it), computed driver-side from collected exact counts
    * (overflow-free double ratios; a gate, not an oracle surface), one
    * unigram aggregation over the NEW batch only (the stored tables
    * are never read; the only collects are the 256-row head and a
    * 1-row total). If it exceeds `spark.graft.lm.driftTolerance`
    * (default 0.25), the append warns
    * (`spark.graft.lm.driftAction=warn`, the default) or refuses
    * (`=refuse`; `=off` disables, and also skips the batch-side
    * aggregation entirely), pointing at a fresh [[writeLmModel]].
    * Models written before the baseline existed gate as `off`.
    */
  private def driftGate(newRef: DataFrame, dir: String,
                        textCol: String): Unit = {
    val spark = newRef.sparkSession
    val action = spark.conf.get("spark.graft.lm.driftAction", "warn")
    require(Set("warn", "refuse", "off")(action),
      s"spark.graft.lm.driftAction must be warn|refuse|off, got $action")
    if (action == "off") return
    if (!Store.fs(spark, dir).exists(
        new org.apache.hadoop.fs.Path(s"$dir/drift_baseline"))) return
    val tol = spark.conf.get("spark.graft.lm.driftTolerance", "0.25")
      .toDouble
    val head = T.Lm.DriftBaseline.read(spark, dir)
      .collect() // bounded: DriftHeadK rows
    if (head.isEmpty) return // empty build corpus: nothing to gate against
    val totRef = head.head.getAs[Long]("total_words")
    val refHead = head.map(r => r.getAs[String]("w") -> r.getAs[Long]("c1"))
    val headSet = refHead.map(_._1).toSet
    // ONE aggregation over the new batch: per-head-word counts ride a
    // when-chain pivot (head is 256 wide), total in the same pass
    val snapRow = unigramCounts(newRef, textCol)
      .agg(
        sum(col("c1")).as("tot"),
        sum(when(col("w").isInCollection(headSet), col("c1"))
          .otherwise(0L)).as("head_tot"),
        map_from_entries(collect_list(
          when(col("w").isInCollection(headSet),
            struct(col("w"), col("c1"))))).as("head"))
      .head()
    val totB = if (snapRow.isNullAt(0)) 0L else snapRow.getLong(0)
    if (totB == 0L) return // empty batch: nothing to gate
    val headB = snapRow.getMap[String, Long](2)
    val tailRef = totRef - refHead.map(_._2).sum
    val tailB = totB - snapRow.getLong(1)
    // driver-side scalar math over the collected longs — deterministic
    // at any parallelism (double ratios, not cross-products, so the
    // gate cannot overflow at any corpus size)
    val tv = 0.5 * (refHead.map { case (w, cRef) =>
      math.abs(cRef.toDouble / totRef - headB.getOrElse(w, 0L).toDouble / totB)
    }.sum + math.abs(tailRef.toDouble / totRef - tailB.toDouble / totB))
    if (tv > tol) {
      val msg = f"LM model drift gate: new batch sits at head-TV " +
        f"$tv%.4f from the build-time baseline at $dir (tolerance " +
        f"$tol) — folding it in would silently shift every score this " +
        "model emits; rebuild with writeLmModel over the intended " +
        "distribution, raise spark.graft.lm.driftTolerance, or set " +
        "spark.graft.lm.driftAction=off to override"
      if (action == "refuse") throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
  }

  /** [[scoreDocs]] against a persisted model: counts sum across the
    * committed batches (partition-pruned to exactly those — an
    * uncommitted crash leftover is never read), the reference corpus is
    * never rescanned. Identical answer to a direct [[scoreDocs]] over
    * the union of the batches (q56 pins this against the q52 oracle).
    */
  def scoreDocsVsModel(docs: DataFrame, dir: String,
                       maxBitsPerBigram: Double = 12.0,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val m = modelCounts(docs.sparkSession, dir)
    scoreWithCounts(docs, m.uni, m.big, m.vocab, maxBitsPerBigram,
      textCol, idCol, m.order)
  }

  private case class ModelCounts(order: Int, uni: DataFrame,
                                 big: DataFrame, vocab: DataFrame)

  /** The summed count tables of a persisted model (committed batches
    * only, partition-pruned), shared by the relational scorer and the
    * local-model loader. `vocab` is the one-row distinct-word count —
    * at order 2 straight off the context table, above that off the
    * `words/` table (distinct across batches, NOT summed: the same
    * word in two batches is still one alphabet entry).
    */
  private def modelCounts(spark: org.apache.spark.sql.SparkSession,
                          dir: String): ModelCounts = {
    val order = readOrder(spark, dir)
    val committed = BatchLog.read(spark, dir)._1.toSeq
    require(committed.nonEmpty, s"no committed batches at $dir")
    // lazily checkpointed: the summed context table feeds both the
    // vocab scalar and the scoring join (see scoreDocs), and the local
    // loader reads it twice (count guard + collect)
    val uni = T.Lm.Uni.read(spark, dir)
      .filter(col("batch_id").isin(committed: _*))
      .groupBy(col("w")).agg(sum(col("c1")).as("c1"))
      .localCheckpoint(false)
    val big = T.Lm.Big.read(spark, dir)
      .filter(col("batch_id").isin(committed: _*))
      .groupBy(col("ng")).agg(sum(col("c2")).as("c2"))
    val vocab =
      if (order == 2) uni.agg(count(lit(1)).as("__v"))
      else T.Lm.Words.read(spark, dir)
        .filter(col("batch_id").isin(committed: _*))
        .agg(countDistinct(col("w")).as("__v"))
    ModelCounts(order, uni, big, vocab)
  }

  /** Fold every committed batch of a persisted model into ONE
    * consolidated batch — the count-table twin of
    * [[Dedup.compactDedupIndexTables]]: appends stay cheap and
    * log-structured, compaction periodically pays one summing pass so
    * the read path stops re-summing N batch partitions per score.
    * The summed counts land under a FRESH batch id and
    * `Store.BatchLog.compact` switches the log to it: the fold
    * high-water mark rides in the same log swap, so every folded id is
    * permanently burned for appends and replays of folded batches stay
    * no-ops; stale batch dirs are GC'd only after the switch.
    * Answers are unchanged by construction (counts are mergeable;
    * CurationSpec pins score equality before/after), and appends keep
    * working afterwards — the folded batch is just a big batch.
    */
  def compactLmModel(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Unit = {
    val sides = Seq(T.Lm.Uni, T.Lm.Big) ++
      (if (Store.fs(spark, dir).exists(
        new org.apache.hadoop.fs.Path(s"$dir/words")))
        Seq(T.Lm.Words) else Nil)
    BatchLog.compact(spark, dir, sides.map(t => s"$dir/${t.name}")) {
      (committed, newId) =>
        sides.foreach { t =>
          // (key, count): every count table has that shape
          val Array(key, cnt) = t.schema.fieldNames
          t.check(t.read(spark, dir)
              .filter(col("batch_id").isin(committed.toSeq: _*))
              .groupBy(col(key)).agg(sum(col(cnt)).as(cnt)))
            .write.mode("overwrite").parquet(s"$dir/${t.name}/batch_id=$newId")
        }
    }
  }

  /** Full-precision twin of [[scoreDocs]]: per-occurrence NLL
    * -ln((c(prev,w)+1)/(c(prev)+V)) in nats, averaged per doc
    * (`avg_nll`, null when unscorable). Same plan shape; for in-engine
    * thresholds and ranking where cross-engine bit-equality is not
    * required. `keep` = avg_nll <= maxAvgNll.
    */
  def scoreDocsPrecise(docs: DataFrame, ref: DataFrame,
                       maxAvgNll: Double = 9.0,
                       textCol: String = "text",
                       idCol: String = "doc_id",
                       order: Int = 2): DataFrame = {
    require(order >= 2, s"order must be >= 2, got $order")
    // shared context-table evaluation, as in scoreDocs
    val uni = contextCounts(ref, order, textCol).localCheckpoint(false)
    val big = ngramCounts(ref, order, textCol)
    val vocab = (if (order == 2) uni else unigramCounts(ref, textCol))
      .agg(count(lit(1)).as("__v"))
    val occ = docs
      .select(col(idCol),
        explode(E.word_ngrams_all(col(textCol), order)).as("ng"))
      .crossJoin(vocab)
      // same deliberate join strategies as scoreWithCounts
      .join(big.hint("shuffle_hash"), Seq("ng"), "left")
      .withColumn("__prev", substring_index(col("ng"), " ", order - 1))
      .join(if (order == 2) broadcast(uni) else uni.hint("shuffle_hash"),
        col("__prev") === uni("w"), "left")
      .select(col(idCol),
        (log((coalesce(col("c1"), lit(0L)) + col("__v")).cast("double")) -
          log((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double")))
          .as("__nll"))
    val perDoc = occ.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_bigrams"), avg(col("__nll")).as("avg_nll"))
    docs.select(col(idCol))
      .join(perDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll"))
      .withColumn("keep", coalesce(col("avg_nll") <= maxAvgNll, lit(false)))
  }

  // ----------------- row-local model -----------------

  /** An LM model held in memory for ROW-LOCAL scoring — the shape
    * production CCNet-style pipelines actually ship (the KenLM binary
    * every worker loads), and the shape a STREAMING screen needs: the
    * relational scorer's per-doc reduce is a streaming aggregation
    * (state store, watermark, output-mode limits), while a broadcast
    * model scores each row where it stands — stateless, any output
    * mode. The bucketed-bits arithmetic is pure integer, so this path
    * agrees with [[scoreDocs]]/[[scoreDocsVsModel]] BIT-FOR-BIT
    * (CurationSpec pins column equality; StreamingSpec pins micro-batch
    * flags == the batch path) — the same rounding included
    * ([[LocalLmModel.bitsPerBigram]] reproduces Spark's HALF_UP
    * `round(x, 4)` exactly).
    */
  final case class LocalLmModel(order: Int, vocab: Long,
                                uni: java.util.HashMap[String, Long],
                                big: java.util.HashMap[String, Long])
      extends Serializable {

    /** (n_bigrams, sum_bits) of a text — [[scoreDocs]]'s integer core,
      * one pass, same tokenization as
      * [[graft.functions.kernels.wordNgramsAll]] (non-empty
      * single-space-split tokens).
      */
    def score(text: String): (Long, Long) = {
      if (text == null) return (0L, 0L)
      val toks = text.split(" ").filter(_.nonEmpty)
      if (toks.length < order) return (0L, 0L)
      def blog2(x: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(x)
      var sum = 0L
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i + order <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < order - 1) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val c1 = uni.getOrDefault(sb.toString, 0L)
        sb.append(' ').append(toks(i + order - 1))
        val c2 = big.getOrDefault(sb.toString, 0L)
        sum += blog2(c1 + vocab) - blog2(c2 + 1L)
        i += 1
      }
      (toks.length - order + 1L, sum)
    }

    /** `bits_per_bigram` as the relational scorer emits it (4dp,
      * HALF_UP — Spark's `round` on doubles); None when unscorable.
      */
    def bitsPerBigram(text: String): Option[Double] = {
      val (n, sum) = score(text)
      if (n == 0L) None
      else Some(BigDecimal(sum.toDouble / n)
        .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    }

    /** The q52 keep rule, row-locally: false when unscorable. */
    def keep(text: String, maxBitsPerBigram: Double): Boolean =
      bitsPerBigram(text).exists(_ <= maxBitsPerBigram)
  }

  /** Load a persisted model ([[writeLmModel]] layout) into a
    * [[LocalLmModel]]. The collect is bounded by the MODEL (the
    * reference slice's vocabulary, small by construction — the same
    * artifact production ships to every worker), never the corpus;
    * broadcast the result once per streaming query
    * ([[graft.streaming.StreamingSketches.streamingLmScreen]]).
    */
  def loadLmModelLocal(spark: org.apache.spark.sql.SparkSession,
                       dir: String): LocalLmModel = {
    val m = modelCounts(spark, dir)
    // loud driver-memory guard (VERDICT r05 "what's wrong" #1): a
    // bigram table over a large reference slice is O(vocab²)-ish, and
    // an unguarded collect is a silent driver OOM. The counts are
    // model-sized aggregates (one cheap pass, never the corpus);
    // the house rule is loud failure with a pointer at the relational
    // path.
    val maxEntries = spark.conf
      .get("spark.graft.lm.maxLocalModelEntries", "50000000").toLong
    val nUni = m.uni.count()
    val nBig = m.big.count()
    require(nUni + nBig <= maxEntries,
      s"persisted LM model at $dir holds ${nUni + nBig} count entries " +
        s"(uni=$nUni, big=$nBig) > spark.graft.lm.maxLocalModelEntries=" +
        s"$maxEntries; collecting a model this size would OOM the " +
        "driver — score relationally with scoreDocsVsModel, or raise " +
        "the limit if the driver truly has the memory")
    val uni = new java.util.HashMap[String, Long]()
    m.uni.collect().foreach(r =>
      uni.put(r.getAs[String]("w"), r.getAs[Long]("c1")))
    val big = new java.util.HashMap[String, Long]()
    m.big.collect().foreach(r =>
      big.put(r.getAs[String]("ng"), r.getAs[Long]("c2")))
    LocalLmModel(m.order, m.vocab.head().getAs[Long]("__v"), uni, big)
  }
}
