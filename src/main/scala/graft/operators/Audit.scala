package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-document curation AUDIT — the "explain" twin of the composed
  * curation pipeline (q37): instead of silently producing the surviving
  * docs, emit one row PER INPUT DOC with every stage's verdict, the
  * final keep, and the first stage that dropped it. Real pipelines need
  * this view for yield accounting (where did my tokens go?), threshold
  * tuning (what would relaxing the repetition gate recover?), and
  * regression triage (which stage's drops moved between runs?).
  *
  * Stage populations are SEQUENTIAL, matching the pipeline the audit
  * explains: the per-row quality gates (Gopher battery, repetition) are
  * evaluated on every doc, the exact-dup tier on quality survivors, the
  * near-dup CC tier on exact survivors, and the contamination check on
  * near survivors — so `keep` equals the real pipeline's surviving set
  * and the per-stage flags count exactly the docs that stage dropped
  * (a doc that never reached a corpus-dependent stage reads false
  * there, and its `drop_reason` names the earlier stage). Evaluating
  * dedup tiers on the FULL corpus instead would double-charge quality
  * drops to dedup and make the funnel columns un-sum-able.
  *
  * Scale: the quality gates are per-row kernel projections; the dedup
  * tiers are the q27/q31 machinery (digest groupBy, band-bucket join —
  * never all-pairs); contamination is the q35 Bloom-prune + exact
  * verify; the audit adds only id-keyed joins of id-sized flag frames
  * on top. No driver collect anywhere. Each tier's NARROW result
  * (the quality flags, exact drops, near drops and contaminated ids:
  * ids + booleans, corpus-row count but a few bytes per row) is
  * eagerly localCheckpoint'ed: every flag frame is referenced at least
  * twice (once to gate the next tier's population, once in the final
  * flag join), and without materialization Catalyst re-evaluates the
  * whole upstream subtree per reference — the Gopher battery and the
  * LSH band join are exactly the work that must run ONCE at 100 TB.
  * Each tier's survivor POPULATION (`qualitySurv`, `exactSurv`,
  * `nearSurv`) is lazily localCheckpoint'ed too (materialized when the
  * next tier first reads it), and these frames are WIDE: full document
  * rows, text included. Storage cost: up to three corpus-sized text
  * copies (each a subset of the one before) held in executor block
  * storage (memory, spilling to disk) until the returned frame is
  * garbage-collected.
  * (localCheckpoint, not persist: nothing registers in the
  * CacheManager, so no caller-owned lifetime to leak — the house Ann
  * discipline. The op is therefore eager, which a diagnostics pass
  * can afford.)
  */
object Audit {

  /** The audit frame: (id, gopher_ok, repetition_ok, dup_exact,
    * dup_near, contaminated, keep, drop_reason). `drop_reason` is the
    * first failing stage in pipeline order (null for kept docs);
    * `repetition_ok` gates on dup_2gram_frac <= maxDup2gramFrac.
    */
  def curationAudit(docs: DataFrame, evalDocs: DataFrame,
                    maxDup2gramFrac: Double = 0.2,
                    nearDupThreshold: Double = 0.9,
                    numBands: Int = 32, rowsPerBand: Int = 4,
                    contamN: Int = 3, minOverlap: Int = 1,
                    minStopwords: Int = 2,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol)
    // BOTH per-row quality gates off ONE text pass: the battery carries
    // the text through, and the repetition gate (q39's dup_2gram_frac,
    // same kernel and rounding) is a projection on the same frame — a
    // separate repetitionMetrics branch would cost a second corpus scan
    // plus an id-keyed corpus join just to bring two booleans together
    val toksSize = size(filter(split(col(textCol), " "), t => t =!= ""))
    val dup2 = when(toksSize - 1 >= 1,
      round(lit(1.0) -
        size(Decontaminate.wordNgrams(col(textCol), 2)).cast("double") /
          (toksSize - 1).cast("double"), 4))
      .otherwise(lit(0.0))
    val quality = TextAnalysis
      .gopherQualityFlags(docs, minStopwords = minStopwords,
        textCol = textCol, idCol = idCol, carry = Seq(textCol))
      .select(id, col("keep").as("gopher_ok"),
        (dup2 <= maxDup2gramFrac).as("repetition_ok"))
      .localCheckpoint()
    // each tier POPULATION is pinned too (lazy checkpoint): the
    // survivor frames are re-derived from docs by join replay for every
    // consumer (exactDropIds alone reads its input on both join sides),
    // so uncheckpointed each tier re-runs the corpus joins of every
    // tier above it — the spans/dedup/LM double-evaluation pattern,
    // here compounding down the funnel
    val qualitySurv = docs.join(
      quality.filter(col("gopher_ok") && col("repetition_ok")).select(id),
      Seq(idCol), "left_semi")
      .localCheckpoint(false)
    val exactDrops = Dedup.exactDropIds(qualitySurv, textCol, idCol)
      .localCheckpoint()
    val exactSurv = qualitySurv.join(exactDrops, Seq(idCol), "left_anti")
      .localCheckpoint(false)
    val toks = exactSurv.select(id.as("doc_id"),
      graft.functions.functions.tokenize(col(textCol)).as("tokens"))
    val nearDrops = Dedup.nearDupDropIdsCC(
        Dedup.minhashLshPairs(toks, nearDupThreshold, numBands,
          rowsPerBand).select(col("a"), col("b")))
      .withColumnRenamed("doc_id", idCol)
      .localCheckpoint()
    val nearSurv = exactSurv.join(nearDrops, Seq(idCol), "left_anti")
      .localCheckpoint(false)
    val contamIds = Decontaminate.contaminated(nearSurv, evalDocs,
        contamN, minOverlap, textCol = textCol, idCol = idCol)
      .select(id)
      .localCheckpoint()
    quality
      .join(exactDrops.withColumn("__ex", lit(true)), Seq(idCol), "left")
      .join(nearDrops.withColumn("__nr", lit(true)), Seq(idCol), "left")
      .join(contamIds.withColumn("__ct", lit(true)), Seq(idCol), "left")
      .select(id, col("gopher_ok"), col("repetition_ok"),
        coalesce(col("__ex"), lit(false)).as("dup_exact"),
        coalesce(col("__nr"), lit(false)).as("dup_near"),
        coalesce(col("__ct"), lit(false)).as("contaminated"))
      .withColumn("keep",
        col("gopher_ok") && col("repetition_ok") && !col("dup_exact") &&
          !col("dup_near") && !col("contaminated"))
      .withColumn("drop_reason",
        when(!col("gopher_ok"), "gopher")
          .when(!col("repetition_ok"), "repetition")
          .when(col("dup_exact"), "dup_exact")
          .when(col("dup_near"), "dup_near")
          .when(col("contaminated"), "contaminated"))
  }

  /** The funnel: docs per drop stage (kept docs under 'kept') — the
    * one-line yield report on top of [[curationAudit]].
    */
  def curationFunnel(audit: DataFrame): DataFrame =
    audit.groupBy(coalesce(col("drop_reason"), lit("kept")).as("stage"))
      .agg(count(lit(1)).as("n_docs"))

  /** Regression triage between two audit runs (different thresholds,
    * different pipeline versions, different corpus snapshots): the docs
    * whose outcome CHANGED, with both sides' keep and drop_reason. A
    * threshold change moves docs between stages non-locally — a doc the
    * relaxed repetition gate now admits enters the dedup tiers and can
    * evict a DIFFERENT doc from its near-dup cluster — so the diff is
    * over final outcomes, not gate flags. Full-outer on the id: docs
    * present in only one run surface with nulls on the other side
    * (corpus drift is an outcome change too).
    *
    * Scale: one id-keyed join of two id-sized frames (null-safe
    * comparisons so reason NULLs — kept docs — diff correctly); the
    * expensive part is the audits themselves.
    */
  def auditDiff(auditA: DataFrame, auditB: DataFrame,
                idCol: String = "doc_id"): DataFrame = {
    def side(df: DataFrame, tag: String) =
      df.select(col(idCol), col("keep").as(s"keep_$tag"),
        col("drop_reason").as(s"reason_$tag"))
    side(auditA, "a").join(side(auditB, "b"), Seq(idCol), "full_outer")
      .filter(!(col("keep_a") <=> col("keep_b")) ||
        !(col("reason_a") <=> col("reason_b")))
  }
}
