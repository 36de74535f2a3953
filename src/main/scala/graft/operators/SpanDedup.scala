package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{expressions => E}
import graft.store.{Store, Tables => T}
import graft.store.Store.Location
import graft.store.Store.Location.{Catalog, Dir}

/** Substring-level exact deduplication: find verbatim runs of >= minLen
  * word tokens shared across documents and either report them as spans
  * ([[duplicateSpans]]) or excise them ([[exciseSpans]]) — the
  * duplicate-span removal of Lee et al. 2022 ("Deduplicating Training
  * Data Makes Language Models Better"), which doc-level dedup misses:
  * after exact+near doc dedup, the dominant residual duplication in web
  * corpora is the 50-token boilerplate paragraph shared by otherwise
  * different pages.
  *
  * Algorithm (seed -> verify -> merge; no suffix array needed):
  *  1. SEED: every doc emits one rolling hash per word-gram start
  *    position (kernels.gramHashes — native, one O(len) pass per row,
  *    any gram length). One groupBy on the uniform 64-bit hash finds
  *    grams present in >= 2 distinct docs.
  *  2. VERIFY: candidate positions (rare — proportional to duplicated
  *    mass, not corpus size) join back to their doc's text on doc_id
  *    and re-derive the gram STRING (kernels.gramAt); the cross-doc
  *    test reruns on md5(gram string), so a 64-bit seed collision
  *    costs one wasted verify row, never a false span.
  *  3. MERGE: each verified start covers word indices [pos, pos+L);
  *    per-doc maximal runs of covered indices become spans via the
  *    islands trick (idx - row_number), a per-doc-bounded window.
  *
  * 100-TB shape: every shuffle keys on a uniform value (gram hash,
  * gram md5, doc_id); there is no all-pairs join anywhere — two docs
  * sharing a span never meet in a join, they only co-occur in a gram
  * group's count. Total cost = one gram-hash pass + one hash groupBy
  * over the corpus, plus work proportional to MATCHED span mass (the
  * b12 bench pins the linear scaling). Overlapping-span merging is
  * per-doc and bounded by doc length.
  */
object SpanDedup {

  /** Verified shared-gram start positions: (__id, pos, gk) where gk =
    * md5 of the gram string and the gram occurs in >= 2 distinct docs.
    */
  private def verifiedStarts(docs: DataFrame, minLen: Int,
                             textCol: String, idCol: String): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val seeds = docs.select(col(idCol).as("__id"),
      posexplode(E.gram_hashes(col(textCol), minLen)).as(Seq("pos", "gh")))
    // "present in >= 2 distinct docs" ⟺ min(id) != max(id): a plain
    // min/max aggregate gets full map-side partial aggregation (narrow
    // (gh, id, id) partials), where countDistinct plans a two-phase
    // distinct expansion that ships every (gh, id) pair to the shuffle
    val shared = seeds.groupBy(col("gh"))
      .agg(min(col("__id")).as("__mn"), max(col("__id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx")).select(col("gh"))
    val cands = seeds.join(shared, Seq("gh"))
    // exact verify: candidates are matched-seed-sized, so this equi-join
    // against the text reads only the docs that hold a candidate
    // LAZY localCheckpoint: this candidate frame feeds BOTH the
    // string-level shared aggregation below AND the final membership
    // join, and the two consumers shuffle it in different shapes (agg
    // partials vs rows), so exchange reuse cannot share them —
    // uncheckpointed, the ENTIRE upstream (corpus gram-hash explode,
    // hash-level shared aggregation, doc join, per-candidate md5) is
    // evaluated twice per span query (plan-verified: every scan
    // appeared twice in q48's physical plan). The frame is
    // candidate-sized (proportional to duplicated mass, not corpus),
    // so pinning it is cheap; eager=false keeps the operator lazy
    // (the dedupDocs discipline).
    val withG = cands
      .join(docs.select(col(idCol).as("__id"), col(textCol).as("__text")),
        Seq("__id"))
      .select(col("__id"), col("pos"),
        md5(E.gram_at(col("__text"), col("pos"), minLen)).as("gk"))
      .localCheckpoint(false)
    // any occurrence of a string shared by >= 2 docs seeds to the same
    // hash, so ALL its occurrences are candidate rows: the string-level
    // distinct-doc count over candidates equals the corpus-level one,
    // and the result is exact despite the 64-bit seeds
    val sharedStr = withG.groupBy(col("gk"))
      .agg(min(col("__id")).as("__mn2"), max(col("__id")).as("__mx2"))
      .filter(col("__mn2") =!= col("__mx2")).select(col("gk"))
    withG.join(sharedStr, Seq("gk"))
      .select(col("__id"), col("pos"), col("gk"))
  }

  /** Covered word indices per doc with the minimum group key covering
    * each: (__id, idx, mgk).
    */
  private def coveredIndices(docs: DataFrame, minLen: Int,
                             textCol: String, idCol: String): DataFrame =
    verifiedStarts(docs, minLen, textCol, idCol)
      .select(col("__id"), col("gk"),
        explode(sequence(col("pos"), col("pos") + lit(minLen - 1)))
          .as("idx"))
      .groupBy(col("__id"), col("idx")).agg(min(col("gk")).as("mgk"))

  /** Islands step shared by the batch span operators: maximal runs of
    * covered word indices -> (idCol, span_from, span_to, span_tokens,
    * group_key). The window partitions per doc and is bounded by doc
    * length.
    */
  private def spansFromCovered(cov: DataFrame, idCol: String): DataFrame = {
    val isl = cov.withColumn("grp",
      col("idx") - row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("idx"))))
    isl.groupBy(col("__id"), col("grp"))
      .agg(min(col("idx")).as("span_from"),
        (max(col("idx")) + 1).as("span_to"),
        min(col("mgk")).as("group_key"))
      .select(col("__id").as(idCol), col("span_from"), col("span_to"),
        (col("span_to") - col("span_from")).as("span_tokens"),
        col("group_key"))
  }

  /** Maximal cross-doc duplicate spans: one row per (doc, maximal run
    * of word indices covered by some shared >= minLen-gram), as
    * (doc_id, span_from, span_to, span_tokens, group_key) with
    * [span_from, span_to) half-open word-index bounds over the doc's
    * whitespace token stream and group_key = the minimum gram md5 in
    * the span (equal for the copies of a shared passage, so spans are
    * groupable across docs). Word indices count non-empty
    * single-space-split tokens — the tokenization every text operator
    * here shares. Exactly SQL-recomputable (q48's oracle).
    */
  def duplicateSpans(docs: DataFrame, minLen: Int = 50,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    spansFromCovered(coveredIndices(docs, minLen, textCol, idCol), idCol)

  // ----------------- persisted span-gram index -----------------
  //
  // The incremental/streaming form of the span screen, following the
  // engine's index discipline (dedup/emb/eval indexes): persist the
  // corpus' gram keys once; screen any later snapshot or stream
  // against them without rescanning the corpus. The index stores one
  // (gh, gk) row per DISTINCT gram — rolling hash for the cheap join,
  // md5 for the exact verify — so membership joins are narrow and
  // appends are trivially load-is-union (duplicate rows cannot change
  // a semi-join's answer, but they widen it; writes dedupe anyway).
  //
  // Like the dedup index, it lives at one [[Location]] and every
  // operator is written once over it: a directory is the WRITE side
  // (cheap load-is-union appends), a catalog table prefix (the
  // `*Tables` entry points) the READ side. The gram table scales with
  // corpus token count — far bigger than any snapshot — so the catalog
  // layout buckets it on gh (the screen join's probe key): every later
  // screen shuffles ONLY the snapshot side and the corpus-sized gram
  // table reads its buckets in place (PlanSpec-asserted), its one
  // shuffle paid at write/compaction and amortized over every snapshot.

  /** Persist the span-gram index of a corpus under `dir`: grams/
    * (gh, gk) distinct, manifest/ (min_len, n_grams). With `append`,
    * minLen must match the stored manifest (grams of different lengths
    * share neither hashes nor semantics).
    */
  def writeSpanIndex(docs: DataFrame, dir: String, minLen: Int = 50,
                     textCol: String = "text",
                     append: Boolean = false): Unit =
    writeIndex(docs, Dir(dir), minLen, textCol, append)

  /** [[writeSpanIndex]] as managed tables `<prefix>_grams`, bucketed on
    * `gh` into `numBuckets` buckets, and `<prefix>_manifest`.
    */
  def writeSpanIndexTables(docs: DataFrame, tablePrefix: String,
                           numBuckets: Int, minLen: Int = 50,
                           textCol: String = "text"): Unit =
    writeIndex(docs, Catalog(tablePrefix, numBuckets), minLen, textCol,
      append = false)

  private def writeIndex(docs: DataFrame, at: Location, minLen: Int,
                         textCol: String, append: Boolean): Unit = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    if (append) {
      val stored = minLenAt(docs.sparkSession, at)
      require(stored == minLen,
        s"span index at $at was built with minLen=$stored; cannot " +
          s"append minLen=$minLen")
    }
    // (rolling-hash, md5) keys of every distinct gram of the corpus
    val grams = docs.select(col(textCol).as("__text"),
        posexplode(E.gram_hashes(col(textCol), minLen)).as(Seq("pos", "gh")))
      .select(col("gh"),
        md5(E.gram_at(col("__text"), col("pos"), minLen)).as("gk"))
      .distinct()
    commitGrams(grams, at, minLen, append)
  }

  /** Write `grams` at `at`, then replace the manifest with the stored
    * gram count.
    */
  private def commitGrams(grams: DataFrame, at: Location, minLen: Int,
                          append: Boolean): Unit = {
    val spark = grams.sparkSession
    import spark.implicits._
    T.Span.Grams.write(grams, at, append)
    val n = T.Span.Grams.read(spark, at).count()
    T.Span.Manifest.replace(
      Seq((minLen, n)).toDF("min_len", "n_grams").coalesce(1), at)
  }

  /** Stored gram length of a span index. */
  def readSpanIndexMinLen(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Int = minLenAt(spark, Dir(dir))

  /** Stored gram length of a table-layout span index. */
  def readSpanIndexMinLenTables(spark: org.apache.spark.sql.SparkSession,
                                tablePrefix: String): Int =
    minLenAt(spark, Catalog(tablePrefix))

  private def minLenAt(spark: org.apache.spark.sql.SparkSession,
                       at: Location): Int = {
    at.heal(spark, T.Span.Manifest)
    Store.maxOf[Int](T.Span.Manifest.read(spark, at), "min_len",
      s"span index ${at.of(T.Span.Manifest)}")
  }

  /** Fold a DIRECTORY span index — every appended snapshot included —
    * into fresh bucketed tables under `tablePrefix`, deduplicating the
    * cross-append gram rows the load-is-union appends may have
    * accumulated (they widen the directory screens harmlessly; the
    * compacted table stores each gram once). Directory = write side,
    * tables = read side; the gram-table shuffle is paid once per
    * compaction, not once per snapshot screen.
    */
  def compactSpanIndexTables(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String, tablePrefix: String,
                             numBuckets: Int): Unit =
    compact(spark, Dir(indexDir), Catalog(tablePrefix, numBuckets))

  private def compact(spark: org.apache.spark.sql.SparkSession,
                      from: Location, to: Location): Unit =
    commitGrams(T.Span.Grams.read(spark, from).distinct(), to,
      minLenAt(spark, from), append = false)

  /** The one opener of a span index: its gram length, and the verified
    * hits of `docs` against its grams — seeded on the rolling-hash
    * join, verified with the row-local gram-md5 equality.
    *
    * The verify is md5-equality written as `startsWith` over the
    * fixed-length (32-char) md5 hex strings ON PURPOSE: an `===` here
    * is extracted by Catalyst as a SECOND equi-join key, which
    * repartitions both sides on (md5-expr, gh) — recomputing the md5
    * for every position of every doc BEFORE the join (defeating the
    * rolling-hash seed) and disabling the gram table's gh bucketing.
    * As a non-equi residual it stays a post-join condition: the join
    * runs on gh alone and the md5 is computed only for seed-matched
    * candidate pairs (PlanSpec pins both properties).
    */
  private def screen(docs: DataFrame, at: Location, textCol: String,
                     idCol: String): (DataFrame, Int) = {
    val spark = docs.sparkSession
    val minLen = minLenAt(spark, at)
    val grams = T.Span.Grams.read(spark, at)
    val seeds = docs.select(col(idCol), col(textCol).as("__text"),
      posexplode(E.gram_hashes(col(textCol), minLen))
        .as(Seq("pos", "gh")))
    (seeds.join(grams,
        seeds("gh") === grams("gh") &&
          md5(E.gram_at(seeds("__text"), seeds("pos"), minLen))
            .startsWith(grams("gk")))
      .select(seeds(idCol), seeds("pos"), grams("gk")), minLen)
  }

  /** Verified covered gram STARTS of a docs frame against a persisted
    * span index: (doc_id, pos, gk) for every position whose gram
    * occurs in the indexed corpus. STREAMING-SAFE: the text rides
    * through the gram-hash explode (the screens' carry trick), the
    * index contributes one static table, and the verify is a row-local
    * md5 comparison — one stateless stream-static equi-join, no
    * watermark, any output mode. The rolling-hash join is the cheap
    * seed; equality of the gram md5 kills 64-bit collisions, so hits
    * are exact. Span MERGING needs a per-doc window (not expressible
    * on a stream): batch callers use [[duplicateSpansVsIndex]],
    * streaming callers merge downstream (foreachBatch) if they need
    * maximal spans rather than flagged positions.
    */
  def spanHitsVsIndex(docs: DataFrame, indexDir: String,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    screen(docs, Dir(indexDir), textCol, idCol)._1

  /** [[spanHitsVsIndex]] against a table-layout index: identical hits,
    * with the corpus-sized gram table read pre-partitioned on gh — zero
    * corpus-side exchange per screen. Same streaming-safety as the
    * directory form (one stateless stream-static join).
    */
  def spanHitsVsTables(docs: DataFrame, tablePrefix: String,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    screen(docs, Catalog(tablePrefix), textCol, idCol)._1

  /** Maximal spans of a snapshot's docs covered by CORPUS grams (the
    * batch consumer of [[spanHitsVsIndex]]): same output shape as
    * [[duplicateSpans]], but "shared" means present in the indexed
    * corpus — within-snapshot duplication is [[duplicateSpans]]'s job.
    * The corpus is never rescanned; cost = one gram pass over the
    * snapshot + one membership join against the index.
    */
  def duplicateSpansVsIndex(docs: DataFrame, indexDir: String,
                            textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame =
    duplicateSpansAt(docs, Dir(indexDir), textCol, idCol)

  /** [[duplicateSpansVsIndex]] on the table layout. */
  def duplicateSpansVsTables(docs: DataFrame, tablePrefix: String,
                             textCol: String = "text",
                             idCol: String = "doc_id"): DataFrame =
    duplicateSpansAt(docs, Catalog(tablePrefix), textCol, idCol)

  private def duplicateSpansAt(docs: DataFrame, at: Location,
                               textCol: String, idCol: String): DataFrame = {
    val (hits, minLen) = screen(docs, at, textCol, idCol)
    spansFromCovered(
      hits.select(col(idCol).as("__id"), col("gk"),
          explode(sequence(col("pos"), col("pos") + lit(minLen - 1)))
            .as("idx"))
        .groupBy(col("__id"), col("idx")).agg(min(col("gk")).as("mgk")),
      idCol)
  }

  /** Excised-text variant: every doc with its duplicate-span tokens
    * removed — (doc_id, clean_text, n_removed), where clean_text is the
    * doc's kept tokens re-joined with single spaces (runs of separator
    * spaces collapse; newlines live INSIDE tokens and survive) and
    * n_removed counts excised tokens. Docs with no spans pass through
    * (space-normalized) with n_removed = 0; a fully-covered doc keeps
    * an empty clean_text rather than disappearing. The reconstruction
    * is one anti-join plus a per-doc sort-and-join — no window over
    * corpus-wide data, no driver collect.
    */
  def exciseSpans(docs: DataFrame, minLen: Int = 50,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    exciseFromCovered(docs,
      coveredIndices(docs, minLen, textCol, idCol), textCol, idCol)

  /** [[exciseSpans]] against a persisted span-gram index
    * ([[writeSpanIndex]]): remove every token covered by a gram that
    * occurs verbatim in the INDEXED CORPUS — the excision consumer of
    * [[spanHitsVsIndex]], for scrubbing a new snapshot of corpus
    * boilerplate without rescanning the corpus.
    */
  def exciseSpansVsIndex(docs: DataFrame, indexDir: String,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame =
    exciseSpansAt(docs, Dir(indexDir), textCol, idCol)

  /** [[exciseSpansVsIndex]] on the table layout. */
  def exciseSpansVsTables(docs: DataFrame, tablePrefix: String,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame =
    exciseSpansAt(docs, Catalog(tablePrefix), textCol, idCol)

  private def exciseSpansAt(docs: DataFrame, at: Location, textCol: String,
                            idCol: String): DataFrame = {
    val (hits, minLen) = screen(docs, at, textCol, idCol)
    exciseFromCovered(docs,
      hits.select(col(idCol).as("__id"),
        explode(sequence(col("pos"), col("pos") + lit(minLen - 1)))
          .as("idx")),
      textCol, idCol)
  }

  /** Shared reconstruction step of the excision variants: drop covered
    * token indices, re-join the survivors per doc.
    */
  private def exciseFromCovered(docs: DataFrame, covered: DataFrame,
                                textCol: String,
                                idCol: String): DataFrame = {
    val cov = covered.select(col("__id"), col("idx")).distinct()
    val toks = docs.select(col(idCol).as("__id"),
      posexplode(filter(split(col(textCol), " "), t => t =!= ""))
        .as(Seq("idx", "tok")))
    val kept = toks.join(cov, Seq("__id", "idx"), "left_anti")
    val agg = kept.groupBy(col("__id")).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("tok")))),
          s => s("tok")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    docs.select(col(idCol), col(textCol))
      .withColumn("__ntok",
        size(filter(split(coalesce(col(textCol), lit("")), " "),
          t => t =!= "")))
      .join(agg.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__ntok") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_removed"))
  }
}
