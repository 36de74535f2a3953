package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core._
import graft.functions.catalyst.SketchKind
import graft.sources.TokenDoc

/** Sketch maintenance over Structured Streaming.
  *
  * The reference has no streaming (SURVEY.md §2.7), but its merge algebra
  * makes streaming free: a sketch is associative, commutative state, so
  * per-group maintenance is `mapGroupsWithState` where the state is the
  * serialized sketch and every micro-batch folds its rows in — the
  * incremental form of load-is-union (/root/reference/io.go:151-178).
  * Because Bloom build order is irrelevant to the final bits, a stream
  * that has seen rows R equals the batch build over R byte-for-byte
  * (parity asserted in StreamingSpec).
  */
object StreamingSketches {

  /** Rolling per-group sketch state (wire-format bytes — restart-safe in
    * the state store).
    */
  case class SketchState(bloom: Array[Byte], hll: Array[Byte],
                         rows: Long, tokens: Long)

  /** Per-batch emitted update. */
  case class SketchUpdate(source: String, rows: Long, tokens: Long,
                          bloomDistinctEst: Double, hllDistinctEst: Double,
                          bloom: Array[Byte], hll: Array[Byte])

  /** Maintain per-source Bloom + HLL over a (possibly streaming) Dataset
    * of TokenDoc; emits one update per group per micro-batch. Use with
    * `OutputMode.Update` and a query over `.writeStream`.
    *
    * State hygiene: each group's state holds a full serialized filter,
    * so keying by an unbounded-cardinality column grows the state store
    * without limit under the default NoTimeout. `stateTtl` turns on
    * processing-time expiry: a group idle longer than the TTL is
    * dropped from the store (its sketch restarts empty if the key
    * reappears — fine for monitoring panels; checkpoint the emitted
    * dumps if the history matters). Keep NoTimeout ONLY for bounded key
    * domains like `source`.
    */
  def perSourceSketches(docs: Dataset[TokenDoc], capacity: Long,
                        fpr: Double, p: Int = 14,
                        stateTtl: Option[java.time.Duration] = None):
      Dataset[SketchUpdate] = {
    // built here, outside the state closure: a bad sizing literal fails
    // at this call, not inside a task
    val (nbits, k) = BloomConfig.optimize(capacity, fpr)
    val (bk, hk) = (SketchKind.Bloom(nbits, k), SketchKind.Hll(p))
    implicit val stateEnc = Encoders.product[SketchState]
    implicit val outEnc = Encoders.product[SketchUpdate]
    implicit val strEnc = Encoders.STRING
    val timeout = stateTtl.map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout)
    docs.groupByKey(_.source)
      .mapGroupsWithState[SketchState, SketchUpdate](timeout) {
        (source: String, rows: Iterator[TokenDoc],
         state: GroupState[SketchState]) =>
          if (state.hasTimedOut) {
            // idle past TTL: emit the final snapshot and drop the state
            val last = state.get
            state.remove()
            SketchUpdate(source, last.rows, last.tokens,
              bk.load(last.bloom).cardinality, hk.load(last.hll).estimate,
              last.bloom, last.hll)
          } else {
            val bloom = if (state.exists) bk.load(state.get.bloom) else bk.empty()
            val hll = if (state.exists) hk.load(state.get.hll) else hk.empty()
            var nRows = if (state.exists) state.get.rows else 0L
            var nTok = if (state.exists) state.get.tokens else 0L
            rows.foreach { d =>
              var i = 0
              while (i < d.tokens.length) {
                val h = Hashing.tokenHash(d.tokens(i))
                bloom.add(h); hll.add(h)
                i += 1
              }
              nRows += 1
              nTok += d.tokens.length
            }
            val bloomBytes = bk.dump(bloom)
            val hllBytes = hk.dump(hll)
            state.update(SketchState(bloomBytes, hllBytes, nRows, nTok))
            stateTtl.foreach(ttl =>
              state.setTimeoutDuration(ttl.toMillis))
            SketchUpdate(source, nRows, nTok,
              bloom.cardinality, hll.estimate, bloomBytes, hllBytes)
          }
      }
  }

  /** Streaming exact dedup: emit only the FIRST occurrence of each key
    * ever seen by the stream (state = one boolean per key). Duplicates
    * within a batch and across batches are both dropped; use with
    * OutputMode.Append. `stateTtl` bounds the state store for unbounded
    * key domains — after an idle TTL a reappearing key is treated as new
    * (sliding-window dedup, the standard compromise at 100 TB of keys;
    * without a TTL the state holds one tiny row per distinct key).
    */
  def streamingDedup[T](ds: Dataset[T], keyFn: T => String,
                        stateTtl: Option[java.time.Duration] = None)(
      implicit te: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    implicit val strEnc = Encoders.STRING
    implicit val boolEnc = Encoders.scalaBoolean
    val timeout = stateTtl.map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout)
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState[Boolean, T](
        org.apache.spark.sql.streaming.OutputMode.Append(), timeout) {
        (key: String, rows: Iterator[T], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            stateTtl.foreach(ttl => state.setTimeoutDuration(ttl.toMillis))
            Iterator.empty
          } else {
            state.update(true)
            stateTtl.foreach(ttl => state.setTimeoutDuration(ttl.toMillis))
            rows.take(1)
          }
      }
  }

  /** Streaming dedup AGAINST A PERSISTED CORPUS plus within-stream
    * first-occurrence dedup: rows whose key hits the corpus Bloom filter
    * are dropped before they ever reach the state store (the filter has
    * no false negatives, so every true corpus dup is dropped; false
    * positives wrongly drop fresh rows at the filter's configured fpr —
    * the standard approximate-dedup tradeoff, tune fpr to taste). The
    * filter is built once from the corpus digest column (e.g. the
    * `digests/` table of `Dedup.writeDedupIndex`) and probed as shared
    * executor state; stream state stays one boolean per NEW key.
    */
  def streamingDedupVsCorpus[T](ds: Dataset[T], keyFn: T => String,
                                corpus: BlockedBloomFilter,
                                stateTtl: Option[java.time.Duration] = None)(
      implicit te: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    // broadcast ONCE for the query's lifetime: captured directly in the
    // filter closure, the (potentially GB-sized) filter would be
    // re-serialized into the task binaries of EVERY micro-batch.
    // LIFETIME: this convenience form owns no handle, so the broadcast
    // blocks live until the SparkContext stops. A long-lived session
    // constructing many queries should use [[streamingDedupVsCorpusBc]]
    // and destroy() the handle once the streaming query terminates.
    streamingDedupVsCorpusBc(ds, keyFn,
      ds.sparkSession.sparkContext.broadcast(corpus), stateTtl)
  }

  /** Caller-owned-broadcast form of [[streamingDedupVsCorpus]]: pass the
    * filter pre-broadcast and `bc.destroy()` it after
    * `query.awaitTermination()` — the only way to reclaim the blocks
    * before the context stops, since the streaming query re-reads the
    * broadcast every micro-batch while it runs.
    */
  def streamingDedupVsCorpusBc[T](
      ds: Dataset[T], keyFn: T => String,
      bc: org.apache.spark.broadcast.Broadcast[BlockedBloomFilter],
      stateTtl: Option[java.time.Duration] = None)(
      implicit te: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    streamingDedup(
      ds.filter { (t: T) =>
        val key = keyFn(t)
        // null key: no corpus hit by definition — keep parity with
        // streamingDedup alone, which groups null keys fine
        key == null || !bc.value.has(Hashing.fnv1a64(
          key.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      },
      keyFn, stateTtl)
  }

  /** Event-time WINDOWED per-source sketch panel with a watermark —
    * the second streaming form next to [[perSourceSketches]]'s keyed
    * running state: `groupBy(window(ts), source)` with the native
    * sketch aggregates inside, so Spark's streaming-aggregation state
    * store holds the serialized partial sketches per open window and
    * the watermark bounds state (windows older than the delay finalize,
    * emit once in Append mode, and are dropped from the store). The
    * sketch buffers are the same TypedImperativeAggregates as batch, so
    * a finalized window's panel equals the batch build over exactly
    * that window's rows — asserted in StreamingSpec. Works unchanged on
    * a batch frame (withWatermark is a no-op there).
    *
    * @param docs (eventTimeCol: timestamp, source, tokens, n_tok)
    */
  def windowedSourceSketches(docs: org.apache.spark.sql.DataFrame,
                             eventTimeCol: String,
                             windowDuration: String,
                             watermarkDelay: String,
                             capacity: Long, fpr: Double,
                             hllP: Int = 14,
                             thetaK: Int = 0,
                             freqK: Int = 0):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val F = graft.functions.functions
    // the FUSED panel: one buffer and one token traversal per open
    // window in the state store instead of one per sketch —
    // byte-identical to the standalone aggregates (q07's
    // panel_eq_separate), so the batch-parity contract is unchanged.
    // Optional theta sketch beside the fused panel (a second state
    // buffer per open window — the panel's wire format, and with it
    // the q07 byte-parity contract, stays untouched). The RAW sketch
    // column is emitted because its value is downstream set algebra:
    // intersect finalized windows across time or sources to measure
    // content drift — the question the panel's HLL cannot answer.
    // Optional freq (Misra-Gries) sketch: "which tokens are trending
    // in this window" — the candidate-set question the panel's CMS
    // cannot answer without a candidate list. Same pattern as theta: a
    // separate state buffer, panel wire format untouched; the RAW
    // sketch is emitted so finalized windows can be compared (merge
    // across windows, bracket lookups) downstream.
    val aggs = Seq(
      F.sketch_panel_agg(col("tokens"), capacity, fpr, hllP).as("panel"),
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens")) ++
      (if (thetaK > 0)
        Seq(F.theta_agg_tokens(col("tokens"), thetaK).as("theta"))
      else Nil) ++
      (if (freqK > 0)
        Seq(F.freq_agg_tokens(col("tokens"), freqK).as("freq"))
      else Nil)
    val base = docs.withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(window(col(eventTimeCol), windowDuration), col("source"))
      .agg(aggs.head, aggs.tail: _*)
    val common = Seq(col("window.start").as("win_start"),
      col("window.end").as("win_end"), col("source"),
      col("n_docs"), col("n_tokens"),
      round(F.bloom_cardinality(col("panel.bloom")), 2)
        .as("bloom_distinct_est"),
      round(F.hll_estimate(col("panel.hll")), 2).as("hll_distinct_est"))
    val extra =
      (if (thetaK > 0) Seq(
        round(F.theta_estimate(col("theta")), 2).as("theta_distinct_est"),
        col("theta")) else Nil) ++
      (if (freqK > 0) Seq(
        F.freq_max_error(col("freq")).as("freq_max_err"),
        col("freq")) else Nil)
    base.select(common ++ extra: _*)
  }

  /** Streaming NEAR-dup screen against a persisted dedup index
    * ([[graft.operators.Dedup.writeDedupIndex]]): emits a verified hit
    * row (doc_id, corpus_id, jaccard) for every stream doc within the
    * threshold of an indexed corpus doc — the streaming twin of
    * [[graft.operators.Dedup.dedupIncremental]]'s corpus tier, and the
    * exact-Jaccard upgrade of [[streamingDedupVsCorpus]]'s
    * exact-content Bloom screen. Entirely STATELESS: the plan is a
    * chain of stream-static equi-joins (band keys, then the tokset
    * verify) against the index tables, so it needs no watermark or
    * state store and works in any output mode; within-stream dups are
    * the existing [[streamingDedup]] state's job. Pair hits repeat once
    * per shared band — dedupe in foreachBatch if exact-once flags are
    * needed. Index appends are picked up per micro-batch re-scan only
    * if the file source lists per batch; for a long-lived query,
    * restart it after [[graft.operators.Dedup.dedupIncremental]]
    * appends (documented operational contract, matching the batch
    * snapshot discipline).
    */
  def streamingDedupNearDup(docs: org.apache.spark.sql.DataFrame,
                            indexDir: String,
                            threshold: Double = 0.9):
      org.apache.spark.sql.DataFrame =
    graft.operators.Dedup.nearDupHitsVsIndex(docs, indexDir, threshold)

  /** Streaming EMBEDDING near-dup screen against a persisted embedding
    * dedup index ([[graft.operators.Dedup.writeEmbDedupIndex]]): the
    * vector twin of [[streamingDedupNearDup]] — a verified hit row
    * (vec_id, corpus_id, cosine) per stream vector within the cosine
    * threshold of an indexed vector. Same stateless shape (the query
    * vector rides through the band explode, so band join + stored-
    * vector verify are both stream-static), same per-shared-band hit
    * multiplicity, same restart-after-append operational contract.
    * The stream's embedding dim must match the index manifest's (a
    * stream cannot be probed — see
    * [[graft.operators.Dedup.embNearDupHitsVsIndex]]).
    */
  def streamingEmbDedupNearDup(embs: org.apache.spark.sql.DataFrame,
                               indexDir: String,
                               threshold: Double):
      org.apache.spark.sql.DataFrame =
    graft.operators.Dedup.embNearDupHitsVsIndex(embs, indexDir, threshold)

  /** Streaming SUBSTRING-level screen against a persisted span-gram
    * index ([[graft.operators.SpanDedup.writeSpanIndex]]): a verified
    * hit row (doc_id, pos, gk) per stream-doc position whose
    * >= minLen-gram occurs verbatim in the indexed corpus — the span
    * tier below [[streamingDedupNearDup]]'s doc-level screen. One
    * stateless stream-static join (text rides through the gram
    * explode); merge hits into maximal spans downstream (foreachBatch)
    * if positions aren't enough — the per-doc islands window is not
    * expressible on a stream.
    */
  def streamingSpanScreen(docs: org.apache.spark.sql.DataFrame,
                          indexDir: String):
      org.apache.spark.sql.DataFrame =
    graft.operators.SpanDedup.spanHitsVsIndex(docs, indexDir)

  /** Build the corpus-key Bloom filter for [[streamingDedupVsCorpus]]
    * from a one-column DataFrame of key strings (distributed build,
    * partial->final merge; one driver-side dump decode).
    */
  def corpusKeyFilter(keys: org.apache.spark.sql.DataFrame,
                      capacity: Long, fpr: Double): BlockedBloomFilter = {
    import org.apache.spark.sql.functions.col
    val (nbits, k) = BloomConfig.optimize(capacity, fpr)
    val bytes = keys.agg(
        graft.functions.functions.bloom_agg_hash(
          graft.functions.functions.fnv_hash64_native(col(keys.columns.head)),
          capacity, fpr).as("f"))
      .head().getAs[Array[Byte]]("f")
    SketchKind.Bloom(nbits, k).load(bytes)
  }

  /** Streaming eval-set decontamination: drop stream rows whose text
    * shares >= `minOverlap` distinct word n-grams with a static eval
    * corpus, screened by the Bloom filter
    * [[graft.operators.Decontaminate.evalNgramFilter]] builds (same
    * keys as the batch q35 path, so one persisted filter serves both).
    * Stateless — a pure filter, so any output mode works. Row-local
    * Bloom probing cannot run the batch path's exact verify join:
    * every truly contaminated row IS dropped (no false negatives), and
    * an fpr-bounded sliver of clean rows is dropped with it — the
    * conservative direction for training hygiene.
    */
  def streamingDecontaminate[T](ds: Dataset[T], textFn: T => String,
                                evalFilter: BlockedBloomFilter,
                                n: Int = 3, minOverlap: Int = 1)(
      implicit te: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    // broadcast once per query, not once per micro-batch task binary
    // (see streamingDedupVsCorpus). LIFETIME: lives until the context
    // stops — long-lived sessions should use
    // [[streamingDecontaminateBc]] and destroy() the handle when the
    // query terminates.
    streamingDecontaminateBc(ds, textFn,
      ds.sparkSession.sparkContext.broadcast(evalFilter), n, minOverlap)
  }

  /** Caller-owned-broadcast form of [[streamingDecontaminate]]:
    * `bc.destroy()` after the streaming query terminates to reclaim the
    * filter blocks.
    */
  def streamingDecontaminateBc[T](
      ds: Dataset[T], textFn: T => String,
      bc: org.apache.spark.broadcast.Broadcast[BlockedBloomFilter],
      n: Int = 3, minOverlap: Int = 1)(
      implicit te: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    ds.filter((t: T) =>
      graft.operators.Decontaminate.overlapCount(textFn(t), n, bc.value)
        < minOverlap)
  }

  /** Watermarked per-window EMBEDDING sums — the streaming state
    * behind [[graft.operators.Drift.windowedEmbeddingDrift]]: each
    * finalized window emits its dims-sized fixed-point sum vector
    * (2^10 quantization, the q92 device) plus the vector count, as
    * (win_start, win_end, dim, s, n_vecs) rows. A plain watermarked
    * windowed aggregation — dims × open-windows rows of state, Append
    * emits once; no custom state store. The drift-vs-baseline math
    * runs in a batch READER over the sink (the windowedTokenDrift
    * pattern), so the stream itself never joins anything.
    */
  def windowedEmbeddingSums(vecs: org.apache.spark.sql.DataFrame,
                            eventTimeCol: String,
                            windowDuration: String,
                            watermarkDelay: String,
                            embCol: String = "embedding"):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    vecs.withWatermark(eventTimeCol, watermarkDelay)
      .select(col(eventTimeCol),
        posexplode(col(embCol)).as(Seq("dim", "v")))
      .groupBy(window(col(eventTimeCol), windowDuration), col("dim"))
      .agg(sum(round(col("v").cast("double") * 1024).cast("bigint"))
        .as("s"),
        count(lit(1)).as("n_vecs"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("dim"), col("s"),
        col("n_vecs"))
  }

  /** Watermarked per-window document-LENGTH value counts — the
    * streaming state behind
    * [[graft.operators.Drift.windowedLengthDrift]]: each finalized
    * window emits (win_start, win_end, n_tok, cnt) rows. State per
    * open window is the distinct-length value table (bounded by max
    * document length, not rows), so the downstream reader can compute
    * the EXACT per-window KS statistic against a persisted baseline —
    * no sketch needed on the window side.
    */
  def windowedLengthCounts(docs: org.apache.spark.sql.DataFrame,
                           eventTimeCol: String,
                           windowDuration: String,
                           watermarkDelay: String,
                           textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    docs.withWatermark(eventTimeCol, watermarkDelay)
      .select(col(eventTimeCol),
        size(graft.functions.functions.tokenize(col(textCol)))
          .as("n_tok"))
      .groupBy(window(col(eventTimeCol), windowDuration), col("n_tok"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n_tok"), col("cnt"))
  }

  /** Streaming MULTI-eval-set contamination flags — the streaming twin
    * of [[graft.operators.Decontaminate.contaminatedMulti]]: for each
    * stream row, emit one `(id, set_id, n_overlap)` per eval set whose
    * filter the row's n-grams hit at least `minOverlap` times.
    * Stateless (flatMap against broadcast per-set filters from
    * [[graft.operators.Decontaminate.evalFiltersPerSet]]), any output
    * mode; each row's n-grams are hashed ONCE and probed against all k
    * filters. Bloom-only, so false negatives are impossible and false
    * flags occur at each filter's configured fpr (size the filters at
    * 1e-6 to make the flags exact in practice — the q35 rule).
    * Broadcast LIFETIME is caller-owned: destroy() after the query
    * terminates.
    */
  def streamingDecontaminateMultiBc[T](
      ds: Dataset[T], idFn: T => Long, textFn: T => String,
      bc: org.apache.spark.broadcast.Broadcast[
        Map[String, BlockedBloomFilter]],
      n: Int = 3, minOverlap: Int = 1): Dataset[(Long, String, Int)] = {
    import ds.sparkSession.implicits._
    ds.flatMap { t =>
      val hashes = graft.operators.Decontaminate
        .ngramsOf(textFn(t), n)
        .map(graft.core.Hashing.fnv1a64).toArray
      if (hashes.isEmpty) Iterator.empty
      else {
        val id = idFn(t)
        bc.value.iterator.flatMap { case (sid, f) =>
          var c = 0
          var i = 0
          while (i < hashes.length) {
            if (f.has(hashes(i))) c += 1
            i += 1
          }
          if (c >= minOverlap) Iterator.single((id, sid, c))
          else Iterator.empty
        }
      }
    }
  }

  /** Streaming LM-quality screen: keep stream rows whose CCNet-style
    * bucketed-bits score under a persisted bigram model
    * ([[graft.operators.LmScore.writeLmModel]]) is at most
    * `maxBitsPerBigram` — the streaming twin of
    * [[graft.operators.LmScore.scoreDocsVsModel]]'s keep rule. The
    * relational scorer's per-doc reduce would be a streaming
    * AGGREGATION (state store, watermark, output-mode limits), so this
    * screen scores ROW-LOCALLY against a broadcast
    * [[graft.operators.LmScore.LocalLmModel]] instead — the production
    * CCNet shape (every worker loads the model) — and the pure-integer
    * bucketed-bits arithmetic makes the two paths agree bit-for-bit
    * (StreamingSpec pins micro-batch keeps == the batch path).
    * Stateless, any output mode. Unscorable rows (< 2 tokens) are
    * DROPPED, the engine-wide wordless-docs-fail rule.
    * Broadcast LIFETIME: lives until the context stops — long-lived
    * sessions should use [[streamingLmScreenBc]] and destroy() the
    * handle when the query terminates.
    */
  def streamingLmScreen[T](ds: Dataset[T], textFn: T => String,
                           model: graft.operators.LmScore.LocalLmModel,
                           maxBitsPerBigram: Double = 12.0)(
      implicit te: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    streamingLmScreenBc(ds, textFn,
      ds.sparkSession.sparkContext.broadcast(model), maxBitsPerBigram)

  /** Caller-owned-broadcast form of [[streamingLmScreen]]:
    * `bc.destroy()` after the streaming query terminates to reclaim
    * the count maps.
    */
  def streamingLmScreenBc[T](
      ds: Dataset[T], textFn: T => String,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.operators.LmScore.LocalLmModel],
      maxBitsPerBigram: Double = 12.0)(
      implicit te: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    ds.filter((t: T) => bc.value.keep(textFn(t), maxBitsPerBigram))

  /** Streaming quantiles of a numeric field per group via t-digest state.
    * Emits (group, n, p50, p99) per micro-batch.
    */
  case class QuantileUpdate(key: String, n: Double, p50: Double, p99: Double,
                            digest: Array[Byte])

  /** `stateTtl` as in [[perSourceSketches]]: an idle key expires from the
    * state store (final snapshot emitted) and restarts fresh if it
    * reappears — required for unbounded key domains, whose per-key
    * digests otherwise grow the store without limit.
    */
  def perKeyQuantiles[T](ds: Dataset[T], keyFn: T => String,
                         valueFn: T => Double,
                         compression: Double = 100.0,
                         stateTtl: Option[java.time.Duration] = None):
      Dataset[QuantileUpdate] = {
    val tk = SketchKind.TDigest(compression) // outside the state closure
    implicit val stateEnc = Encoders.BINARY
    implicit val outEnc = Encoders.product[QuantileUpdate]
    implicit val strEnc = Encoders.STRING
    val timeout = stateTtl.map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout)
    ds.groupByKey(keyFn)
      .mapGroupsWithState[Array[Byte], QuantileUpdate](timeout) {
        (key: String, rows: Iterator[T], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            // idle past TTL: emit the final snapshot and drop the state
            val bytes = state.get
            val td = tk.load(bytes)
            state.remove()
            QuantileUpdate(key, td.total, td.quantile(0.5),
              td.quantile(0.99), bytes)
          } else {
            val td = if (state.exists) tk.load(state.get) else tk.empty()
            rows.foreach(r => td.add(valueFn(r)))
            val bytes = tk.dump(td)
            state.update(bytes)
            stateTtl.foreach(ttl => state.setTimeoutDuration(ttl.toMillis))
            QuantileUpdate(key, td.total, td.quantile(0.5),
              td.quantile(0.99), bytes)
          }
      }
  }

  /** Input row for [[streamingPrioritySample]]. */
  case class WeightedRow(id: Long, group: String, weight: Long)

  /** Rolling per-group sample state: the current top-k under
    * (priority desc, id asc) plus the best EVICTED priority — which is
    * exactly the (k+1)-th highest priority seen, i.e. the batch
    * operator's tau.
    */
  case class PrioritySampleState(ids: Array[Long], weights: Array[Long],
                                 priorities: Array[Double], tau: Double,
                                 seen: Long)

  /** One emitted sample row (the full current sample re-emits each
    * micro-batch — Update semantics). `seen` is the group's cumulative
    * input-row count: monotone per group, so downstream consumers (and
    * the parity test) identify a group's LATEST emission as the one
    * with max `seen`.
    */
  case class PrioritySampleUpdate(group: String, id: Long, weight: Long,
                                  priority: Double, sample_rank: Long,
                                  adj_weight: Double, seen: Long)

  /** The priority of a row — IDENTICAL to the batch operator's column
    * arithmetic ([[graft.operators.Sampling.prioritySample]]): md5 of
    * "id|salt", first 13 hex digits + 1 as the uniform's denominator,
    * one exact power-of-two multiply, one IEEE division.
    */
  def samplePriority(id: Long, weight: Long, salt: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$id|$salt".getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xFFL); i += 1 } // 56 bits
    h = (h >>> 4) + 1 // first 13 hex digits = top 52 bits
    (weight.toDouble * 4503599627370496.0) / h
  }

  /** Streaming twin of [[graft.operators.Sampling.prioritySample]]: a
    * weighted without-replacement sample of up to k rows per group,
    * maintained incrementally — after any prefix of the stream, the
    * emitted sample (ranks, priorities, HT adjusted weights) equals
    * the batch operator over exactly the rows seen (StreamingSpec).
    * Works because priority sampling is a fold: the top-k under a
    * deterministic total order plus the best evicted priority (= the
    * batch tau) are both associative summaries. State per group is k
    * fixed-width rows. Use OutputMode.Update; `stateTtl` drops idle
    * groups (their sample restarts if the group reappears).
    */
  def streamingPrioritySample(rows: Dataset[WeightedRow], k: Int,
                              salt: String = "graft",
                              stateTtl: Option[java.time.Duration] = None):
      Dataset[PrioritySampleUpdate] = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    implicit val stateEnc = Encoders.product[PrioritySampleState]
    implicit val outEnc = Encoders.product[PrioritySampleUpdate]
    implicit val strEnc = Encoders.STRING
    val timeout = stateTtl.map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout)
    rows.groupByKey(_.group)
      .flatMapGroupsWithState[PrioritySampleState, PrioritySampleUpdate](
        OutputMode.Update(), timeout) {
        (group: String, batch: Iterator[WeightedRow],
         state: GroupState[PrioritySampleState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // (priority desc, id asc) — the batch operator's order
            val buf = scala.collection.mutable.ArrayBuffer
              .empty[(Double, Long, Long)]
            var tau = 0.0
            var seen = 0L
            if (state.exists) {
              val s = state.get
              tau = s.tau
              seen = s.seen
              var i = 0
              while (i < s.ids.length) {
                buf += ((s.priorities(i), s.ids(i), s.weights(i))); i += 1
              }
            }
            batch.foreach { r =>
              buf += ((samplePriority(r.id, r.weight, salt), r.id, r.weight))
              seen += 1
            }
            val kept = buf.sortBy(t => (-t._1, t._2)).toArray
            val (top, evicted) = kept.splitAt(k)
            if (evicted.nonEmpty) tau = math.max(tau, evicted.head._1)
            state.update(PrioritySampleState(top.map(_._2), top.map(_._3),
              top.map(_._1), tau, seen))
            stateTtl.foreach(ttl => state.setTimeoutDuration(ttl.toMillis))
            val t = tau
            val n = seen
            top.iterator.zipWithIndex.map { case ((p, id, w), i) =>
              PrioritySampleUpdate(group, id, w, p, i + 1L,
                math.max(w.toDouble, t), n)
            }
          }
      }
  }
}
