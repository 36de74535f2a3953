package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.BloomConfig
import graft.functions.{functions => F}
import graft.store.Store.Table
import graft.store.{Tables => T}

/** Resumable sketch checkpoints with per-partition lineage and metrics.
  *
  * Storage model: Parquet snapshot directories stand in for Iceberg
  * snapshots (no Iceberg runtime jar in this environment — SURVEY.md
  * §1.2). A checkpoint table holds ONE ROW PER (group, partition-range)
  * partial sketch, with lineage columns:
  *
  *   group_key     : the aggregation key (e.g. source), as a string
  *   part_id       : input partition id the partial was built from
  *   snapshot_id   : caller-supplied id of the input snapshot
  *   row_count     : rows folded into this partial
  *   token_count   : tokens folded into this partial
  *   build_ms      : wall-clock build time of the partition (metrics)
  *   sketch        : the partial, in the engine's wire format
  *
  * Resume semantics are the reference's load-is-union
  * (/root/reference/io.go:151-178): a final sketch is the union-agg of
  * any subset of partials covering the input exactly once, so
  *  - a killed job resumes by unioning already-written partials with
  *    partials built from the missing partition ranges only;
  *  - an incremental update unions the previous snapshot's partials
  *    with partials of the new data;
  * both yield byte-identical results to a fresh full build (associativity
  * oracle /root/reference/bloomfilter_test.go:266-296, tested in
  * CheckpointSpec).
  *
  * At 100 TB the checkpoint table is tiny relative to input (one ~100 KB
  * row per partition-range x group), and the resume path reads ONLY the
  * checkpoint table plus unprocessed input ranges — no rescan of
  * processed data.
  */
object SketchCheckpoint {

  // ---- shared plumbing: one snapshot layout and lineage schema for
  // every checkpoint flavor, so a schema or layout change lands once ----

  /** Lineage columns attached to every partial row (build_ms is the
    * executor-measured wall clock: first row folded -> final eval).
    */
  private def lineageAggs: Seq[Column] = Seq(
    count(lit(1)).as("row_count"),
    sum(col("n_tok")).as("token_count"),
    graft.functions.catalyst.buildMillis().as("build_ms"))

  private def writePartials(table: Table, tokenDocs: DataFrame,
                            groupCol: String, ckptDir: String,
                            snapshotId: String, sketchAggs: Seq[Column])(
                            post: DataFrame => DataFrame): Unit = {
    val aggs = sketchAggs ++ lineageAggs
    table.check(post(tokenDocs
        .withColumn("part_id", spark_partition_id())
        .groupBy(col(groupCol).cast("string").as("group_key"), col("part_id"))
        .agg(aggs.head, aggs.tail: _*))
      .withColumn("snapshot_id", lit(snapshotId)))
      .write.mode("overwrite")
      .parquet(s"$ckptDir/snapshot=$snapshotId")
  }

  /** The partials of `snapshotIds` (every snapshot when empty), read with
    * the declared schema of `table`: opening a checkpoint starts no job.
    */
  private def snapshots(table: Table, spark: SparkSession, ckptDir: String,
                        snapshotIds: Seq[String]): DataFrame =
    if (snapshotIds.isEmpty) table.readAt(spark, ckptDir)
    else table.readAt(spark,
      snapshotIds.map(id => s"$ckptDir/snapshot=$id"): _*)

  private def resumeWith(partials: DataFrame,
                         unionAggs: Seq[Column]): DataFrame = {
    val aggs = unionAggs ++ Seq(
      sum(col("row_count")).as("row_count"),
      sum(col("token_count")).as("token_count"),
      count(lit(1)).as("n_partials"))
    partials.groupBy(col("group_key")).agg(aggs.head, aggs.tail: _*)
  }

  /** Build per-(group, partition) Bloom partials with lineage and write
    * them as a snapshot directory under `ckptDir`.
    */
  def writeBloomPartials(tokenDocs: DataFrame, groupCol: String,
                         capacity: Long, fpr: Double,
                         ckptDir: String, snapshotId: String): Unit =
    writePartials(T.Checkpoint.Bloom, tokenDocs, groupCol, ckptDir,
      snapshotId, Seq(F.bloom_agg_tokens(col("tokens"), capacity, fpr)
        .as("sketch")))(identity)

  /** Read one or more snapshots of partials and union them into final
    * per-group sketches. Partials from different snapshots combine as
    * long as they share (nbits, k) — the checkBinop precondition
    * (/root/reference/bloomfilter.go:212-219) enforced by the union agg.
    */
  def resumeBloom(spark: SparkSession, ckptDir: String,
                  capacity: Long, fpr: Double,
                  snapshotIds: Seq[String] = Nil): DataFrame = {
    val (nbits, k) = BloomConfig.optimize(capacity, fpr)
    resumeWith(snapshots(T.Checkpoint.Bloom, spark, ckptDir, snapshotIds),
      Seq(F.bloom_union_agg(col("sketch"), nbits, k).as("sketch")))
  }

  /** Lineage/metrics view of a checkpoint directory (either flavor: the
    * lineage columns are shared, and a panel checkpoint's missing
    * `sketch` column reads as null, unused here).
    */
  def lineage(spark: SparkSession, ckptDir: String): DataFrame =
    T.Checkpoint.Bloom.readAt(spark, ckptDir)
      .groupBy(col("group_key"))
      .agg(
        count(lit(1)).as("n_partials"),
        sum(col("row_count")).as("row_count"),
        sum(col("token_count")).as("token_count"),
        max(col("build_ms")).as("max_build_ms"))

  /** Panel checkpoint: one row per (group, partition) holding Bloom +
    * HLL + CMS partials (all three wire formats) with the same lineage
    * columns as the Bloom form. Resume unions each sketch column; the
    * result is byte-identical to a fresh build for all three (Bloom OR,
    * HLL register-max, CMS counter-add are order-insensitive).
    * t-digest/KLL are intentionally NOT in the parity checkpoint: their
    * merge is order-sensitive (centroid layout / randomized compaction),
    * so a resumed digest is statistically equivalent but not
    * byte-equal — checkpoint their EMITTED estimates instead.
    */
  def writePanelPartials(tokenDocs: DataFrame, groupCol: String,
                         capacity: Long, fpr: Double,
                         ckptDir: String, snapshotId: String,
                         p: Int = 14, depth: Int = 5,
                         width: Int = 65536): Unit =
    writePartials(T.Checkpoint.Panel, tokenDocs, groupCol, ckptDir,
      snapshotId, Seq(F.sketch_panel_agg(col("tokens"), capacity, fpr, p,
        depth, width).as("panel"))) { df =>
      df.select(col("group_key"), col("part_id"),
        col("panel.bloom").as("bloom"), col("panel.hll").as("hll"),
        col("panel.cms").as("cms"),
        col("row_count"), col("token_count"), col("build_ms"))
    }

  /** Union panel partials back into per-group sketches (any snapshot
    * subset covering the input exactly once).
    */
  def resumePanel(spark: SparkSession, ckptDir: String,
                  capacity: Long, fpr: Double,
                  p: Int = 14, depth: Int = 5, width: Int = 65536,
                  snapshotIds: Seq[String] = Nil): DataFrame = {
    val (nbits, k) = BloomConfig.optimize(capacity, fpr)
    resumeWith(snapshots(T.Checkpoint.Panel, spark, ckptDir, snapshotIds), Seq(
      F.bloom_union_agg(col("bloom"), nbits, k).as("bloom"),
      F.hll_union_agg(col("hll"), p).as("hll"),
      F.cms_union_agg(col("cms"), depth, width).as("cms")))
  }

  /** Two-phase skew-safe aggregation helper: salt the group key, build
    * per-(key, salt) partials, then union per key. Legal because every
    * sketch merge here is associative+commutative (the reference's Union
    * property). Use when one group (e.g. a 50%-of-rows source) would
    * otherwise hot-spot a single reducer.
    */
  def saltedBloomAgg(tokenDocs: DataFrame, groupCol: String,
                     capacity: Long, fpr: Double,
                     saltBuckets: Int = 16): DataFrame = {
    val (nbits, k) = BloomConfig.optimize(capacity, fpr)
    tokenDocs
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(saltBuckets)))
      .groupBy(col(groupCol), col("salt"))
      .agg(F.bloom_agg_tokens(col("tokens"), capacity, fpr).as("partial"))
      .groupBy(col(groupCol))
      .agg(F.bloom_union_agg(col("partial"), nbits, k).as("sketch"))
  }
}
