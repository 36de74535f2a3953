package graft.store

import graft.store.Store.Table

/** The declared schema of every table graft persists with a fixed
  * schema, one entry per table. Writers `check` the frame they write
  * against its entry, readers pass it to Spark (see [[Store.Table]]).
  *
  * Tables whose column types follow the caller's frame keep schema
  * inference; they are the allowlist of StoreSpec's source scan: IVF
  * `lists` (the caller's id and vector columns), overlap `sketches` and
  * drift `source_counts` (the caller's `source` column).
  *
  * A table an index also keeps at a catalog location declares its
  * bucket key, the key its readers probe; manifests and `labels_meta`
  * stay unbucketed.
  */
object Tables {

  /** The exactly-once batch log of [[Store.BatchLog]]. */
  val Batches = Table("batches", "batch_id BIGINT, folded_up_to BIGINT")

  /** Text dedup index (`Dedup.writeDedupIndex`, or
    * `Dedup.writeDedupIndexTables` at a catalog location).
    */
  object Dedup {
    /** One row per appended snapshot, stamped with `format_version`. */
    val Manifest = Table("manifest", "num_bands INT, rows_per_band INT, " +
      "ngram INT, n_docs BIGINT, max_doc_id BIGINT, format_version INT")
    val Digests = Table("digests", "doc_id BIGINT, content_md5 STRING")
      .bucketedBy("content_md5")
    val Bands = Table("bands", "doc_id BIGINT, band BIGINT").bucketedBy("band")
    /** Sorted distinct elements per doc: token ids at `ngram` 1,
      * shingle hashes above it.
      */
    def toksets(ngram: Int): Table = Table("toksets",
      s"doc_id BIGINT, tokset ARRAY<${if (ngram == 1) "INT" else "BIGINT"}>, " +
        "set_size INT").bucketedBy("doc_id")
    /** Cluster labels of a CC index, text or embedding (ids are vector
      * ids there), and the verify threshold they were built at.
      */
    val Labels =
      Table("labels", "doc_id BIGINT, cluster_id BIGINT").bucketedBy("doc_id")
    val LabelsMeta = Table("labels_meta", "threshold DOUBLE")
  }

  /** Embedding dedup index (`Dedup.writeEmbDedupIndex`), written by
    * `Dedup.writeIndex`, the one writer of both dedup indexes, over the
    * `Signature.Vectors` kind. Its vectors are stored as `array<float>`,
    * the type every vector kernel computes in, whatever numeric array the
    * caller passed.
    */
  object EmbDedup {
    val Manifest = Table("manifest", "num_bands INT, bits_per_band INT, " +
      "dim INT, n_vecs BIGINT, max_vid BIGINT, format_version INT")
    val Vectors = Table("vectors", "vid BIGINT, emb ARRAY<FLOAT>")
    val Bands = Table("bands", "vid BIGINT, band BIGINT")
  }

  /** Eval-set index (`Decontaminate.writeEvalIndex`). */
  object Eval {
    val Manifest = Table("manifest", "n INT, fpr DOUBLE")
    val Ngrams = Table("ngrams", "ng STRING")
  }

  /** Partials of `SketchCheckpoint`, one `snapshot=<id>` directory per
    * snapshot; `group_key` is stored as a string.
    */
  object Checkpoint {
    private val lineage = "row_count BIGINT, token_count BIGINT, " +
      "build_ms BIGINT, snapshot_id STRING"
    val Bloom = Table("bloom partials",
      s"group_key STRING, part_id INT, sketch BINARY, $lineage")
    val Panel = Table("panel partials", "group_key STRING, part_id INT, " +
      s"bloom BINARY, hll BINARY, cms BINARY, $lineage")
  }

  /** Persisted LM count model (`LmScore.writeLmModel`); the count tables
    * hold one `batch_id=<b>` directory per batch.
    */
  object Lm {
    val Manifest = Table("manifest", "`order` INT")
    val Uni = Table("uni", "w STRING, c1 BIGINT")
    val Big = Table("big", "ng STRING, c2 BIGINT")
    val Words = Table("words", "w STRING, c1 BIGINT")
    val DriftBaseline =
      Table("drift_baseline", "w STRING, c1 BIGINT, total_words BIGINT")
  }

  /** Overlap-sketch index manifest (`TextAnalysis.writeOverlapSketches`);
    * an index older than `tuple_k`/`freq_k` reads them as null.
    */
  object Overlap {
    val Manifest =
      Table("manifest", "n INT, theta_k INT, tuple_k INT, freq_k INT")
  }

  /** Span-gram index (`SpanDedup.writeSpanIndex`, or
    * `SpanDedup.writeSpanIndexTables` at a catalog location).
    */
  object Span {
    val Grams = Table("grams", "gh BIGINT, gk STRING").bucketedBy("gh")
    val Manifest = Table("manifest", "min_len INT, n_grams BIGINT")
  }

  /** Drift reference (`Drift.writeReferenceCounts`, versioned `v=<N>`
    * directories behind the `_current` pointer) and embedding baseline
    * (`Drift.writeEmbeddingReference`).
    */
  object Drift {
    val Current = Table("_current", "version BIGINT")
    val Counts = Table("counts", "w STRING, c BIGINT")
    val Lengths = Table("lengths", "n_tok INT, cnt BIGINT")
    val LengthSketch = Table("length_sketch", "n_docs BIGINT, kll BINARY")
    val Sums = Table("sums", "dim INT, s BIGINT, n_vecs BIGINT")
  }

  /** IVF index (`Ann.writeIvfIndex`); its `lists` table holds the
    * caller's ids and vectors and keeps inference.
    */
  object Ivf {
    val Centroids = Table("centroids", "cl INT, pos INT, v DOUBLE")
    val Manifest = Table("manifest", "nlist INT, dim INT, n_vecs BIGINT, " +
      "mean_assigned_cosine DOUBLE, p10_assigned_cosine DOUBLE")
  }
}
