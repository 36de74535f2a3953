package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{functions => F}
import graft.store.{Tables => T}

/** Approximate-nearest-neighbor search over embedding columns
  * (array<float>).
  *
  * Two paths:
  *  - bruteForceTopK: exact cosine top-k via broadcast of the (small)
  *    query set against the full corpus — the correctness baseline. The
  *    corpus side streams; only queries are broadcast, so this scales to
  *    any corpus size as long as the query set is broadcastable.
  *  - lshTopK: random-hyperplane LSH (Charikar 2002) — hash every vector
  *    to a b-bit signature over fixed hyperplanes, band the signature,
  *    join on band buckets, rank candidates by exact cosine. At scale the
  *    bucket join replaces the corpus-size-by-query-size product with
  *    bucket-local products.
  *
  * All per-row math (cosine, signatures) runs as native codegen
  * expressions (graft.functions.expressions) — no ScalaUDF dispatch on
  * the hot path (PlanSpec-asserted).
  */
object Ann {

  /** Rank scored candidates (query_id, neighbor_id, cosine) to per-query
    * top-k via the PARTIAL top-k aggregate — a row_number window would
    * shuffle every scored candidate row to its query's partition (the
    * whole corpus per query at 100 TB); the aggregate ships only k rows
    * per (query, partition) to the exchange. Tie-break (cosine desc,
    * neighbor_id asc) matches the window form exactly.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(F.topk_by_score(col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).as("rnk"),
        col("t.id").as("neighbor_id"),
        round(col("t.score"), 4).as("cosine"))

  /** Exact top-k cosine neighbors for each query vector.
    * @param queries  (id, embedding) — must be small enough to broadcast
    * @param corpus   (id, embedding)
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame = {
    requireSameDim(queries, corpus, embCol)
    val q = queries.select(col(idCol).as("query_id"),
      col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(embCol).as("c_emb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", F.cosine_sim(col("q_emb"), col("c_emb")))
    rankTopK(scored, k)
  }

  /** Embedding dimensionality of a table (one-row driver lookup; pass
    * `dim` explicitly in pipelines that already know it).
    */
  def dimOf(df: DataFrame, embCol: String = "embedding"): Int = {
    val rows = df.select(col(embCol)).limit(1).collect()
    require(rows.nonEmpty,
      s"cannot infer embedding dim: table has no rows (column $embCol)")
    require(!rows(0).isNullAt(0),
      s"cannot infer embedding dim: first $embCol is null")
    rows(0).getSeq[Float](0).length
  }

  /** One banding parameterization shared by [[lshTopK]] and
    * [[lshBucketStats]] — the no-silent-cap accounting only holds if
    * the stats count exactly the buckets the search builds.
    */
  private def bandParams(corpus: DataFrame, nbits: Int, numBands: Int,
                         embCol: String, dim: Int): (Int, Int) = {
    require(nbits % numBands == 0, "nbits must divide into bands")
    (nbits / numBands, if (dim > 0) dim else dimOf(corpus, embCol))
  }

  /** Loud dim check: the cosine kernels compute over the common PREFIX
    * of mismatched vectors (min-length loop), which returns plausible
    * but wrong neighbors with no error — so operators taking two tables
    * verify their first rows agree before doing any work.
    */
  private def requireSameDim(queries: DataFrame, corpus: DataFrame,
                             embCol: String): Unit = {
    val qd = dimOf(queries, embCol)
    val cd = dimOf(corpus, embCol)
    require(qd == cd,
      s"embedding dim mismatch: queries=$qd corpus=$cd — cosine over " +
        "the common prefix would silently return wrong neighbors")
  }

  /** Sign-random-projection signature + banded candidate join + exact
    * re-rank. Recall rises with numBands; neighbors colliding in no band
    * are missed (that's the approximation).
    *
    * `maxBucket` (0 = off) drops band buckets holding more vectors than
    * the cap before the self-product — the skew valve for pathological
    * data (e.g. many identical embeddings hashing to one bucket). Drops
    * are observable via [[lshBucketStats]]; never silent in a pipeline
    * that checks it.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nbits: Int = 32, numBands: Int = 8,
              idCol: String = "vec_id",
              embCol: String = "embedding",
              dim: Int = -1,
              maxBucket: Int = 0): DataFrame = {
    requireSameDim(queries, corpus, embCol)
    val (bitsPerBand, d) = bandParams(corpus, nbits, numBands, embCol, dim)
    def banded(df: DataFrame, role: String) =
      df.select(col(idCol).as(s"${role}_id"), col(embCol).as(s"${role}_emb"),
          explode(F.lsh_band_keys(col(embCol), numBands, bitsPerBand, d))
            .as("bucket"))
    val cb0 = banded(corpus, "neighbor")
    val cb =
      if (maxBucket <= 0) cb0
      else {
        val ok = cb0.groupBy(col("bucket"))
          .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= maxBucket)
          .select(col("bucket"))
        cb0.join(ok, Seq("bucket"))
      }
    val qb = banded(queries, "query")
    val cands = qb.join(cb, qb("bucket") === cb("bucket") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("query_emb").as("q_emb"),
        col("neighbor_id"), col("neighbor_emb").as("c_emb"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.withColumn("cosine",
      F.cosine_sim(col("q_emb"), col("c_emb")))
    rankTopK(scored, k)
  }

  /** Deterministic k-means coarse quantizer for IVF: nlist centroids
    * over the corpus embeddings. Init = the nlist rows with the
    * smallest xxhash64(id) (deterministic at any parallelism);
    * `iters` Lloyd rounds of assign (cosine, ties to lowest id) +
    * element-wise mean. Each round is one distributed pass; the
    * centroid matrix (nlist x dim doubles) lives on the driver — tiny
    * by construction. At 100 TB, train on a sampled fraction
    * (`corpus.sample`) — the quantizer only needs the density shape.
    */
  def ivfCentroids(corpus: DataFrame, nlist: Int, iters: Int = 3,
                   idCol: String = "vec_id",
                   embCol: String = "embedding"): Array[Array[Double]] = {
    import graft.functions.{expressions => E}
    val init = corpus
      .select(col(idCol).as("id"), col(embCol).as("emb"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(nlist)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    var cents = init
    var it = 0
    while (it < iters) {
      val means = corpus
        .select(E.ivf_assign(col(embCol), cents).as("cl"),
          posexplode(col(embCol)).as(Seq("pos", "x")))
        .groupBy(col("cl"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      cents = next
      it += 1
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k: corpus rows are bucketed by
    * nearest centroid; each query searches only its `nprobe` nearest
    * centroid lists, re-ranked by exact cosine. The 100-TB shape: the
    * corpus-side assignment is a single codegen projection (write it
    * partitioned by `cl` once, then searches prune by partition), and
    * per-query work is bounded by nprobe/nlist of the corpus. Recall
    * depends on how clustered the data is — measure with
    * [[bruteForceTopK]] on a sample (q25 does exactly that).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
              idCol: String = "vec_id",
              embCol: String = "embedding",
              centroids: Array[Array[Double]] = null): DataFrame = {
    import graft.functions.{expressions => E}
    requireSameDim(queries, corpus, embCol)
    val cents =
      if (centroids != null) centroids
      else ivfCentroids(corpus, nlist, iters, idCol, embCol)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(embCol).as("c_emb"),
      E.ivf_assign(col(embCol), cents).as("cl"))
    val q = queries.select(col(idCol).as("query_id"),
        col(embCol).as("q_emb"),
        explode(E.ivf_probes(col(embCol), cents, nprobe)).as("cl"))
    val cands = q.join(c, Seq("cl"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", F.cosine_sim(col("q_emb"), col("c_emb")))
    rankTopK(cands, k)
  }

  // ----------------- persisted IVF index -----------------
  //
  // The 100-TB shape ivfTopK's doc comment promises: assign every corpus
  // row to its centroid ONCE and write the corpus partitioned by `cl`;
  // a search then reads only the nprobe matching partitions (partition
  // pruning at the scan — PlanSpec asserts PartitionFilters on the
  // lists scan). Index layout under `dir`:
  //   centroids/  (cl, pos, v) — the nlist x dim quantizer, tiny
  //   lists/cl=<c>/...parquet — the corpus, one directory per list

  /** Train the quantizer and write the IVF index under `dir`. */
  def writeIvfIndex(corpus: DataFrame, dir: String, nlist: Int,
                    iters: Int = 3, idCol: String = "vec_id",
                    embCol: String = "embedding"): Unit = {
    import graft.functions.{expressions => E}
    import org.apache.spark.sql.SaveMode
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = ivfCentroids(corpus, nlist, iters, idCol, embCol)
    T.Ivf.Centroids.check(cents.zipWithIndex.flatMap { case (v, c) =>
        v.zipWithIndex.map { case (x, p) => (c, p, x) }
      }.toSeq.toDF("cl", "pos", "v"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/centroids")
    corpus
      .select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb"),
        E.ivf_assign(col(embCol), cents).as("cl"))
      .write.mode(SaveMode.Overwrite).partitionBy("cl")
      .parquet(s"$dir/lists")
    // drift baseline: how well the quantizer fits the corpus AT BUILD
    // TIME, measured over the persisted lists so the manifest describes
    // exactly what is on disk
    val base = assignedCosineStats(
      spark.read.parquet(s"$dir/lists"), cents).head()
    T.Ivf.Manifest.check(Seq((nlist, cents(0).length, base.getLong(0),
        base.getDouble(1), base.getDouble(2)))
      .toDF("nlist", "dim", "n_vecs", "mean_assigned_cosine",
        "p10_assigned_cosine"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/manifest")
  }

  /** (n, mean, p10) of the cosine between each stored vector and its
    * assigned centroid — the quantizer-fit statistic. One broadcast
    * join against the tiny centroid table, one aggregation.
    */
  private def assignedCosineStats(lists: DataFrame,
                                  cents: Array[Array[Double]]): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val centDf = cents.zipWithIndex
      .map { case (v, c) => (c, v.map(_.toFloat)) }.toSeq
      .toDF("cl", "__cent")
    lists.join(broadcast(centDf), Seq("cl"))
      .select(F.cosine_sim(col("c_emb"), col("__cent")).as("ac"))
      .agg(count(lit(1)).as("n"), avg(col("ac")).as("mean_ac"),
        percentile_approx(col("ac"), lit(0.1), lit(10000)).as("p10_ac"))
  }

  /** Quantizer-drift report for a persisted IVF index: the manifest's
    * build-time assigned-cosine baseline vs the SAME statistic over the
    * current lists (i.e. including everything appended since). A
    * falling mean/p10 means appended vectors sit far from every
    * centroid — recall will degrade with no other warning (appends land
    * in SOME list regardless), which is exactly the silent degradation
    * the engine's no-silent-caps rule forbids. Act on drift with
    * [[rebuildIvfIndex]].
    */
  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    val m = T.Ivf.Manifest.read(spark, dir).head()
    val cents = readIvfCentroids(spark, dir)
    val now = assignedCosineStats(spark.read.parquet(s"$dir/lists"), cents)
    now.select(
      lit(m.getAs[Long]("n_vecs")).as("n_vecs_baseline"),
      lit(m.getAs[Double]("mean_assigned_cosine")).as("mean_baseline"),
      lit(m.getAs[Double]("p10_assigned_cosine")).as("p10_baseline"),
      col("n").as("n_vecs_now"), col("mean_ac").as("mean_now"),
      col("p10_ac").as("p10_now"),
      (lit(m.getAs[Double]("mean_assigned_cosine")) - col("mean_ac"))
        .as("mean_drift"),
      (lit(m.getAs[Double]("p10_assigned_cosine")) - col("p10_ac"))
        .as("p10_drift"))
  }

  /** Re-train the quantizer over everything the index currently holds
    * and rewrite the index — the answer to [[ivfIndexStats]] drift.
    * With `outDir` set, the rebuilt index is written there from a lazy
    * scan of the old lists (the 100-TB path: no copy of the corpus is
    * pinned anywhere, and the old index stays live until the swap).
    * In place (outDir null/equal), the corpus must be pinned with
    * localCheckpoint first — rewriting lists/ under a lazy plan that
    * reads lists/ would corrupt the index — so prefer outDir once the
    * corpus outgrows executor storage.
    */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String, nlist: Int, iters: Int = 3,
                      outDir: String = null): Unit = {
    val corpus = spark.read.parquet(s"$dir/lists")
      .select(col("neighbor_id").as("vec_id"), col("c_emb").as("embedding"))
    // in-place detection via Hadoop-QUALIFIED paths, not raw strings: an
    // aliased spelling of the same location (trailing slash, relative
    // path) must take the pinned branch, or the lazy scan would read
    // lists/ while overwriting it — the corruption the doc above warns
    // about. (Filesystem symlinks are outside Path identity; a symlinked
    // alias still needs the caller to pass the canonical spelling.)
    def qualified(p: String): org.apache.hadoop.fs.Path =
      graft.store.Store.fs(spark, p)
        .makeQualified(new org.apache.hadoop.fs.Path(p))
    if (outDir == null || qualified(outDir) == qualified(dir))
      writeIvfIndex(corpus.localCheckpoint(), dir, nlist, iters)
    else
      writeIvfIndex(corpus, outDir, nlist, iters)
  }

  /** Append new vectors to an existing IVF index: assign them with the
    * STORED quantizer (so old and new rows are bucketed identically) and
    * append into the per-centroid partitions — incremental ingestion
    * without retraining or rewriting the corpus. The quantizer drifts
    * from the true density as the corpus grows — [[ivfIndexStats]]
    * quantifies the drift against the manifest's build-time baseline
    * (recall is the observable that matters, q25/q32's gate, but it
    * needs ground truth; the assigned-cosine statistic needs none) and
    * [[rebuildIvfIndex]] re-trains when it trips.
    *
    * DRIFT GATE (the no-silent-degradation rule applied to the
    * engine's own index): before writing, the SNAPSHOT's mean
    * assigned-cosine is compared to the manifest baseline — one
    * aggregation over the snapshot, never an index scan, so the gate
    * costs what the append costs. If it falls more than
    * `spark.graft.ivf.driftTolerance` (default 0.1) below the
    * baseline, the append warns (`spark.graft.ivf.driftAction=warn`,
    * the default) or refuses (`=refuse`; `=off` disables), pointing at
    * [[rebuildIvfIndex]]. The gate reads the snapshot, not the
    * accumulated lists, so it catches each off-distribution batch as
    * it arrives; the cumulative view stays [[ivfIndexStats]] (its scan
    * is the on-demand audit, too expensive per append or per search).
    */
  def appendToIvfIndex(newVecs: DataFrame, dir: String,
                       idCol: String = "vec_id",
                       embCol: String = "embedding"): Unit = {
    import graft.functions.{expressions => E}
    val spark = newVecs.sparkSession
    val cents = readIvfCentroids(spark, dir)
    val assigned = newVecs
      .select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb"),
        E.ivf_assign(col(embCol), cents).as("cl"))
    val tol = spark.conf.get("spark.graft.ivf.driftTolerance", "0.1")
      .toDouble
    val action = spark.conf.get("spark.graft.ivf.driftAction", "warn")
    require(Set("warn", "refuse", "off")(action),
      s"spark.graft.ivf.driftAction must be warn|refuse|off, got $action")
    if (action != "off") {
      val stats = assignedCosineStats(
        assigned.select(col("cl"), col("c_emb")), cents).head()
      if (stats.getLong(0) > 0) { // empty snapshot: nothing to gate
        val baseline = T.Ivf.Manifest.read(spark, dir).head()
          .getAs[Double]("mean_assigned_cosine")
        val snapMean = stats.getDouble(1)
        val drift = baseline - snapMean
        if (drift > tol) {
          val msg = f"IVF drift gate: snapshot mean assigned-cosine " +
            f"$snapMean%.4f sits $drift%.4f below the index baseline " +
            f"$baseline%.4f (tolerance $tol) at $dir — the stored " +
            "quantizer does not fit these vectors and recall will " +
            "degrade silently; rebuildIvfIndex before further appends, " +
            "or set spark.graft.ivf.driftAction=off to override"
          if (action == "refuse") throw new IllegalStateException(msg)
          else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
        }
      }
    }
    assigned
      .write.mode(org.apache.spark.sql.SaveMode.Append).partitionBy("cl")
      .parquet(s"$dir/lists")
  }

  /** Load the quantizer matrix back (nlist x dim doubles — tiny). */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Array[Array[Double]] = {
    val rows = T.Ivf.Centroids.read(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val nlist = rows.map(_._1).max + 1
    val dim = rows.map(_._2).max + 1
    val cents = Array.fill(nlist)(new Array[Double](dim))
    rows.foreach { case (c, p, v) => cents(c)(p) = v }
    cents
  }

  /** Search a persisted IVF index: each query probes its `nprobe`
    * nearest lists; the lists scan carries a LITERAL partition filter
    * (the union of probed cl values — at most min(nlist, queries *
    * nprobe) values, collected from the bounded probe set, never from
    * corpus-sized data), so the input is pruned at the file listing,
    * not post-scan. Results match ivfTopK at the same quantizer by
    * construction (same assignment expression both at write and here).
    */
  def searchIvfIndex(queries: DataFrame, dir: String, k: Int,
                     nprobe: Int = 4, idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame = {
    import graft.functions.{expressions => E}
    val spark = queries.sparkSession
    val cents = readIvfCentroids(spark, dir)
    require(dimOf(queries, embCol) == cents(0).length,
      s"query dim ${dimOf(queries, embCol)} != stored quantizer dim " +
        s"${cents(0).length} at $dir")
    // Pin the probe frame with an eager localCheckpoint: it is
    // evaluated twice (the probed-cl collect below and the candidate
    // join) — unpinned, a non-deterministic queries input (sample,
    // unordered limit) could probe clusters the isin() filter already
    // pruned, silently losing neighbors. localCheckpoint (not persist):
    // the frame is bounded (queries x nprobe narrow rows), the RDD
    // blocks are ContextCleaner-reclaimed once the lazy result is
    // dropped, whereas a persist with no unpersist pins the plan in
    // the CacheManager forever (one leak per call in long sessions).
    val q = queries.select(col(idCol).as("query_id"),
        col(embCol).as("q_emb"),
        explode(E.ivf_probes(col(embCol), cents, nprobe)).as("cl"))
      .localCheckpoint()
    // bounded driver collect: <= nlist distinct probe values
    val probed = q.select(col("cl")).distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = spark.read.parquet(s"$dir/lists")
      .filter(col("cl").isin(probed.map(_.asInstanceOf[Any]): _*))
    val cands = q.join(lists, Seq("cl"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", F.cosine_sim(col("q_emb"), col("c_emb")))
    rankTopK(cands, k)
  }

  /** Band-bucket size distribution for a corpus at the given LSH
    * parameters: (bucket, bsz, dropped). Run this alongside a capped
    * lshTopK to account for what the cap discards — the no-silent-cap
    * rule.
    */
  def lshBucketStats(corpus: DataFrame, nbits: Int, numBands: Int,
                     idCol: String = "vec_id",
                     embCol: String = "embedding",
                     dim: Int = -1,
                     maxBucket: Int = 0): DataFrame = {
    val (bitsPerBand, d) = bandParams(corpus, nbits, numBands, embCol, dim)
    corpus
      .select(explode(F.lsh_band_keys(col(embCol), numBands, bitsPerBand, d))
        .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .withColumn("dropped",
        if (maxBucket <= 0) lit(false) else col("bsz") > maxBucket)
  }
}
