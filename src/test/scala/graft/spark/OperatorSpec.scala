package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Ann, Dedup, Multimodal, TextAnalysis}
import graft.sources.TokenDocGen

/** Unit tests for the pipeline operators (dedup tiers, text analysis,
  * ANN, multimodal plumbing) on constructed inputs with known answers —
  * complementing the DuckDB oracle replay that checks them on the driver
  * testdata.
  */
class OperatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("exact dedup finds planted duplicates and keeps min id") {
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "alpha beta gamma"),
      (2L, "delta epsilon"), (3L, "alpha beta gamma"), (4L, "unique text"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length == 3)
    val dupGroup = groups.find(_.getAs[Long]("dup_cnt") == 3).get
    assert(dupGroup.getAs[Long]("keep_id") == 0L)
    val drops = Dedup.exactDropIds(docs).as[Long].collect().sorted
    assert(drops.sameElements(Array(1L, 3L)))
  }

  test("jaccard pairs: planted near-dup found, unrelated not") {
    // doc 1 and 2 share 9 of 10 tokens (J = 9/11 ~ 0.818)
    val docs = Seq(
      (1L, (1 to 10).toArray),
      (2L, (2 to 11).toArray),
      (3L, (100 to 120).toArray))
      .toDF("doc_id", "tokens")
    val pairs = Dedup.jaccardPairs(docs, 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("a") == 1L)
    assert(pairs.head.getAs[Long]("b") == 2L)
    assert(math.abs(pairs.head.getAs[Double]("jaccard") - 9.0 / 11) < 1e-4)
  }

  test("prefix filter stays EXACT under a planted hot token") {
    // token 999 appears in every doc (df = 20); every pair shares it, so
    // J(pair) = 1/3. The df-ordered prefix filter must still find ALL
    // qualifying pairs (no silent dropping, unlike a df cap)...
    val docs = (1L to 20L).map(i =>
      (i, Array(999, 1000 + i.toInt))).toDF("doc_id", "tokens")
    val pairs = Dedup.jaccardPairs(docs, 0.3).collect()
    assert(pairs.length == 190, "all C(20,2) pairs at J=1/3 >= 0.3")
    assert(pairs.forall(r =>
      math.abs(r.getAs[Double]("jaccard") - 1.0 / 3) < 1e-4))
  }

  test("prefix filter survives the float boundary (t * |d| an exact integer)") {
    // 25 * 0.56 is 14 in the reals but 14.000000000000002 in doubles: a
    // naive ceil yields 15, shortening doc1's prefix from 12 to 11 —
    // exactly cutting off the FIRST shared token (ranks 1-11 are doc1's
    // unique rare tokens) and silently dropping this J = 14/25 = 0.56
    // pair. The epsilon-guarded ceil keeps it.
    val shared = (100 to 113).toArray            // 14 shared tokens (df=2)
    val doc1 = ((1 to 11).toArray ++ shared)     // 11 uniques + shared = 25
    val doc2 = shared                            // exactly the shared set
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "tokens")
    val pairs = Dedup.jaccardPairs(docs, 0.56).collect()
    assert(pairs.length == 1, s"boundary pair must survive: ${pairs.toSeq}")
    assert(math.abs(pairs.head.getAs[Double]("jaccard") - 0.56) < 1e-9)
  }

  test("prefix filter prunes the hot token out of the index at high t") {
    // at threshold 0.9 each 2-token doc indexes only its rarest token
    // (prefix length 1), so the df=20 hot token never reaches the
    // posting self-join — bounded fan-out — and the exact answer
    // (no pair reaches J=1/3 >= 0.9) still comes out
    val docs = (1L to 20L).map(i =>
      (i, Array(999, 1000 + i.toInt))).toDF("doc_id", "tokens")
    assert(Dedup.jaccardPairs(docs, 0.9).collect().isEmpty)
  }

  test("minhash LSH recall: finds all high-jaccard pairs of jaccardPairs") {
    val docs = TokenDocGen.generateDf(spark, 300, 3L, 4)
      .select(col("doc_id"), col("tokens"))
    val exact = Dedup.jaccardPairs(docs, 0.6)
      .select("a", "b").as[(String, String)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, 0.6, numBands = 32, rowsPerBand = 4)
      .select("a", "b").as[(String, String)].collect().toSet
    assert(lsh == exact,
      s"LSH candidates at recall ~1 must equal exact pairs: " +
        s"missing=${exact -- lsh}, extra=${lsh -- exact}")
  }

  test("shingles make Jaccard order-sensitive; LSH path agrees") {
    // same token MULTISET, different order: unigram Jaccard = 1.0 but
    // bigram shingle Jaccard is low — shingling catches the reorder
    val a = (1 to 40).toArray
    val b = (1 to 40).reverse.toArray
    val c = (1 to 40).toArray // true duplicate of a
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "tokens")
    val uni = Dedup.jaccardPairs(docs, 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(uni == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"unigram sets are all equal: $uni")
    val bi = Dedup.jaccardPairs(docs, 0.9, ngram = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(bi == Set((1L, 3L)),
      s"only the true duplicate shares bigrams: $bi")
    val biLsh = Dedup.minhashLshPairs(docs, 0.9, ngram = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(biLsh == bi, s"LSH shingle path must agree: $biLsh vs $bi")
  }

  test("simhash with shingles separates reordered from duplicated docs") {
    val a = (1 to 60).toArray
    val b = (1 to 60).reverse.toArray // same multiset, reversed order
    val c = (1 to 60).toArray         // true duplicate
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "tokens")
    val uni = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(uni == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"unigram simhash ignores order: $uni")
    val bi = Dedup.simhashPairs(docs, maxHamming = 3, ngram = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(bi == Set((1L, 3L)), s"bigram simhash sees order: $bi")
    // bucketed == exact under shingles too
    val biExact = Dedup.simhashPairsExact(docs, maxHamming = 3, ngram = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(bi == biExact)
  }

  test("simhash pairs: identical docs distance 0, found via chunking") {
    val docs = Seq(
      (1L, Array.tabulate(50)(i => i * 3)),
      (2L, Array.tabulate(50)(i => i * 3)), // identical token multiset
      (3L, Array.tabulate(50)(i => 7000 + i * 11)))
      .toDF("doc_id", "tokens")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
    assert(pairs.exists(r => r.getAs[Long]("a") == 1L &&
      r.getAs[Long]("b") == 2L && r.getAs[Int]("hamming") == 0))
  }

  test("simhash bucketed pairs equal grid-exact pairs (recall guarantee)") {
    val docs = TokenDocGen.generateDf(spark, 400, 11L, 4)
      .select(col("doc_id"), col("tokens"))
    for (h <- Seq(3, 7)) {
      val bucketed = Dedup.simhashPairs(docs, maxHamming = h)
        .as[(String, String, Int)].collect().toSet
      val exact = Dedup.simhashPairsExact(docs, maxHamming = h)
        .as[(String, String, Int)].collect().toSet
      assert(bucketed == exact,
        s"h=$h: missing=${exact -- bucketed}, extra=${bucketed -- exact}")
    }
  }

  test("grid self-join sees every unordered pair exactly once") {
    // maxHamming=64 accepts every pair, so the count must be C(n,2) —
    // duplicates or misses in gridPairs would show immediately
    val docs = TokenDocGen.generateDf(spark, 60, 5L, 4)
      .select(col("doc_id"), col("tokens"))
    for (blocks <- Seq(1, 4, 8)) {
      val n = Dedup.simhashPairsExact(docs, maxHamming = 64,
        numBlocks = blocks).count()
      assert(n == 60L * 59 / 2, s"numBlocks=$blocks: $n")
    }
  }

  test("embedding LSH near-dup equals grid-exact on planted near-dups") {
    // 30 random-ish base vectors plus 5 planted high-cosine variants
    val base = spark.range(30).select(col("id").as("vec_id"),
      array((0 until 16).map(d =>
        (pmod(col("id") * (d + 3) + d, lit(101)) / lit(101.0) - 0.5)
          .cast("float")): _*).as("embedding"))
    val planted = spark.range(5).select((col("id") + 100).as("vec_id"),
      array((0 until 16).map(d =>
        ((pmod(col("id") * (d + 3) + d, lit(101)) / lit(101.0) - 0.5) +
          lit(0.01 * (d % 3))).cast("float")): _*).as("embedding"))
    val emb = base.union(planted)
    val exact = Dedup.embeddingNearDupPairs(emb, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.embeddingNearDupPairsLsh(emb, 0.8,
      numBands = 32, bitsPerBand = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.size >= 5, s"planted near-dups must qualify: $exact")
    assert(lsh == exact,
      s"missing=${exact -- lsh}, extra=${lsh -- exact}")
  }

  test("language ID picks the stopword-matching language") {
    assert(TextAnalysis.detectLang("the cat sat on the mat") == "en")
    assert(TextAnalysis.detectLang("der hund und die katze ist im haus") == "de")
    assert(TextAnalysis.detectLang("le chat est dans la maison et pas dehors") == "fr")
    assert(TextAnalysis.detectLang("el perro y la casa es para los dos") == "es")
    assert(TextAnalysis.detectLang("中文文本处理测试") == "zh")
    assert(TextAnalysis.detectLang("xyzzy plugh qwerty") == "und")
    assert(TextAnalysis.detectLang("") == "und")
  }

  test("rolling fingerprint: equal content equal fp; robust to big inputs") {
    val a = TextAnalysis.rollingFingerprint("some shared long content here")
    val b = TextAnalysis.rollingFingerprint("some shared long content here")
    val c = TextAnalysis.rollingFingerprint("completely different words")
    assert(a == b)
    assert(a != c)
    assert(TextAnalysis.rollingFingerprint("short") ==
      graft.core.Hashing.fnv1a64("short"))
  }

  test("ANN brute force: planted nearest neighbor is rank 1") {
    val base = Array.tabulate(16)(_.toFloat)
    def scaled(s: Float) = base.map(_ * s)
    def noisy() = base.zipWithIndex.map { case (v, i) =>
      v + (if (i % 2 == 0) 5f else -5f)
    }
    val emb = Seq(
      (0L, base), (1L, scaled(2.0f)), // cosine(0,1) = 1.0
      (2L, noisy()), (3L, Array.fill(16)(1f).zipWithIndex
        .map { case (v, i) => if (i == 0) 100f else v }))
      .toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(emb.filter($"vec_id" === 0), emb, 2)
      .orderBy($"rnk").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
  }

  test("ANN LSH: self-similar vectors collide; results subset of brute force") {
    val emb = TokenDocGen.generateDf(spark, 0, 1L, 1).sparkSession
      .range(200).select(col("id").as("vec_id"),
        array((0 until 16).map(d =>
          (pmod(col("id") * (d + 3), lit(97)) / lit(97.0)).cast("float")): _*)
          .as("embedding"))
    val brute = Ann.bruteForceTopK(emb.filter($"vec_id" < 5), emb, 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(emb.filter($"vec_id" < 5), emb, 5,
      nbits = 16, numBands = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty)
    // LSH's top results must be genuinely similar: every LSH hit should be
    // within the brute-force top-50 for that query
    assert(lsh.subsetOf(brute), s"LSH returned non-neighbors: ${lsh -- brute}")
  }

  test("IVF top-k matches brute force on clustered data") {
    // 4 well-separated clusters (near-one-hot directions + small noise):
    // the k-means quantizer must recover them and nprobe=2 searches must
    // return exactly the brute-force neighbors
    val rows = for {
      c <- 0 until 4
      m <- 0 until 10
    } yield {
      val base = Array.tabulate(8)(d =>
        if (d == 2 * c || d == 2 * c + 1) 1.0f else 0.0f)
      val noisy = base.zipWithIndex.map { case (v, d) =>
        v + 0.02f * graft.core.Hashing.toUnitDouble(
          graft.core.Hashing.at(77, (c * 10 + m) * 8 + d)).toFloat
      }
      ((c * 10 + m).toLong, noisy)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 10 === 0)
    val exact = Ann.bruteForceTopK(qs, emb, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(qs, emb, 3, nlist = 4, nprobe = 2, iters = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == exact,
      s"missing=${exact -- ivf}, extra=${ivf -- exact}")
  }

  test("persisted IVF index: search == ivfTopK, scan carries partition filters") {
    val rows = for {
      c <- 0 until 4
      m <- 0 until 10
    } yield {
      val base = Array.tabulate(8)(d =>
        if (d == 2 * c || d == 2 * c + 1) 1.0f else 0.0f)
      val noisy = base.zipWithIndex.map { case (v, d) =>
        v + 0.02f * graft.core.Hashing.toUnitDouble(
          graft.core.Hashing.at(77, (c * 10 + m) * 8 + d)).toFloat
      }
      ((c * 10 + m).toLong, noisy)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 10 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-idx").toString
    Ann.writeIvfIndex(emb, dir, nlist = 4, iters = 3)
    // centroid round-trip: the persisted quantizer equals the trained one
    val cents = Ann.readIvfCentroids(spark, dir)
    assert(cents.length == 4 && cents.head.length == 8)
    // leak check: searchIvfIndex pins its probe frame via
    // localCheckpoint, which must NOT register anything in the
    // session CacheManager (the r3 persist-without-unpersist leak)
    spark.catalog.clearCache()
    val fromIndex = Ann.searchIvfIndex(qs, dir, 3, nprobe = 2)
    val direct = Ann.ivfTopK(qs, emb, 3, nlist = 4, nprobe = 2,
      centroids = cents)
    assert(fromIndex.collect().toSet == direct.collect().toSet,
      "index search must equal the recompute-per-search path")
    assert(org.apache.spark.sql.graftglue.testglue.cacheManagerIsEmpty(spark),
      "searchIvfIndex must leave no CacheManager entry behind")
    // the scan must be PRUNED: partition filters on cl (descend into
    // the executed AQE stages to find the parquet scan)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    val scan = scans(fromIndex.queryExecution.executedPlan).filter(
      _.metadata.get("Location").exists(_.contains("lists")))
    assert(scan.nonEmpty, "lists scan not found:\n" +
      fromIndex.queryExecution.executedPlan)
    assert(scan.head.partitionFilters.nonEmpty,
      s"lists scan must carry partition filters:\n${scan.head}")
    assert(scan.head.metadata("PartitionFilters").contains("cl"),
      scan.head.metadata("PartitionFilters"))
  }

  test("IVF drift: off-distribution appends trip the stat, rebuild heals") {
    val mk = (c: Int, m: Int, seed: Int) => {
      val base = Array.tabulate(8)(d =>
        if (d == 2 * c || d == 2 * c + 1) 1.0f else 0.0f)
      base.zipWithIndex.map { case (v, d) =>
        v + 0.02f * graft.core.Hashing.toUnitDouble(
          graft.core.Hashing.at(seed, (c * 100 + m) * 8 + d)).toFloat }
    }
    val initial = (for { c <- 0 until 4; m <- 0 until 10 }
      yield ((c * 100 + m).toLong, mk(c, m, 79))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-drift").toString
    Ann.writeIvfIndex(initial, dir, nlist = 4, iters = 3)
    val base = Ann.ivfIndexStats(spark, dir).head()
    // freshly built: current == baseline, zero drift
    assert(math.abs(base.getAs[Double]("mean_drift")) < 1e-6)
    assert(base.getAs[Double]("mean_baseline") > 0.95,
      s"clustered fixture should fit its quantizer: $base")
    // append OFF-DISTRIBUTION vectors: mass on dims the quantizer has
    // no centroid near (all-dims-equal direction, cosine ~0.5 to every
    // axis-pair centroid)
    val off = (0 until 40).map { i =>
      ((1000 + i).toLong, Array.tabulate(8)(d =>
        1.0f + 0.02f * graft.core.Hashing.toUnitDouble(
          graft.core.Hashing.at(81, i * 8 + d)).toFloat))
    }.toDF("vec_id", "embedding")
    // the append-time gate: with driftAction=refuse, the
    // off-distribution append fails LOUDLY before writing anything...
    spark.conf.set("spark.graft.ivf.driftAction", "refuse")
    try {
      val e = intercept[IllegalStateException] {
        Ann.appendToIvfIndex(off, dir)
      }
      assert(e.getMessage.contains("rebuildIvfIndex"), e.getMessage)
      assert(Ann.ivfIndexStats(spark, dir).head()
        .getAs[Long]("n_vecs_now") == 40L,
        "refused append must not have written")
      // ...while an in-distribution append stays silent under the gate
      val inDist = (0 until 4).map { c =>
        ((2000 + c).toLong, mk(c, 50 + c, 83)) }.toDF("vec_id", "embedding")
      Ann.appendToIvfIndex(inDist, dir)
      assert(Ann.ivfIndexStats(spark, dir).head()
        .getAs[Long]("n_vecs_now") == 44L)
    } finally spark.conf.unset("spark.graft.ivf.driftAction")
    // default action=warn: the off-distribution append proceeds (logged)
    Ann.appendToIvfIndex(off, dir)
    val drifted = Ann.ivfIndexStats(spark, dir).head()
    assert(drifted.getAs[Double]("mean_drift") > 0.05,
      s"off-distribution appends must trip the drift stat: $drifted")
    assert(drifted.getAs[Long]("n_vecs_now") == 84L)
    // ...while recall on the ORIGINAL queries still holds — drift is
    // invisible to a recall gate that has no queries in the new region,
    // which is why the index carries its own statistic
    val inDistAll = (0 until 4).map { c =>
      ((2000 + c).toLong, mk(c, 50 + c, 83)) }.toDF("vec_id", "embedding")
    val qs = initial.filter(col("vec_id") % 100 === 0)
    val found = Ann.searchIvfIndex(qs, dir, 3, nprobe = 2)
    val direct = Ann.ivfTopK(qs, initial.union(inDistAll).union(off), 3,
      nlist = 4, nprobe = 2, centroids = Ann.readIvfCentroids(spark, dir))
    assert(found.collect().toSet == direct.collect().toSet)
    // in-place rebuild with capacity for the new mode: fit is restored
    // and the manifest baseline is re-established
    Ann.rebuildIvfIndex(spark, dir, nlist = 5, iters = 4)
    val healed = Ann.ivfIndexStats(spark, dir).head()
    assert(math.abs(healed.getAs[Double]("mean_drift")) < 1e-6)
    assert(healed.getAs[Double]("mean_now") >
      drifted.getAs[Double]("mean_now") + 0.02,
      s"rebuild must improve quantizer fit: $healed vs $drifted")
    assert(healed.getAs[Long]("n_vecs_now") == 84L,
      "in-place rebuild must preserve every vector")
    // rebuild-to-fresh-dir (the 100-TB path: lazy scan, no pinned copy)
    // must produce an equivalent index: same vectors, fresh baseline,
    // and searches that agree with the in-place rebuilt index
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-ivf-rebuild-out").toString
    Ann.rebuildIvfIndex(spark, dir, nlist = 5, iters = 4, outDir = dir2)
    val out2 = Ann.ivfIndexStats(spark, dir2).head()
    assert(out2.getAs[Long]("n_vecs_now") == 84L)
    assert(math.abs(out2.getAs[Double]("mean_drift")) < 1e-6)
    val qs2 = initial.filter(col("vec_id") % 100 === 0)
    assert(Ann.searchIvfIndex(qs2, dir2, 3, nprobe = 2).collect().toSet ==
      Ann.searchIvfIndex(qs2, dir, 3, nprobe = 2).collect().toSet,
      "out-of-place and in-place rebuilds must answer identically")
  }

  test("IVF index append: new vectors searchable, assignment consistent") {
    val mk = (c: Int, m: Int) => {
      val base = Array.tabulate(8)(d =>
        if (d == 2 * c || d == 2 * c + 1) 1.0f else 0.0f)
      base.zipWithIndex.map { case (v, d) =>
        v + 0.02f * graft.core.Hashing.toUnitDouble(
          graft.core.Hashing.at(78, (c * 100 + m) * 8 + d)).toFloat }
    }
    val initial = (for { c <- 0 until 4; m <- 0 until 8 }
      yield ((c * 100 + m).toLong, mk(c, m))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-append").toString
    Ann.writeIvfIndex(initial, dir, nlist = 4, iters = 3)
    // append vectors from the same clusters, new ids
    val extra = (for { c <- 0 until 4; m <- 8 until 12 }
      yield ((c * 100 + m).toLong, mk(c, m))).toDF("vec_id", "embedding")
    Ann.appendToIvfIndex(extra, dir)
    // searching with a query near cluster 2 must now surface appended
    // cluster-2 vectors among the neighbors
    val qs = initial.filter(col("vec_id") === 200L)
    val found = Ann.searchIvfIndex(qs, dir, 12, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert((208L to 211L).forall(found.contains),
      s"appended cluster-2 vectors must be searchable: $found")
    // every appended row landed in the partition the stored quantizer
    // assigns it to (old/new bucketing identical)
    val cents = Ann.readIvfCentroids(spark, dir)
    val lists = spark.read.parquet(s"$dir/lists")
      .filter(col("neighbor_id") >= 8L) // appended ids end in 08..11
    val mismatched = lists.withColumn("expect",
        graft.functions.expressions.ivf_assign(col("c_emb"), cents))
      .filter(col("cl") =!= col("expect")).count()
    assert(mismatched == 0L)
  }

  test("multimodal decode: metadata deterministic, nulls dropped") {
    val media = Seq(
      (1L, "hello world".getBytes("UTF-8"), "fake/image"),
      (2L, null.asInstanceOf[Array[Byte]], "fake/audio"),
      (3L, "abc".getBytes("UTF-8"), "fake/video"))
      .toDF("doc_id", "media", "media_type")
    val out = Multimodal.decode(media).collect()
    assert(out.length == 2) // null media dropped like an undecodable file
    val r1 = out.find(_.getAs[Long]("doc_id") == 1L).get
    assert(r1.getAs[Int]("n_bytes") == 11)
    assert(r1.getAs[Int]("frames") == 12)
    assert(r1.getAs[Int]("width") >= 64 && r1.getAs[Int]("width") < 64 + 1024)
    // frame sampling plumbing
    val frames = Multimodal.sampleFrames(
      Multimodal.decode(Multimodal.asMediaTable(
        Seq((2L, "x" * 100, "en", "s", 100L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))), 5)
    val collected = frames.collect()
    assert(collected.nonEmpty)
    assert(collected.forall(_.getAs[Int]("frame_idx") % 5 == 0))
    // feature extraction: deterministic, right shape, unit norm
    val feats = Multimodal.frameFeatures(frames, dim = 8).collect()
    assert(feats.length == collected.length)
    feats.foreach { r =>
      val e = r.getAs[scala.collection.Seq[Float]]("embedding")
      assert(e.length == 8)
      val norm = math.sqrt(e.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-3, s"norm $norm")
      assert(e.sameElements(Multimodal.fakeEmbedding(
        r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx"), 8)))
    }
  }

  test("resize planning preserves aspect and honors maxDim") {
    val decoded = Seq((1L, "fake/image", 10, "x", 2048, 1024, 1),
      (2L, "fake/image", 10, "x", 100, 50, 1))
      .toDF("doc_id", "media_type", "n_bytes", "content_md5",
        "width", "height", "frames")
    val out = Multimodal.resizedDims(decoded, 512)
      .select("doc_id", "out_width", "out_height")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(out(1L) == (512, 256)) // downscaled, aspect kept
    assert(out(2L) == (100, 50))  // never upscaled
  }

  test("CC clustering: one cluster per component, min id as label") {
    // components: chain {1,2,3}, star {4,6,9} centered on 9 (the largest
    // id), singleton pair {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 9L), (6L, 9L), (10L, 11L))
      .toDF("a", "b")
    val labels = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 6L -> 4L, 9L -> 4L, 10L -> 10L, 11L -> 10L))
  }

  test("CC drop policy differs from pairwise on a large-id star center") {
    // star: 9 similar to 4 and 6, but 4 !~ 6. Pairwise drops only 9
    // (4 and 6 have no SMALLER-id neighbor); CC keeps one per component.
    val pairs = Seq((4L, 9L), (6L, 9L)).toDF("a", "b")
    val ccDrops = Dedup.nearDupDropIdsCC(pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ccDrops == Seq(6L, 9L), "CC keeps only the component min (4)")
    val pairwiseDrops = pairs.select(col("b").as("doc_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pairwiseDrops == Seq(9L), "pairwise keeps both 4 and 6")
  }

  test("dedupDocsCC keeps one doc per component where pairwise keeps more") {
    // star: doc 9 near-dups BOTH 4 and 6 (J ~ 0.91 each) but 4 !~ 6
    // (J ~ 0.83): pairwise dedup keeps {4, 6}; CC dedup keeps only 4
    val core = (1 to 38).map(i => s"w$i")
    val onlyIn4 = Seq("a1", "a2", "a3", "a4")
    val onlyIn6 = Seq("b1", "b2", "b3", "b4")
    val d4 = core ++ onlyIn4                      // 42 words
    val d6 = core ++ onlyIn6                      // 42 words
    val d9 = core                                 // 38 words, J=38/42~0.905
    val docs = Seq(
      (4L, d4.mkString(" "), "s"),
      (6L, d6.mkString(" "), "s"),
      (9L, d9.mkString(" "), "s"),
      (11L, (1 to 20).map(i => s"z$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val pairwise = Dedup.dedupDocs(docs, 0.9)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val cc = Dedup.dedupDocsCC(docs, 0.9)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(pairwise == Seq(4L, 6L, 11L), s"pairwise keeps the star leaves: $pairwise")
    assert(cc == Seq(4L, 11L), s"CC keeps one per component: $cc")
  }

  test("near-dup dedup: two docs without tokens are not a pair") {
    // empty token sets have an empty union, so Jaccard is 0/0: they
    // must never verify as a pair, nor fail the ANSI division
    val docs = Seq[(Long, String, String)]((0L, "!!!", "s"),
        (1L, "???", "s"), (2L, null, "s"), (3L, null, "s"),
        (4L, "alpha beta gamma delta", "s"))
      .toDF("doc_id", "text", "source")
    for (kept <- Seq(Dedup.dedupDocs(docs), Dedup.dedupDocsCC(docs)))
      assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ==
        (0L to 4L))
    // the prefix-filter join never sees an empty set, and LSH agrees
    val sets = Seq((0L, Array.empty[Int]), (1L, Array.empty[Int]),
        (2L, Array(1, 2, 3)))
      .toDF("doc_id", "tokens")
    assert(Dedup.jaccardPairs(sets, 0.5).count() == 0)
    assert(Dedup.minhashLshPairs(sets, 0.5).count() == 0)
  }

  test("keepBestPerCluster keeps the top-scored doc, ties to min id") {
    // components: {1,2,3} scores (5,9,9) -> keep 2 (top score, tie to
    // the smaller id); {10,11} scores (1,4) -> keep 11 (quality beats
    // min-id); 7 unclustered -> kept regardless of score
    val labels = Dedup.nearDupClusters(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"))
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 0L), (10L, 1L),
      (11L, 4L)).toDF("doc_id", "score")
    val kept = Dedup.keepBestPerCluster(docs, labels, "score")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 7L, 11L))
    // min-id policy on the same clusters would keep {1, 7, 10}
    val minId = docs.join(labels.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(minId == Seq(1L, 7L, 10L))
  }

  test("keepBestPerCluster plan: no corpus-keyed exchange") {
    // corpus sees two joins on the id (scores in, losers anti-joined
    // out), both broadcast-able; the ranking window shuffles only the
    // labels-sized side
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val plan = Dedup.keepBestPerCluster(docs, labels, "n_chars")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("CC clustering matches GraphX ConnectedComponents on random graphs") {
    // independent oracle: GraphX's CC also labels every vertex with the
    // minimum vertex id of its component — compare on deterministic
    // random graphs of varying density
    import graft.core.Hashing
    for ((seed, nEdges, nVerts) <- Seq((1L, 80, 120), (2L, 300, 150),
        (3L, 30, 200))) {
      val edges = (0 until nEdges).map { i =>
        val a = Math.floorMod(Hashing.at(seed, 2 * i), nVerts).toLong
        val b = Math.floorMod(Hashing.at(seed, 2 * i + 1), nVerts).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val ours = Dedup.nearDupClusters(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val graph = org.apache.spark.graphx.Graph.fromEdgeTuples(
        spark.sparkContext.parallelize(edges), defaultValue = 0)
      val gx = graph.connectedComponents().vertices
        .collect().toMap
      // GraphX includes every vertex of the edge list; ours too
      assert(ours == gx.map { case (k, v) => (k: Long) -> (v: Long) },
        s"seed=$seed: ours and GraphX disagree")
    }
  }

  test("CC clustering converges in log rounds on a long chain") {
    // a 300-node chain has diameter 299: naive min-propagation needs 299
    // rounds; pointer jumping must finish within maxIters=25 (~log2)
    val pairs = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.nearDupClusters(pairs, maxIters = 25)
    assert(labels.select(countDistinct(col("cluster_id"))).head.getLong(0) == 1L)
    assert(labels.count() == 300L)
    assert(labels.agg(max(col("cluster_id"))).head.getLong(0) == 0L)
  }

  test("decontamination flags exactly the docs sharing eval n-grams") {
    import graft.operators.Decontaminate
    val evalDocs = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // eval 3-grams: {"alpha beta gamma", "beta gamma delta"}
    val train = Seq(
      (0L, "xx alpha beta gamma yy"),          // shares 1
      (1L, "alpha beta gamma delta epsilon"),  // shares 2
      (2L, "alpha beta xx gamma delta"),       // 3-grams all differ
      (3L, "alpha beta"),                      // too short for any 3-gram
      (4L, "zz alpha  beta gamma"),            // double space: empties dropped -> shares 1
      (5L, "alpha beta gamma alpha beta gamma")// repeated n-gram counts ONCE
    ).toDF("doc_id", "text")
    val got = Decontaminate.contaminated(train, evalDocs, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1L, 1L -> 2L, 4L -> 1L, 5L -> 1L), s"got $got")
    val strict = Decontaminate.contaminated(train, evalDocs, n = 3,
      minOverlap = 2).collect().map(_.getLong(0)).toSet
    assert(strict == Set(1L))
    val clean = Decontaminate.decontaminate(train, evalDocs, n = 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))
  }

  test("hash-keyed sampling: deterministic, partition-stable, nested") {
    import graft.operators.Sampling
    val n = 4000
    val df = (0L until n.toLong)
      .map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("doc_id", "source")
    def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val s1 = ids(Sampling.sample(df, 0.5, "t"))
    // partitioning must not change the sample (rand() would)
    assert(ids(Sampling.sample(df.repartition(13), 0.5, "t")) == s1)
    assert(math.abs(s1.size.toDouble / n - 0.5) < 0.05, s"${s1.size}")
    // a different salt is an independent resample
    assert(ids(Sampling.sample(df, 0.5, "u")) != s1)
    // thresholds nest: the 25% sample is a subset of the 50% one
    assert(ids(Sampling.sample(df, 0.25, "t")).subsetOf(s1))
    // strata: listed fractions exact at 0/1, default covers the rest
    val strat = Sampling.sampleBySource(df, Map("a" -> 1.0, "b" -> 0.0),
      salt = "t")
    assert(strat.count() == n / 2 &&
      strat.filter(col("source") === "b").isEmpty)
    val dflt = Sampling.sampleBySource(df, Map("a" -> 0.0),
      defaultFraction = 1.0, salt = "t")
    assert(dflt.count() == n / 2 &&
      dflt.filter(col("source") === "a").isEmpty)
  }

  test("top-k buffer excludes NaN scores; dim mismatch fails loudly") {
    import graft.functions.{functions => F}
    // a NaN-scored row must not enter (or freeze) the per-group buffer
    val scored = Seq(
      (1L, Double.NaN, 100L), (1L, 0.9, 2L), (1L, 0.8, 3L),
      (1L, 0.95, 4L), (1L, 0.7, 5L))
      .toDF("query_id", "cosine", "neighbor_id")
    val top = scored.groupBy(col("query_id"))
      .agg(F.topk_by_score(col("cosine"), col("neighbor_id"), 3).as("t"))
      .select(explode(col("t.id")).as("id"))
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(4L, 2L, 3L), s"NaN must be excluded: $top")
    // queries at a different dim than the corpus: loud error, not a
    // silent prefix-cosine answer
    val c = (0L until 10L).map(i => (i, Array.fill(8)(0.1f)))
      .toDF("vec_id", "embedding")
    val q = Seq((100L, Array.fill(4)(0.1f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.bruteForceTopK(q, c, 3)
    }
    assert(e.getMessage.contains("dim mismatch"), e.getMessage)
  }

  test("persisted eval index answers identically to the direct path") {
    import graft.operators.Decontaminate
    val evalDocs = Seq((100L, "alpha beta gamma delta"),
      (101L, "one two three four five")).toDF("doc_id", "text")
    val train = Seq(
      (0L, "xx alpha beta gamma yy"),
      (1L, "one two three four five six"),
      (2L, "nothing shared here at all")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-evalidx-test").toString
    Decontaminate.writeEvalIndex(evalDocs, dir, n = 3, fpr = 1e-6)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(Decontaminate.contaminatedVsIndex(train, dir)) ==
      rows(Decontaminate.contaminated(train, evalDocs, n = 3)))
    // the persisted filter file drives the streaming screen too, and
    // carries the reference dump format (comment readable on load)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "filter.bloom"))
    val f = graft.core.BloomIO.load(bytes)
    assert(Decontaminate.overlapCount("xx alpha beta gamma", 3, f) == 1)
    assert(Decontaminate.overlapCount("nothing shared here", 3, f) == 0)
  }

  test("eval index append: union path and rebuild path both == fresh build") {
    import graft.operators.Decontaminate
    val eval1 = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // 30 words -> 28 distinct 3-grams: enough to outgrow a one-block
    // (512-bit) filter at fpr 1e-6 (~29 bits/key) in the rebuild case
    val eval2 = Seq((101L, ("one two three four five" +:
      (1 to 25).map(i => s"filler$i")).mkString(" "))).toDF("doc_id", "text")
    val train = Seq(
      (0L, "xx alpha beta gamma yy"),
      (1L, "one two three four five six"),
      (2L, "nothing shared here at all")).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // UNION path: the original sizing (1e5 expected) swallows the
    // appended n-grams, so the filter is extended by load-is-union
    val dirU = java.nio.file.Files
      .createTempDirectory("graft-evalidx-append-u").toString
    Decontaminate.writeEvalIndex(eval1, dirU, n = 3, fpr = 1e-6,
      expectedEvalNgrams = 100000L)
    val bitsBefore = Decontaminate.loadEvalFilter(spark, dirU).numBits
    Decontaminate.appendToEvalIndex(eval2, dirU)
    assert(Decontaminate.loadEvalFilter(spark, dirU).numBits == bitsBefore,
      "within-capacity append must keep the stored sizing (union, not rebuild)")
    assert(rows(Decontaminate.contaminatedVsIndex(train, dirU)) ==
      rows(Decontaminate.contaminated(train, eval1.union(eval2), n = 3)))
    // REBUILD path: a tightly-sized index (2 expected n-grams) cannot
    // absorb the growth at its fpr — the filter must be rebuilt larger,
    // never silently over-filled
    val dirR = java.nio.file.Files
      .createTempDirectory("graft-evalidx-append-r").toString
    Decontaminate.writeEvalIndex(eval1, dirR, n = 3, fpr = 1e-6,
      expectedEvalNgrams = 2L)
    val bitsSmall = Decontaminate.loadEvalFilter(spark, dirR).numBits
    Decontaminate.appendToEvalIndex(eval2, dirR)
    assert(Decontaminate.loadEvalFilter(spark, dirR).numBits > bitsSmall,
      "over-capacity append must rebuild at the new size")
    assert(rows(Decontaminate.contaminatedVsIndex(train, dirR)) ==
      rows(Decontaminate.contaminated(train, eval1.union(eval2), n = 3)))
    // idempotence: appending already-indexed docs is a no-op
    Decontaminate.appendToEvalIndex(eval2, dirU)
    assert(rows(Decontaminate.contaminatedVsIndex(train, dirU)) ==
      rows(Decontaminate.contaminated(train, eval1.union(eval2), n = 3)))
  }

  test("row-local ngramsOf matches column docNgrams on random texts") {
    // batch q35 and streaming decontamination share one filter, so the
    // row-local and codegen n-gram paths MUST tokenize identically —
    // including double spaces (empty tokens) and short/empty texts
    import graft.operators.Decontaminate
    val rnd = new scala.util.Random(7)
    val words = Vector("a", "bb", "ccc", "dd", "e", "")
    val texts = (0 until 60).map { i =>
      (i.toLong, (0 until rnd.nextInt(12))
        .map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    for (n <- 1 to 4) {
      val colSide = Decontaminate.docNgrams(texts.toDF("doc_id", "text"), n)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val rowSide = texts.flatMap { case (id, t) =>
        Decontaminate.ngramsOf(t, n).map(id -> _) }.toSet
      assert(colSide == rowSide, s"n=$n mismatch")
    }
  }

  test("packing assignments: contiguous stream, chunk math, salt epochs") {
    import graft.operators.Packing
    val df = (0L until 200L)
      .map(i => (i, if (i % 2 == 0) "a" else "b", 5L + (i % 11)))
      .toDF("doc_id", "source", "n_tok")
    val asg = Packing.packAssignments(df, seqLen = 64, salt = "e1")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // per source: offsets form a contiguous stream (sorted starts are
    // the prefix sums), chunk fields derive from start_off
    for (src <- Seq("a", "b")) {
      val s = asg.filter(_._1 == src).sortBy(_._4)
      assert(s.head._4 == 0L)
      s.sliding(2).foreach { case Array(p, q) =>
        assert(q._4 == p._4 + p._3, s"gap after ${p._2}") }
      s.foreach { case (_, _, _, start, chunk, off) =>
        assert(chunk == start / 64 && off == start % 64) }
    }
    // docs span boundaries: some doc must straddle a chunk edge
    assert(asg.exists { case (_, _, w, start, _, _) =>
      start / 64 != (start + w - 1) / 64 })
    // a different salt is a different epoch order
    val e2 = Packing.packAssignments(df, 64, salt = "e2")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(asg.exists { case (_, id, _, start, _, _) => e2(id) != start })
    // partition-stable
    val re = Packing.packAssignments(df.repartition(13), 64, salt = "e1")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(asg.forall { case (_, id, _, start, _, _) => re(id) == start })
    // chunk inventory adds up
    val st = Packing.chunkStats(
      Packing.packAssignments(df, 64, salt = "e1"), 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    for (src <- Seq("a", "b")) {
      val (tot, full, tail) = st(src)
      assert(full * 64 + tail == tot)
    }
  }

  test("chunk manifest: full chunks exactly covered, slices tile docs") {
    import graft.operators.Packing
    val df = ((0L until 200L)
      .map(i => (i, if (i % 2 == 0) "a" else "b", 5L + (i % 11)))
      :+ ((200L, "a", 0L))) // empty doc: must emit no chunk row
      .toDF("doc_id", "source", "n_tok")
    val asg = Packing.packAssignments(df, seqLen = 64, salt = "e1")
    val man = Packing.chunkManifest(asg, seqLen = 64).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(!man.exists(_._1 == 200L), "empty doc emitted a chunk row")
    // per doc: slices are in-order, contiguous, and tile [0, w)
    val weights = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    man.groupBy(_._1).foreach { case (id, rows) =>
      val s = rows.sortBy(_._3)
      assert(s.head._4 == 0L, s"doc $id slice must start at 0")
      assert(s.last._5 == weights(id), s"doc $id slice must end at weight")
      s.sliding(2).filter(_.length == 2).foreach { case Array(p, q) =>
        assert(q._3 == p._3 + 1 && q._4 == p._5,
          s"doc $id slices not contiguous") }
      // only the first covered chunk is entered mid-chunk
      assert(s.tail.forall(_._6 == 0L))
      s.foreach(r => assert(r._7 == r._5 - r._4))
    }
    // per chunk: every FULL chunk's slice lengths sum to exactly seqLen
    val bySrc = man.groupBy(r => (r._2, r._3))
    val totals = df.filter(col("n_tok") > 0).groupBy("source")
      .agg(sum("n_tok")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.foreach { case ((src, chunk), rows) =>
      val full = (chunk + 1) * 64 <= totals(src)
      val got = rows.map(_._7).sum
      if (full) assert(got == 64L, s"chunk ($src, $chunk) holds $got")
      else assert(got == totals(src) - chunk * 64,
        s"tail chunk ($src, $chunk) holds $got")
    }
  }

  test("randomized: chunk manifest tiles every doc and fills every chunk") {
    import graft.operators.Packing
    val rnd = new scala.util.Random(424242L)
    for (seqLen <- Seq(1L, 5L, 64L)) {
      val df = (0L until 120L)
        .map(i => (i, "s" + rnd.nextInt(3), rnd.nextInt(38).toLong))
        .toDF("doc_id", "source", "n_tok")
      val weights = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val asg = Packing.packAssignments(df, seqLen, salt = s"r$seqLen")
      val man = Packing.chunkManifest(asg, seqLen).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      // per doc: slices tile [0, w) in chunk order
      man.groupBy(_._1).foreach { case (id, rows) =>
        val s = rows.sortBy(_._3)
        assert(s.head._4 == 0L && s.last._5 == weights(id),
          s"seqLen=$seqLen doc $id")
        s.sliding(2).filter(_.length == 2).foreach { case Array(p, q) =>
          assert(q._3 == p._3 + 1 && q._4 == p._5,
            s"seqLen=$seqLen doc $id") }
        s.foreach(r => assert(r._7 == r._5 - r._4 && r._7 >= 1 &&
          r._7 <= seqLen && r._6 >= 0 && r._6 < seqLen))
      }
      // zero-weight docs emit nothing; everything else appears
      assert(man.map(_._1).toSet ==
        weights.filter(_._2 > 0).keySet, s"seqLen=$seqLen")
      // per (source, chunk): full chunks hold exactly seqLen
      val totalBySrc = df.groupBy("source").agg(sum("n_tok")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      man.groupBy(r => (r._2, r._3)).foreach { case ((src, chunk), rows) =>
        val got = rows.map(_._7).sum
        val full = (chunk + 1) * seqLen <= totalBySrc(src)
        if (full) assert(got == seqLen, s"seqLen=$seqLen ($src,$chunk)=$got")
        else assert(got == totalBySrc(src) - chunk * seqLen,
          s"seqLen=$seqLen tail ($src,$chunk)=$got")
      }
    }
  }

  test("stripMarkup: script content, tags, entities, whitespace, nulls") {
    import spark.implicits._
    val d = Seq(
      (0L, "<html><body class=\"x\">Hello <b>world</b><script>var a=1 " +
        "&amp;&amp; 2;</script><!-- c --> &lt;tag&gt; &amp; " +
        "&quot;q&quot; &#39;s&#39; &nbsp;end</body></html>"),
      (1L, "no markup here"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = TextAnalysis.stripMarkup(d).orderBy(col("doc_id")).collect()
    val h = r(0)
    // 8 real tags; the comment is not a tag; entities are not tags
    assert(h.getAs[Long]("n_tags") == 8L)
    assert(h.getAs[Boolean]("had_markup"))
    // script content gone; escaped markup survives as text; entities
    // unescaped after tag removal; whitespace collapsed
    assert(h.getAs[String]("text_clean") ==
      "Hello world <tag> & \"q\" 's' end")
    assert(r(1).getAs[Long]("n_tags") == 0L)
    assert(!r(1).getAs[Boolean]("had_markup"))
    assert(r(1).getAs[String]("text_clean") == "no markup here")
    assert(r(2).getAs[String]("text_clean") == "")
  }

  test("gopher quality battery: each rule trips on its crafted doc") {
    val good = "the of and " + (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (0L, good),                                     // passes everything
      (1L, "the of too short"),                       // word-count floor
      (2L, "the of " + (1 to 60).map(i => s"$i$i$i").mkString(" ")),
        // numeric words: frac_alpha 2/62 << 0.8
      (3L, good + " " + "#" * 10),                    // symbol ratio 10/64
      (4L, (1 to 20).map(i => s"- the of item$i extra$i more$i")
        .mkString("\n")),                             // all-bullet lines
      (5L, (1 to 10).map(i => s"the of line$i longer$i words$i here$i" +
        (if (i <= 4) " trail..." else "")).mkString("\n")),
        // 4/10 ellipsis lines > 0.3
      (6L, ""),                                       // wordless
      (7L, "the of " + Seq.fill(60)("ab").mkString(" ")),
        // mean word length ~2.03 < 3
      (8L, null))                                     // null text == empty
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityFlags(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val keeps = out.view.mapValues(_.getAs[Boolean]("keep")).toMap
    assert(keeps == Map(0L -> true, 1L -> false, 2L -> false,
      3L -> false, 4L -> false, 5L -> false, 6L -> false, 7L -> false,
      8L -> false), s"$keeps")
    assert(out(8L).getAs[Int]("n_words") == 0,
      "null text must count as empty, not size(-1)")
    assert(out(0L).getAs[Int]("n_words") == 63)
    assert(out(0L).getAs[Int]("n_stop_hits") == 3)
    assert(out(3L).getAs[Double]("symbol_ratio") > 0.1)
    assert(out(4L).getAs[Double]("frac_bullet_lines") == 1.0)
    assert(out(5L).getAs[Double]("frac_ellipsis_lines") == 0.4)
    assert(out(6L).isNullAt(out(6L).fieldIndex("mean_word_len")))
    assert(out(7L).getAs[Double]("mean_word_len") < 3.0)
    // kernel edge semantics, pinned against the split()/regexp column
    // formulation the q44 oracle replicates
    val edges = Seq(
      (0L, "a\nb c"),        // newline INSIDE a word: 2 words, 2 lines
      (1L, "x y\n"),          // trailing \n: split keeps the empty line
      (2L, "..... #"),        // 5 dots = ONE non-overlapping '...'
      (3L, "- b\n* c\nd"))    // 2 of 3 bullet lines
      .toDF("doc_id", "text")
    val sig = edges.select(col("doc_id"),
      graft.functions.expressions.gopher_signals(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(0L) == Seq(2L, 4L, 2L, 0L, 2L, 0L, 0L, 0L, 0L), s"$sig")
    assert(sig(1L) == Seq(2L, 3L, 2L, 0L, 2L, 0L, 0L, 0L, 0L), s"$sig")
    assert(sig(2L) == Seq(2L, 6L, 0L, 0L, 1L, 0L, 0L, 1L, 1L), s"$sig")
    assert(sig(3L) == Seq(3L, 7L, 2L, 0L, 3L, 2L, 0L, 0L, 0L), s"$sig")
  }

  test("token counts: BPE-ish segmentation vs whitespace on punctuated text") {
    val docs = Seq(
      (0L, "hello, world!"),   // seg: hello , world !  = 4; ws 2
      (1L, "a1b2 x-y"),        // seg: a1b2 x - y       = 4; ws 2
      (2L, "... #tag"),        // seg: . . . # tag      = 5; ws 2
      (3L, "plain words here"),// seg == ws             = 3
      (4L, ""),                // 0 / 0
      (5L, null))              // null counts as empty
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenCounts(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
    assert(out == Map(0L -> (2, 4L), 1L -> (2, 4L), 2L -> (2, 5L),
      3L -> (3, 3L), 4L -> (0, 0L), 5L -> (0, 0L)), s"$out")
    // the kernel rule equals the regex it documents (DuckDB replays the
    // regex side in the q47 oracle; here pin it against Java regex too)
    val pat = java.util.regex.Pattern.compile("[a-zA-Z0-9]+|[^a-zA-Z0-9 ]")
    for ((_, t) <- Seq((0L, "hello, world!"), (1L, "a1b2 x-y"),
        (2L, "... #tag"), (3L, "plain words here"), (4L, ""))) {
      val m = pat.matcher(t)
      var c = 0L
      while (m.find()) c += 1
      assert(c == graft.functions.kernels.segTokenCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)), t)
    }
  }

  test("gram hashes: rolling update equals direct per-window hashing") {
    // a wrong rolling update would make the SAME gram hash differently
    // depending on what precedes it in the doc — silent false NEGATIVES
    // the string-verify stage can never repair, so pin the algebra
    val words = (0 until 40).map(i => s"t${(i * 13) % 17}x$i")
    val text = words.mkString(" ")
    for (n <- Seq(1, 2, 5, 8)) {
      val got = graft.functions.kernels.gramHashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), n)
        .toLongArray()
      val B = 0x100000001B3L
      val expect = (0 to words.length - n).map { i =>
        var h = 0L
        for (j <- 0 until n) h = h * B + graft.core.Hashing.fnv1a64(words(i + j))
        graft.core.Hashing.splitmix64(h)
      }
      assert(got.toSeq == expect, s"n=$n")
      // the same window yields the same hash regardless of context
      val shifted = graft.functions.kernels.gramHashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "zzz0 zzz1 " + text), n).toLongArray()
      assert(shifted.drop(2).toSeq == got.toSeq, s"context-dependence n=$n")
    }
    // gramAt matches the window it indexes
    assert(graft.functions.kernels.gramAt(
      org.apache.spark.unsafe.types.UTF8String.fromString(text), 3, 4)
      .toString == words.slice(3, 7).mkString(" "))
    assert(graft.functions.kernels.gramAt(
      org.apache.spark.unsafe.types.UTF8String.fromString(text), 38, 4) == null)
  }

  test("duplicate spans: planted shared span found, merged, grouped") {
    import graft.operators.SpanDedup
    val span = (1 to 8).map(i => s"shared$i")
    val d0 = (1 to 10).map(i => s"a$i") ++ span ++ (11 to 22).map(i => s"a$i")
    val d1 = (1 to 5).map(i => s"b$i") ++ span ++ (6 to 15).map(i => s"b$i")
    val d2 = (1 to 25).map(i => s"c$i")
    // within-doc-only repetition: an 8-token run repeated twice in ONE
    // doc must not become a span (cross-doc rule)
    val d3 = (1 to 8).map(i => s"d$i") ++ (1 to 8).map(i => s"d$i") ++
      (9 to 20).map(i => s"d$i")
    val docs = Seq((0L, d0.mkString(" ")), (1L, d1.mkString(" ")),
      (2L, d2.mkString(" ")), (3L, d3.mkString(" ")))
      .toDF("doc_id", "text")
    val spans = SpanDedup.duplicateSpans(docs, minLen = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(spans.map(s => (s._1, s._2, s._3, s._4)).toSet ==
      Set((0L, 10, 18, 8), (1L, 5, 13, 8)), spans.mkString(","))
    assert(spans.map(_._5).distinct.length == 1,
      "both copies of the passage share one group_key")

    // a LONGER shared run (10 tokens, minLen 8) merges its overlapping
    // seed grams into ONE maximal span of 10
    val long = (1 to 10).map(i => s"run$i")
    val e0 = (1 to 6).map(i => s"e$i") ++ long ++ (7 to 12).map(i => s"e$i")
    val e1 = long ++ (1 to 14).map(i => s"f$i")
    val docs2 = Seq((10L, e0.mkString(" ")), (11L, e1.mkString(" ")))
      .toDF("doc_id", "text")
    val spans2 = SpanDedup.duplicateSpans(docs2, minLen = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(spans2.toSet == Set((10L, 6, 16, 10), (11L, 0, 10, 10)),
      spans2.mkString(","))
  }

  test("excise spans: duplicate tokens removed, rest intact") {
    import graft.operators.SpanDedup
    val span = (1 to 8).map(i => s"shared$i")
    val d0 = (1 to 4).map(i => s"a$i") ++ span ++ (5 to 8).map(i => s"a$i")
    val d1 = span ++ (1 to 10).map(i => s"b$i")
    val d2 = (1 to 12).map(i => s"c$i")
    val d3 = span // fully covered -> empty clean_text, not a lost row
    val docs = Seq((0L, d0.mkString(" ")), (1L, d1.mkString(" ")),
      (2L, d2.mkString(" ")), (3L, d3.mkString(" ")))
      .toDF("doc_id", "text")
    val out = SpanDedup.exciseSpans(docs, minLen = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(0L) == (((1 to 4).map(i => s"a$i") ++
      (5 to 8).map(i => s"a$i")).mkString(" "), 8))
    assert(out(1L) == (((1 to 10).map(i => s"b$i")).mkString(" "), 8))
    assert(out(2L) == (d2.mkString(" "), 0))
    assert(out(3L) == (("", 8)))
    assert(out.size == 4)
  }

  test("span index: snapshot screened vs corpus without rescanning") {
    import graft.operators.SpanDedup
    val span = (1 to 8).map(i => s"pass$i")
    val corpus = Seq(
      (0L, ((1 to 10).map(i => s"a$i") ++ span).mkString(" ")),
      (1L, (1 to 20).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-span-idx").toString
    SpanDedup.writeSpanIndex(corpus, dir, minLen = 8)
    val snap = Seq(
      (10L, ((1 to 5).map(i => s"c$i") ++ span ++
        (6 to 9).map(i => s"c$i")).mkString(" ")),
      (11L, (1 to 20).map(i => s"d$i").mkString(" ")))
      .toDF("doc_id", "text")
    def tup(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4))).toSet
    val vsIndex = tup(SpanDedup.duplicateSpansVsIndex(snap, dir))
    assert(vsIndex.map(s => (s._1, s._2, s._3, s._4)) ==
      Set((10L, 5, 13, 8)), vsIndex.mkString(","))
    // equality with the batch operator over the union, restricted to
    // the snapshot (the snapshot shares nothing within itself, so
    // "shared with corpus" and "shared with >= 2 docs" coincide) —
    // including the group_key
    val unionSpans = tup(SpanDedup.duplicateSpans(corpus.union(snap),
      minLen = 8).filter(col("doc_id") >= 10L))
    assert(vsIndex == unionSpans, s"$vsIndex vs $unionSpans")
    // load-is-union appends: grams of the snapshot fold in, so a later
    // doc sharing a SNAPSHOT passage is now flagged too
    SpanDedup.writeSpanIndex(snap, dir, minLen = 8, append = true)
    val later = Seq((20L, ((1 to 8).map(i => s"c$i") ++
      (1 to 4).map(i => s"e$i")).mkString(" "))).toDF("doc_id", "text")
    // doc 10's tail c1..c5 span c6..c9 is < 8 tokens; use its head run
    // instead: c1..c5 + pass1..3 != later's c1..c8 — no false hit
    val laterHits = SpanDedup.spanHitsVsIndex(later, dir).count()
    assert(laterHits == 0, "no verbatim 8-gram of doc 20 is indexed")
    val later2 = Seq((21L, ((1 to 5).map(i => s"c$i") ++ span.take(3) ++
      (1 to 4).map(i => s"f$i")).mkString(" "))).toDF("doc_id", "text")
    assert(SpanDedup.spanHitsVsIndex(later2, dir).count() == 1,
      "doc 21 repeats doc 10's first 8 tokens verbatim -> one hit")
    // gram-length mismatch on append fails loudly
    val e = intercept[IllegalArgumentException] {
      SpanDedup.writeSpanIndex(snap, dir, minLen = 9, append = true)
    }
    assert(e.getMessage.contains("minLen"), e.getMessage)
    // excision vs the index: doc 10 loses exactly its covered run
    // (which, after the snapshot append, is its full text — every one
    // of its 8-grams is now indexed); doc 11 passes through untouched
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-span-idx2").toString
    SpanDedup.writeSpanIndex(corpus, dir2, minLen = 8)
    val ex = SpanDedup.exciseSpansVsIndex(snap, dir2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(ex(10L) == (((1 to 5).map(i => s"c$i") ++
      (6 to 9).map(i => s"c$i")).mkString(" "), 8), ex(10L).toString)
    assert(ex(11L) == (((1 to 20).map(i => s"d$i")).mkString(" "), 0))
  }

  test("corpus profile: hll gate passes and true error sits inside 3 sigma") {
    // deterministic corpus: the 6-sigma hll_ok gate in corpusProfile is
    // the loose never-trips-when-correct pipeline gate (its oracle pins
    // `true`); THIS test is the tight pin — on fixed data the HLL
    // estimate is deterministic, so a 3-sigma miss means a bug, not luck
    val docs = (0L until 400L).map { i =>
      val src = if (i % 4 == 0) "web" else "book"
      val words = (0 until 30).map(j => s"w${(i * 31 + j * 7) % 5000}")
      (i, words.mkString(" "), src)
    }.toDF("doc_id", "text", "source")
    val prof = TextAnalysis.corpusProfile(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(prof.keySet == Set("web", "book"))
    assert(prof("web").getAs[Long]("n_docs") == 100L)
    assert(prof("book").getAs[Long]("n_docs") == 300L)
    assert(prof.values.forall(_.getAs[Boolean]("hll_ok")), "6-sigma gate")
    val p = 14
    val sigma = 1.04 / math.sqrt((1 << p).toDouble)
    val F = graft.functions.functions
    val toks = graft.sources.TokenDocs.fromDocuments(docs)
    val errs = toks.groupBy(col("source"))
      .agg(F.hll_agg_tokens(col("tokens"), p).as("h"))
      .join(toks.select(col("source"), explode(col("tokens")).as("t"))
        .groupBy(col("source"))
        .agg(countDistinct(col("t")).as("exact")), Seq("source"))
      .select(col("source"),
        abs(F.hll_estimate(col("h")) / col("exact") - 1).as("rel_err"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    errs.foreach { case (src, e) =>
      assert(e < 3 * sigma, s"$src rel_err=$e >= ${3 * sigma}")
    }
  }

  test("source overlap matrix: production estimates track the exact counts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = TextAnalysis.sourceOverlapMatrix(docs, n = 3, thetaK = 4096)
      .collect()
    assert(exact.nonEmpty)
    assert(exact.forall(_.getAs[Boolean]("theta_ok")),
      "every pair must pass the 6-sigma gate")
    // production form (no exact recomputation): at this scale every
    // per-source sketch is in exact mode, so estimates EQUAL the exact
    // counts — the two forms must agree row for row
    val est = TextAnalysis
      .sourceOverlapMatrix(docs, n = 3, thetaK = 4096, withExact = false)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("est_a"), r.getAs[Long]("est_b"),
          r.getAs[Long]("est_common"))).toMap
    exact.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(est(key) == ((r.getAs[Long]("exact_a"),
        r.getAs[Long]("exact_b"), r.getAs[Long]("exact_common"))),
        s"production estimate diverged at $key")
    }
    // small k forces estimation mode; the gate math itself is covered
    // by ThetaSketchSpec — here pin that estimates stay in a sane band
    val rough = TextAnalysis
      .sourceOverlapMatrix(docs, n = 3, thetaK = 64, withExact = false)
      .collect()
    val exactA = exact.map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Long]("exact_a")).toMap
    rough.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val ratio = r.getAs[Long]("est_a").toDouble / exactA(key)
      assert(ratio > 0.4 && ratio < 2.5,
        s"k=64 marginal estimate wildly off at $key: $ratio")
    }
  }

  test("token-mass overlap: production estimates track the exact masses") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = TextAnalysis.tokenMassOverlap(docs, n = 3, tupleK = 4096)
      .collect()
    assert(exact.nonEmpty)
    assert(exact.forall(_.getAs[Boolean]("tuple_ok")),
      "every pair must pass the 6-sigma HT gate")
    // at this scale every sketch is in exact mode: the production form
    // must EQUAL the exact columns row for row
    val est = TextAnalysis
      .tokenMassOverlap(docs, n = 3, tupleK = 4096, withExact = false)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("est_mass_a"), r.getAs[Long]("est_mass_b"),
          r.getAs[Long]("est_shared_mass"),
          r.getAs[Long]("est_novel_mass_a"),
          r.getAs[Long]("est_novel_mass_b"))).toMap
    exact.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(est(key) == ((r.getAs[Long]("mass_a"), r.getAs[Long]("mass_b"),
        r.getAs[Long]("shared_mass"), r.getAs[Long]("novel_mass_a"),
        r.getAs[Long]("novel_mass_b"))),
        s"production mass estimate diverged at $key")
      // internal consistency of the exact columns
      assert(r.getAs[Long]("shared_mass") ==
        r.getAs[Long]("mass_a") - r.getAs[Long]("novel_mass_a") +
          r.getAs[Long]("mass_b") - r.getAs[Long]("novel_mass_b"))
    }
    // small k forces estimation mode; the HT math is covered by
    // TupleSketchSpec — pin that estimates stay in a sane band
    val rough = TextAnalysis
      .tokenMassOverlap(docs, n = 3, tupleK = 64, withExact = false)
      .collect()
    val exactA = exact.map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Long]("mass_a")).toMap
    rough.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val ratio = r.getAs[Long]("est_mass_a").toDouble / exactA(key)
      assert(ratio > 0.4 && ratio < 2.5,
        s"k=64 mass estimate wildly off at $key: $ratio")
    }
  }

  test("url dedup: planted variants merge, drops keep min id, no UDF") {
    val docs = Seq(
      (0L, "https://www.Example.com/p/1/?utm_source=x"),
      (1L, "HTTPS://EXAMPLE.COM:443/p/1"),
      (2L, "https://example.com/p/1?b=2&a=1"),
      (3L, "https://example.com/p/1?a=1&b=2&gclid=z"),
      (4L, "http://example.com/p/1")).toDF("doc_id", "url")
    val groups = Dedup.urlGroups(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("keep_id"), r.getAs[Long]("dup_cnt")))).toMap
    assert(groups == Map(
      "https://example.com/p/1" -> ((0L, 2L)),
      "https://example.com/p/1?a=1&b=2" -> ((2L, 2L)),
      "http://example.com/p/1" -> ((4L, 1L))), groups.toString)
    val drops = Dedup.urlDropIds(docs).as[Long].collect().sorted
    assert(drops.sameElements(Array(1L, 3L)), drops.mkString(","))
    val plan = Dedup.urlGroups(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("vocab growth: cumulative checkpoints equal direct recomputation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val E = graft.functions.expressions
    val rows = TextAnalysis
      .vocabGrowth(docs, Seq(8L, 32L, 1000000L), n = 3)
      .orderBy(col("checkpoint")).collect()
    assert(rows.length == 3)
    // monotone non-decreasing in every measure
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_docs") <= b.getAs[Long]("n_docs"))
      assert(a.getAs[Long]("n_grams") <= b.getAs[Long]("n_grams"))
      assert(a.getAs[Long]("vocab") <= b.getAs[Long]("vocab"))
    }
    // a checkpoint past every id equals the whole-corpus totals
    val grams = docs.select(col("doc_id"),
      explode(E.word_ngrams_all(col("text"), 3)).as("g"))
    val last = rows.last
    assert(last.getAs[Long]("n_docs") == docs.count())
    assert(last.getAs[Long]("n_grams") == grams.count())
    assert(last.getAs[Long]("vocab") ==
      grams.select(countDistinct(col("g"))).head().getLong(0))
    // a proper prefix equals direct recomputation over that prefix
    val pre = grams.where(col("doc_id") < 8)
    assert(rows.head.getAs[Long]("n_docs") ==
      docs.where(col("doc_id") < 8).count())
    assert(rows.head.getAs[Long]("n_grams") == pre.count())
    assert(rows.head.getAs[Long]("vocab") ==
      pre.select(countDistinct(col("g"))).head().getLong(0))
  }

  test("boilerplate ngrams: planted shared tail dominates by doc frequency") {
    val tail = "subscribe to our newsletter for updates"
    val docs = Seq(
      (0L, s"alpha beta gamma delta epsilon $tail"),
      (1L, s"zeta eta theta iota kappa $tail"),
      (2L, s"lambda mu nu xi omicron $tail"),
      (3L, "pi rho sigma tau upsilon phi chi psi"),
      // a within-doc repeat: high n_occ but only 1 doc -> filtered
      (4L, "spam spam spam spam spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
    val top = TextAnalysis.boilerplateNgrams(docs, n = 6, topK = 5).collect()
    assert(top.head.getString(0) == tail)
    assert(top.head.getAs[Long]("n_docs") == 3 &&
      top.head.getAs[Long]("n_occ") == 3)
    // the minDocs filter kills the single-doc repeat
    assert(!top.exists(_.getString(0).contains("spam")))
  }

  test("overlap sketches: log-structured append == fresh; exactly-once; heal") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.filter(col("doc_id") % 3 === 1)
    val b = docs.filter(col("doc_id") % 3 === 2)
    val snap = docs.filter(col("doc_id") % 3 === 0)
    // the reader contract: union across COMMITTED batches only
    def unionRows(dir: String): Map[String, Seq[Byte]] = {
      val F = graft.functions.functions
      val ids = spark.read.parquet(s"$dir/batches").collect()
        .map(_.getAs[Long]("batch_id")).toSet
      spark.read.parquet(s"$dir/sketches")
        .where(col("batch_id").cast("long").isin(ids.toSeq: _*))
        .groupBy(col("source"))
        .agg(F.theta_union_agg(col("sketch"), 512).as("sketch"))
        .collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sketch").toSeq).toMap
    }

    // fresh build over a ∪ b == build(a) + append(b), byte for byte
    val whole = java.nio.file.Files.createTempDirectory("ov-whole").toString
    TextAnalysis.writeOverlapSketches(a.unionByName(b), whole, n = 3, thetaK = 512)
    val inc = java.nio.file.Files.createTempDirectory("ov-inc").toString
    TextAnalysis.writeOverlapSketches(a, inc, n = 3, thetaK = 512)
    TextAnalysis.appendToOverlapSketches(b, inc, batchId = 1)
    assert(unionRows(whole) == unionRows(inc),
      "append must equal the fresh build (union across batches)")

    // exactly-once: replaying a committed batchId is a no-op
    TextAnalysis.appendToOverlapSketches(b, inc, batchId = 1)
    assert(unionRows(whole) == unionRows(inc))
    // auto-id replay of the SAME DOCS on a theta-only index is a
    // set-level no-op too (same hash points re-union)
    TextAnalysis.appendToOverlapSketches(b, inc)
    assert(unionRows(whole) == unionRows(inc))

    // crash window: batches deleted, complete batches.next left behind
    // -> any entry point heals by rolling the rename forward
    val fsys = new org.apache.hadoop.fs.Path(inc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.rename(new org.apache.hadoop.fs.Path(s"$inc/batches"),
      new org.apache.hadoop.fs.Path(s"$inc/batches.next"))
    val screened = TextAnalysis.overlapVsSketches(snap, inc).collect()
    assert(fsys.exists(new org.apache.hadoop.fs.Path(s"$inc/batches")),
      "heal must restore the batches log")
    assert(screened.nonEmpty)
    screened.foreach { r =>
      val s = r.getAs[Long]("est_snapshot")
      val nv = r.getAs[Long]("est_novel")
      assert(nv >= 0 && nv <= s, s"novel must be within [0, snapshot]: $r")
    }

    // uncommitted batch DATA is invisible to every reader
    org.apache.hadoop.fs.FileUtil.copy(fsys,
      new org.apache.hadoop.fs.Path(s"$inc/sketches/batch_id=1"),
      fsys, new org.apache.hadoop.fs.Path(s"$inc/sketches/batch_id=9"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(unionRows(whole) == unionRows(inc),
      "uncommitted batch data must not change the committed union")

    // screening the CORPUS against its own sketches: nothing is novel
    // (exact-mode sketches at this scale -> exactly zero)
    TextAnalysis.overlapVsSketches(a.unionByName(b), inc).collect().foreach { r =>
      assert(r.getAs[Long]("est_novel") == 0L,
        s"corpus vs itself must have zero novelty: $r")
    }
    // the overlap matrix read straight off the index equals the
    // production matrix over the same corpus (same sketches, zero scan)
    val fromIdx = TextAnalysis.overlapMatrixVsSketches(spark, inc)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    val fromCorpus = TextAnalysis.sourceOverlapMatrix(
        a.unionByName(b), n = 3, thetaK = 512, withExact = false)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(fromIdx == fromCorpus,
      "matrix from the persisted index must equal the corpus-scan matrix")
  }

  test("overlap sketches with mass: exact novel mass; tuple replay safety") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.filter(col("doc_id") % 3 === 1)
    val b = docs.filter(col("doc_id") % 3 === 2)
    val snap = docs.filter(col("doc_id") % 3 === 0)
    val E = graft.functions.expressions
    val dir = java.nio.file.Files.createTempDirectory("ov-mass").toString
    TextAnalysis.writeOverlapSketches(a, dir, n = 3, thetaK = 4096,
      tupleK = 4096)
    TextAnalysis.appendToOverlapSketches(b, dir, batchId = 1)
    def screenRows() = TextAnalysis.overlapVsSketches(snap, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("est_snapshot_mass"),
        r.getAs[Long]("est_novel_mass"))).toMap
    val first = screenRows()
    // the whole reason for the log-structured layout: replaying a
    // committed batch must NOT double the tuple summaries
    TextAnalysis.appendToOverlapSketches(b, dir, batchId = 1)
    assert(screenRows() == first, "tuple mass doubled on replay")
    // auto ids are refused when mass is enabled (no replay key)
    intercept[IllegalArgumentException] {
      TextAnalysis.appendToOverlapSketches(b, dir)
    }
    // exact mode at this scale: mass columns equal direct recomputation
    def grams(df: org.apache.spark.sql.DataFrame) = df.select(col("source"),
      explode(E.word_ngrams_all(col("text"), 3)).as("g"))
    val snapMass = grams(snap).groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpusGrams = grams(a.unionByName(b)).distinct()
    val novelMass = grams(snap)
      .join(corpusGrams, Seq("source", "g"), "left_anti")
      .groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    first.foreach { case (src, (sm, nm)) =>
      assert(sm == snapMass(src), s"$src snapshot mass $sm != ${snapMass(src)}")
      assert(nm == novelMass.getOrElse(src, 0L),
        s"$src novel mass $nm != ${novelMass.getOrElse(src, 0L)}")
    }
    // count columns unchanged by the mass extension (same theta math)
    val plain = java.nio.file.Files.createTempDirectory("ov-plain").toString
    TextAnalysis.writeOverlapSketches(a, plain, n = 3, thetaK = 4096)
    TextAnalysis.appendToOverlapSketches(b, plain, batchId = 1)
    val massCounts = TextAnalysis.overlapVsSketches(snap, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("est_snapshot"),
        r.getAs[Long]("est_corpus"), r.getAs[Long]("est_novel"))).toMap
    val plainCounts = TextAnalysis.overlapVsSketches(snap, plain).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("est_snapshot"),
        r.getAs[Long]("est_corpus"), r.getAs[Long]("est_novel"))).toMap
    assert(massCounts == plainCounts)
  }

  test("overlap sketches with freq: trending grams exact; replay safety") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.filter(col("doc_id") % 3 === 1)
    val b = docs.filter(col("doc_id") % 3 === 2)
    val E = graft.functions.expressions
    val dir = java.nio.file.Files.createTempDirectory("ov-freq").toString
    // freq_k above the 31^3 possible 3-grams: exact regime everywhere
    TextAnalysis.writeOverlapSketches(a, dir, n = 3, thetaK = 4096,
      freqK = 32768)
    TextAnalysis.appendToOverlapSketches(b, dir, batchId = 1)
    def trend() = TextAnalysis.trendingGrams(spark, dir, topK = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getAs[Long]("cnt_lb"), r.getAs[Long]("cnt_ub"))).toSet
    val first = trend()
    assert(first.nonEmpty)
    // exact regime: every bracket is degenerate (lb == ub)
    first.foreach { case (_, _, _, lb, ub) => assert(lb == ub) }
    // equals the exact recomputation under the same (cnt desc, g) order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("c").desc, col("g"))
    val exact = a.unionByName(b)
      .select(col("source"), explode(E.word_ngrams_all(col("text"), 3)).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .collect().map(r => (r.getString(0), r.getAs[Int]("rank"),
        r.getString(1), r.getAs[Long]("c"), r.getAs[Long]("c"))).toSet
    assert(first == exact)
    // replaying a committed batch must NOT inflate the counts (freq
    // merge adds counts — the log is what makes appends exactly-once)
    TextAnalysis.appendToOverlapSketches(b, dir, batchId = 1)
    assert(trend() == first, "freq counts inflated on replay")
    // auto ids are refused when freq is enabled (no replay key)
    intercept[IllegalArgumentException] {
      TextAnalysis.appendToOverlapSketches(b, dir)
    }
    // incremental == fresh single build over the union (merge == whole
    // in the exact regime)
    val fresh = java.nio.file.Files.createTempDirectory("ov-freq2").toString
    TextAnalysis.writeOverlapSketches(a.unionByName(b), fresh, n = 3,
      thetaK = 4096, freqK = 32768)
    assert(TextAnalysis.trendingGrams(spark, fresh, topK = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getAs[Long]("cnt_lb"), r.getAs[Long]("cnt_ub"))).toSet == first)
    // a freq-less index refuses the trending reader loudly
    val plain = java.nio.file.Files.createTempDirectory("ov-nofreq").toString
    TextAnalysis.writeOverlapSketches(a, plain, n = 3, thetaK = 4096)
    intercept[IllegalArgumentException] {
      TextAnalysis.trendingGrams(spark, plain)
    }
    // count columns unchanged by the freq extension (same theta math)
    TextAnalysis.appendToOverlapSketches(b, plain, batchId = 1)
    val snap = docs.filter(col("doc_id") % 3 === 0)
    def counts(d: String) = TextAnalysis.overlapVsSketches(snap, d)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("est_snapshot"),
        r.getAs[Long]("est_corpus"), r.getAs[Long]("est_novel"))).toMap
    assert(counts(dir) == counts(plain))
  }

  test("mixture preview: union estimate equals exact in exact mode") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val E = graft.functions.expressions
    val dir = java.nio.file.Files.createTempDirectory("ov-mix").toString
    // theta k large enough that every per-source AND union retained set
    // stays exact at this scale (sf0.001 distinct 3-grams ~ thousands)
    TextAnalysis.writeOverlapSketches(docs, dir, n = 3, thetaK = 65536)
    val srcs = docs.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted.take(3).toSeq
    val r = TextAnalysis.mixturePreviewVsSketches(spark, dir, srcs).head()
    assert(r.getAs[Long]("n_sources") == 3)
    def grams(d: org.apache.spark.sql.DataFrame) = d.select(col("source"),
      explode(E.word_ngrams(col("text"), 3)).as("g"))
    val picked = grams(docs.filter(col("source").isin(srcs: _*)))
    val exactUnion = picked.select(col("g")).distinct().count()
    val exactSum = picked.distinct().count()
    assert(r.getAs[Long]("est_union_distinct") == exactUnion,
      s"union ${r.getAs[Long]("est_union_distinct")} != $exactUnion")
    assert(r.getAs[Long]("est_sum_distinct") == exactSum)
    assert(r.getAs[Long]("est_overlap_discount") == exactSum - exactUnion)
    // the discount is the point: sources share grams at this vocab
    assert(r.getAs[Long]("est_overlap_discount") > 0)
  }

  test("overlap sketches: compaction folds batches, burns replay keys") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.filter(col("doc_id") % 3 === 1)
    val b = docs.filter(col("doc_id") % 3 === 2)
    val snap = docs.filter(col("doc_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ov-compact").toString
    TextAnalysis.writeOverlapSketches(a, dir, n = 3, thetaK = 4096,
      tupleK = 4096, freqK = 32768)
    TextAnalysis.appendToOverlapSketches(b, dir, batchId = 1)
    def screen() = TextAnalysis.overlapVsSketches(snap, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("est_snapshot"),
        r.getAs[Long]("est_novel"), r.getAs[Long]("est_snapshot_mass"),
        r.getAs[Long]("est_novel_mass"))).toMap
    def trend() = TextAnalysis.trendingGrams(spark, dir, topK = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getAs[Long]("cnt_lb"))).toSet
    val screenBefore = screen()
    val trendBefore = trend()
    TextAnalysis.compactOverlapSketches(spark, dir)
    // every reader column unchanged (the folded state is the union the
    // readers were already computing)
    assert(screen() == screenBefore)
    assert(trend() == trendBefore)
    // exactly one live batch directory remains after the GC
    def batchDirs() = new java.io.File(s"$dir/sketches").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch_id="))
    assert(batchDirs().length == 1, batchDirs().toSeq.toString)
    // replaying a FOLDED batch id is a no-op (the burned high-water
    // mark, not the committed set, is what blocks it now)
    TextAnalysis.appendToOverlapSketches(b, dir, batchId = 1)
    assert(screen() == screenBefore, "folded batch replay re-added mass")
    assert(batchDirs().length == 1)
    // fresh appends still work after compaction, and a second
    // compaction folds them in too
    TextAnalysis.appendToOverlapSketches(snap, dir, batchId = 5)
    val full = trend()
    TextAnalysis.compactOverlapSketches(spark, dir)
    assert(trend() == full)
    assert(batchDirs().length == 1)
    // compacting a single-batch index is a no-op (no rewrite, no churn)
    val one = java.nio.file.Files.createTempDirectory("ov-compact1").toString
    TextAnalysis.writeOverlapSketches(a, one, n = 3, thetaK = 4096)
    TextAnalysis.compactOverlapSketches(spark, one)
    assert(TextAnalysis.overlapVsSketches(snap, one).count() > 0)
  }

  test("repetition metrics: planted duplicate n-gram fractions") {
    val docs = Seq(
      (0L, "a a a a"),    // 1g: 1-1/4; 2g: 1-1/3; 3g: 1-1/2
      (1L, "a b c"),      // no repetition anywhere
      (2L, "x"),          // too short for 2/3-grams
      (3L, ""),           // empty: 0 tokens
      (4L, "p q p q p q") // 1g: 1-2/6; 2g: 1-2/5; 3g: 1-2/4
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionMetrics(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(0L) == ((4L, 0.75, 0.6667, 0.5)), s"${got(0L)}")
    assert(got(1L) == ((3L, 0.0, 0.0, 0.0)))
    assert(got(2L) == ((1L, 0.0, 0.0, 0.0)))
    assert(got(3L) == ((0L, 0.0, 0.0, 0.0)))
    assert(got(4L) == ((6L, 0.6667, 0.6, 0.5)), s"${got(4L)}")
  }

  test("token-budget fill: prefix semantics, monotone in budget") {
    import graft.operators.Sampling
    val df = (0L until 300L)
      .map(i => (i, if (i % 3 == 0) "a" else "b", 10L + (i % 7)))
      .toDF("doc_id", "source", "n_tok")
    def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val small = Sampling.sampleByBudget(df, 200, salt = "t")
    val big = Sampling.sampleByBudget(df, 600, salt = "t")
    // per-stratum totals respect the budget
    for ((d, bud) <- Seq((small, 200L), (big, 600L))) {
      val sums = d.groupBy(col("source")).agg(sum(col("n_tok")).as("s"))
        .collect().map(_.getLong(1))
      assert(sums.forall(_ <= bud), s"budget $bud exceeded: ${sums.toSeq}")
    }
    // monotone: raising the budget only ADDS docs
    assert(ids(small).subsetOf(ids(big)))
    // partition-stable
    assert(ids(Sampling.sampleByBudget(df.repartition(17), 200,
      salt = "t")) == ids(small))
    assert(ids(small).nonEmpty && ids(small).size < 300)
  }
}
