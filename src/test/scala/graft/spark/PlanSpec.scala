package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BlockedBloomFilter, Hashing}
import graft.functions.{functions => F}
import graft.sources.TokenDocs

/** Physical-plan shape assertions — the properties that survive a 100x
  * scale-up must be visible in the plan, not assumed:
  *  - column pruning reaches the parquet scan (no full-row reads),
  *  - filter pushdown reaches the scan,
  *  - sketch builds are two-phase ObjectHashAggregate with ONE exchange,
  *  - probes stay inside whole-stage codegen (no UDF dispatch).
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan prunes to the columns the query needs") {
    // a per-source sketch build never needs doc_id/lang/n_chars
    val plan = planOf(
      TokenDocs.fromDocumentsPath(spark, "/root/testdata/sf0.001")
        .groupBy(col("source"))
        .agg(F.hll_agg_tokens(col("tokens")).as("s")))
    assert(plan.contains("ReadSchema: struct<text:string,source:string>"),
      s"scan must read only text+source:\n$plan")
    assert(!plan.contains("n_chars") && !plan.contains("lang"),
      s"unused columns must be pruned:\n$plan")
  }

  test("tokenizer-fit prunes the documents scan to text+source") {
    // (the checkpointing reports — drift, keyness — materialize their
    // counts at build, so their FINAL plans cannot witness the scan;
    // tokenizer-fit is the un-checkpointed report, and its scan must
    // not drag doc_id/lang/n_chars along — at 100 TB that is 2-3x the
    // bytes for nothing)
    val plan = planOf(graft.operators.TextAnalysis.tokenizerFit(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")))
    // (the report's own output aliases include an n_chars SUM, so the
    // witness is the scan's ReadSchema, not a plan-wide grep)
    assert(plan.contains("ReadSchema: struct<text:string,source:string>"),
      s"scan must read only text+source:\n$plan")
    assert(!plan.contains("lang"),
      s"unused columns must be pruned:\n$plan")
  }

  test("sketch build is partial->exchange->final ObjectHashAggregate") {
    val df = TokenDocs.fromDocumentsPath(spark, "/root/testdata/sf0.001")
      .groupBy(col("source"))
      .agg(F.bloom_agg_tokens(col("tokens"), 10000, 0.01).as("s"))
    val plan = planOf(df)
    assert("ObjectHashAggregate".r.findAllIn(plan).length == 2,
      s"expected exactly partial+final ObjectHashAggregate:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle:\n$plan")
  }

  test("checkpoint resume and minhash_agg_tokens plan no ScalaAggregator") {
    // every sketch aggregate is a native TypedImperativeAggregate; the
    // udaf encoder path (ScalaAggregator) costs ~6x the kernel
    val docs = graft.sources.TokenDocGen.generateDf(spark, 300, 11L, 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-plan-resume").toString
    graft.plans.SketchCheckpoint.writePanelPartials(
      docs, "source", 10000, 0.01, dir, "s1")
    val resumed = graft.plans.SketchCheckpoint.resumePanel(
      spark, dir, 10000, 0.01)
    val minhash = docs.agg(F.minhash_agg_tokens(col("tokens"), 64))
    // the plan string names a udaf after its Aggregator class, so look
    // at the expression classes of the executed plan (AQE stages too)
    val stages = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    for (df <- Seq(resumed, minhash)) {
      df.collect()
      val exprClasses = stages.collect(df.queryExecution.executedPlan) {
        case p => p
      }.flatMap(_.expressions)
        .flatMap(_.collect { case e => e.getClass.getSimpleName }).toSet
      assert(!exprClasses.contains("ScalaAggregator"), planOf(df))
      assert(planOf(df).contains("ObjectHashAggregate"), planOf(df))
    }
  }

  test("filter pushdown reaches the parquet scan") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,30.0)]"),
      s"filter must be pushed to the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"projection must be pruned:\n$plan")
  }

  test("probe pipeline is a single WholeStageCodegen span, no UDFs") {
    val f = BlockedBloomFilter.optimized(1000, 0.01)
    (0 until 1000).foreach(i => f.add(Hashing.tokenHash(i)))
    val df = spark.range(0, 1000, 1, 2)
      .select(F.bloomProbe(f)(F.token_hash64(col("id"))).as("hit"))
      .filter(col("hit"))
    val plan = planOf(df)
    // the "*(n)" prefix in the plan string marks WholeStageCodegen spans
    assert(plan.contains("*(1) Project [bloom_probe") ||
      plan.contains("WholeStageCodegen"), s"must codegen:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"probe path must not dispatch UDFs:\n$plan")
  }

  test("incremental dedup scans ONLY the index — corpus parquet untouched") {
    import spark.implicits._
    // corpus on disk as parquet (so a rescan would show up as a file scan)
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft-plan-corpus").toString + "/docs"
    (0L until 40L).map(i =>
        (i, (1 to 25).map(w => s"c$i-w$w").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(corpusDir)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-plan-idx").toString
    graft.operators.Dedup.writeDedupIndex(
      spark.read.parquet(corpusDir), idxDir)
    val snap = (100L until 110L).map(i =>
        (i, (1 to 25).map(w => s"n$i-w$w").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val kept = graft.operators.Dedup.dedupIncremental(snap, idxDir)
    kept.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    val locs = scans(kept.queryExecution.executedPlan)
      .flatMap(_.metadata.get("Location"))
    assert(locs.nonEmpty, "index scans must be present")
    assert(locs.forall(l => !l.contains("graft-plan-corpus")),
      s"incremental dedup must NEVER rescan the corpus files:\n$locs")
    assert(locs.exists(_.contains("graft-plan-idx")),
      s"scans must come from the index:\n$locs")
  }

  test("incremental CC dedup never touches corpus files (deleted post-index)") {
    import spark.implicits._
    // the CC variant materializes through localCheckpoints, so the final
    // plan alone cannot witness its reads; instead DELETE the corpus
    // after indexing — any code path that rescanned it would throw
    val corpusRoot = java.nio.file.Files
      .createTempDirectory("graft-plan-cc-corpus")
    val corpusDir = corpusRoot.toString + "/docs"
    // alphanumeric-only words: the tokenizer splits on '-', so "c1-w2"
    // style words would alias across docs and near-dup the whole corpus
    ((0L until 40L).map(i =>
        (i, (1 to 25).map(w => s"c${i}w$w").mkString(" "), "s"))
      :+ ((40L, (1 to 30).map(w => s"hw$w").mkString(" "), "s")))
      .toDF("doc_id", "text", "source")
      .write.parquet(corpusDir)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-plan-cc-idx").toString
    graft.operators.Dedup.writeDedupIndexCC(
      spark.read.parquet(corpusDir), idxDir)
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(corpusRoot.toFile)
    // snapshot: one verified near-dup of corpus doc 40 (J = 29/31) —
    // forces the vs-corpus band join AND tokset verify — plus fresh docs
    val snap = Seq(
      (100L, ((1 to 29).map(w => s"hw$w") :+ "zz1").mkString(" "), "s"),
      (101L, (1 to 25).map(w => s"fw$w").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val kept = graft.operators.Dedup
      .dedupIncrementalCC(snap, idxDir, appendToIndex = true)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(101L)),
      s"near-dup of indexed doc must drop via index-only reads: " +
        kept.mkString(","))
  }

  test("drift/balance reports run off checkpointed counts (corpus deletable)") {
    import spark.implicits._
    // both families checkpoint their count frames at build; every
    // report derived from them must never rescan the corpus. Witness
    // by deletion (the CC-dedup pattern above): any rescan would throw
    val root = java.nio.file.Files
      .createTempDirectory("graft-plan-drift-corpus")
    val corpusDir = root.toString + "/docs"
    (0L until 40L).map(i =>
        (i, (1 to 20).map(w => s"c${i % 7}w$w").mkString(" "),
          s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
      .write.parquet(corpusDir)
    val docs = spark.read.parquet(corpusDir)
    val cnt = graft.operators.Drift.wordCounts(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    val bal = graft.operators.Sampling.shardBalance(
      docs.withColumn("n_tok",
        size(graft.functions.functions.tokenize(col("text")))),
      numShards = 4, salt = "t1")
    val refDir = java.nio.file.Files
      .createTempDirectory("graft-plan-drift-ref").toString
    graft.operators.Drift.writeReferenceCounts(
      docs.filter(col("doc_id") % 2 === 0), refDir)
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(root.toFile)
    val summary = graft.operators.Drift.driftSummaryFromCounts(cnt)
    assert(summary.collect().length == 1)
    val report = graft.operators.Drift.tokenDriftFromCounts(cnt, 5)
    assert(report.collect().length == 5)
    assert(bal.collect().length == 4)
    // reference screening reads the index, and the in-memory snapshot
    val snap = Seq((100L, "c1w1 c1w2 zz", "s0")).toDF("doc_id", "text", "source")
    val vsRef = graft.operators.Drift.driftSummaryFromCounts(
      graft.operators.Drift.referenceWordCounts(snap, refDir))
    assert(vsRef.collect().length == 1)
    // every other vs-reference path must also survive the deletion
    assert(graft.operators.Drift
      .sourceDriftVsReference(snap, refDir).collect().nonEmpty)
    assert(graft.operators.Drift
      .lengthDriftVsReference(snap, refDir).collect().length == 1)
    // and none of the report plans dispatch through a UDF
    Seq(summary, report, bal).foreach { d =>
      val p = planOf(d)
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    }
  }

  test("gopher battery and chunk manifest keep their zero-extra-shuffle claims") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = (0L until 50L)
      .map(i => (i, s"the of doc$i " + (1 to 60).map(w => s"w$w$i")
        .mkString(" "), "s" + (i % 3), 50L + i))
      .toDF("doc_id", "text", "source", "n_chars")
    // the battery is one projection: NO exchange anywhere in its plan
    val gq = graft.operators.TextAnalysis.gopherQualityFlags(docs)
    val gqShuffles = gq.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s }
    assert(gqShuffles.isEmpty,
      s"gopher battery must not shuffle:\n${gq.queryExecution.executedPlan}")
    // the manifest inherits packAssignments' single stratum-window
    // exchange and adds none of its own
    def countShuffles(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s }.size
    val asg = graft.operators.Packing.packAssignments(
      docs, seqLen = 64, weightCol = "n_chars", salt = "e1")
    val man = graft.operators.Packing.chunkManifest(
      asg, seqLen = 64, weightCol = "n_chars")
    assert(countShuffles(man) == countShuffles(asg),
      s"chunk manifest must add no exchange:\n" +
        man.queryExecution.executedPlan)
  }

  test("sharded probe is native codegen, plan-embedded and broadcast") {
    import graft.functions.sharded
    val shards = Array.fill(4)(BlockedBloomFilter.optimized(1000, 0.01))
    (0 until 1000).foreach { i =>
      val h = Hashing.tokenHash(i)
      shards(sharded.shardOf(h, 4)).add(h)
    }
    val f = new sharded.ShardedFilter(shards)
    for ((name, probeCol) <- Seq(
        "embedded" -> sharded.shardedProbe(f) _,
        "broadcast" -> sharded.shardedProbeBroadcast(
          spark.sparkContext.broadcast(f)) _,
        "auto" -> sharded.shardedProbeAuto(spark, f))) {
      val df = spark.range(0, 2000, 1, 2)
        .select(probeCol(F.token_hash64(col("id"))).as("hit"))
        .filter(col("hit"))
      val plan = planOf(df)
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        s"$name sharded probe must not dispatch UDFs:\n$plan")
      assert(plan.contains("sharded_probe"), s"$name:\n$plan")
      assert(df.count() == 1000L, s"$name: no false negatives")
    }
  }

  test("dedup/ANN hot paths carry no ScalaUDF (native expressions only)") {
    val toks = TokenDocs.fromDocumentsPath(spark, "/root/testdata/sf0.001")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plans = Seq(
      "minhash" -> planOf(graft.operators.Dedup.minhashLshPairs(toks, 0.9)),
      "jaccard" -> planOf(graft.operators.Dedup.jaccardPairs(toks, 0.9)),
      "simhash" -> planOf(graft.operators.Dedup.simhashPairs(toks, 7)),
      "ann_brute" -> planOf(graft.operators.Ann.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb, 3)),
      "ann_lsh" -> planOf(graft.operators.Ann.lshTopK(
        emb.filter(col("vec_id") < 5), emb, 3, nbits = 128, numBands = 64)),
      "emb_exact" -> planOf(graft.operators.Dedup
        .embeddingNearDupPairs(emb, 0.45)),
      "emb_lsh" -> planOf(graft.operators.Dedup
        .embeddingNearDupPairsLsh(emb, 0.45)),
      "tokenize" -> planOf(toks),
      "lang_id" -> planOf(spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(graft.operators.TextAnalysis.lang_id(col("text")))),
      "rolling_fp" -> planOf(spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(graft.operators.TextAnalysis.rolling_fingerprint(col("text")))),
      "decontaminate" -> {
        val docs = spark.read
          .parquet("/root/testdata/sf0.001/documents.parquet")
        planOf(graft.operators.Decontaminate.contaminated(
          docs.filter(col("doc_id") % 11 =!= 0),
          docs.filter(col("doc_id") % 11 === 0), n = 3))
      })
    for ((name, plan) <- plans)
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        s"$name plan must not dispatch UDFs:\n$plan")
  }

  test("declared queries that read sketches back plan no ScalaUDF") {
    import spark.implicits._
    import org.apache.spark.graftsupport.Plans
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    // the two tables these queries read, small
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-sf").toString
    (0L until 120L).map { i =>
      val text = (0 until 20).map(j => s"w${(i * 7 + j * j) % 31}").mkString(" ")
      (i, text, "en", s"src${i % 4}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (0L until 200L).map(i => (i, i % 37, s"e${i % 3}"))
      .toDF("event_id", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    for (q <- Seq("q03_source_distinct_tokens", "q20_events_user_hll",
        "q65_source_overlap", "q68_novelty_vs_sketches",
        "q69_token_mass_overlap", "q74_novelty_mass", "q75_freq_sketch",
        "q76_trending_grams", "q77_mixture_preview")) {
      // every action the query runs, its own collect included
      val (_, plans) = Plans.recorded(spark) {
        graft.SparkEntry.queries(q)(spark, dir).collect()
      }
      assert(plans.nonEmpty, q)
      val udfs = plans.flatMap { case (_, p) => Plans.nodes(p) }
        .flatMap(_.expressions).flatMap(_.collect { case u: ScalaUDF => u })
      assert(udfs.isEmpty, s"$q plans a ScalaUDF: $udfs")
    }
  }

  test("source scan: no Scala udf under src/main outside two declared queries") {
    // sketch readbacks are catalyst.SketchAccessor ops; one line each,
    // with the reason, for the udfs left
    val allowed = Map(
      ("SparkEntry.scala", "udf((t: String) => cms.estimate") ->
        "q04 probes its driver-built CMS per event type; the query is frozen",
      ("SparkEntry.scala", "udf((w: String) => cms.estimate") ->
        "q28 probes its driver-built CMS per heavy hitter; the query is frozen")
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"sources not found from ${root.getAbsolutePath}")
    def scala(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scala(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val udf = """\budf\s*\(|UserDefinedFunction""".r
    val found = for {
      file <- scala(root)
      text = new String(java.nio.file.Files.readAllBytes(file.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      m <- udf.findAllMatchIn(text)
    } yield {
      val start = text.lastIndexOf('\n', m.start) + 1
      (file.getName, text.substring(start).takeWhile(_ != '\n').trim)
    }
    val stray = found.filterNot { case (file, line) =>
      allowed.keys.exists { case (f, code) => f == file && line.contains(code) }
    }
    assert(stray.isEmpty, s"Scala udfs (use a native expression): ${stray.mkString("; ")}")
    val used = allowed.keySet.filter { case (f, code) =>
      found.exists { case (file, line) => file == f && line.contains(code) }
    }
    assert(used == allowed.keySet,
      s"allowlist entries with no udf left: ${allowed.keySet -- used}")
  }

  test("every kernel op codegens to its static call, literals inlined") {
    import graft.functions.{expressions => E}
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.execution.debug.codegenString
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("text", StringType),
      StructField("tok", IntegerType), StructField("pos", IntegerType),
      StructField("tokens", ArrayType(IntegerType)),
      StructField("hashes", ArrayType(LongType)), StructField("fp", LongType),
      StructField("emb", ArrayType(FloatType))))
    val row = Row("a b c", 1, 0, Seq(1, 2), Seq(3L, 4L), 5L, Seq(1f, 2f))
    // an RDD-backed frame, so the projection runs whole-stage codegen
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), schema)
    val (t, h) = (col("text"), col("hashes"))
    // `@` stands for a generated argument
    val k = "graft.functions.kernels."
    val calls: Seq[(Column, String)] = Seq(
      F.token_hash64(col("tok")) -> "graft.core.Hashing.splitmix64((long)(@))",
      F.fnv_hash64_native(t) -> "graft.core.Hashing.fnv1a64(@.getBytes())",
      E.word_ngrams(t, 3) -> s"${k}wordNgrams(@, 3)",
      E.word_ngrams_all(t, 4) -> s"${k}wordNgramsAll(@, 4)",
      E.gram_hashes(t, 5) -> s"${k}gramHashes(@, 5)",
      E.gram_at(t, col("pos"), 6) -> s"${k}gramAt(@, @, 6)",
      E.seg_token_count(t) -> s"${k}segTokenCount(@)",
      E.gopher_signals(t) -> s"${k}gopherSignals(@)",
      F.tokenize(t) -> s"${k}tokenizeArrayOrEmpty(@)",
      F.minhash_signature(32)(col("tokens")) -> s"${k}minhashSignature(@, 32)",
      F.minhash_bands(16, 8)(h) -> s"${k}minhashBands(@, 16, 8)",
      F.token_shingles(col("tokens"), 7) -> s"${k}tokenShingles(@, 7)",
      F.minhash_signature_hashes(h, 64) -> s"${k}minhashSignatureHashes(@, 64)",
      F.simhash64(col("tokens")) -> s"${k}simhash64(@)",
      E.lang_id(t) -> s"${k}langId(@)",
      E.canonical_url(t) -> s"${k}canonicalUrl(@)",
      E.rolling_fingerprint(t) -> s"${k}rollingFp(@)",
      E.simhash64_hashes(h) -> s"${k}simhash64Hashes(@)",
      F.hamming64(col("fp"), col("fp")) -> "java.lang.Long.bitCount(@ ^ @)",
      F.minhash_jaccard(h, h) ->
        "graft.core.MinHash.estimateJaccard(@.toLongArray(), @.toLongArray())",
      F.cosine_sim(col("emb"), col("emb")) -> s"${k}cosineF(@, @)",
      F.simhash_buckets(col("fp"), 9) -> s"${k}simhashBucketKeys(@, 9)",
      F.lsh_band_keys(col("emb"), 4, 10, 2) -> s"${k}lshBandKeys(@, 4, 10, 2)",
      F.lsh_signature(col("emb"), 11, 2) -> s"${k}lshSignature(@, 11, 2)")
    assert(calls.length == E.Kernel.all.length)
    for ((c, call) <- calls) {
      val code = codegenString(df.select(c).queryExecution.executedPlan)
      val pattern = call.split("@", -1).map(java.util.regex.Pattern.quote)
        .mkString("[^;]+?").r
      assert(pattern.findFirstIn(code).nonEmpty, s"no $call in:\n$code")
      // called in place: not through a reference to the op
      assert(!code.contains("expressions$Kernel"), code)
    }
  }

  test("source scan: stateless kernels are Kernel ops, not expression classes") {
    // one line each, with the reason, for the classes that stay
    val allowed = Map(
      "BloomProbe" -> "holds a filter",
      "BloomProbeBroadcast" -> "holds a broadcast filter",
      "ShardedProbe" -> "holds a sharded filter",
      "ShardedProbeBroadcast" -> "holds a broadcast sharded filter",
      "BloomMightContainDump" -> "caches the filter it loaded",
      "BlocklistMatches" -> "holds the normalized word list",
      "IvfAssign" -> "holds the centroids",
      "IvfProbes" -> "holds the centroids",
      "SortedIntersectSize" -> "picks its kernel from the child types")
    val root = new java.io.File("src/main/scala/graft/functions")
    assert(root.isDirectory, s"sources not found from ${root.getAbsolutePath}")
    val decl = """case class (\w+)\([^)]*\)\s*extends (?:Unary|Binary)Expression""".r
    val found = for {
      file <- Option(root.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
      text = new String(java.nio.file.Files.readAllBytes(file.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      m <- decl.findAllMatchIn(text)
    } yield m.group(1)
    val stray = found.filterNot(allowed.contains)
    assert(stray.isEmpty,
      s"stateless expression classes (add a Kernel op instead): ${stray.mkString(", ")}")
    assert(found.toSet == allowed.keySet,
      s"allowlist entries with no class left: ${allowed.keySet -- found}")
    // every extends is a declaration the pattern saw
    val extendsCount = root.listFiles().filter(_.getName.endsWith(".scala")).map { f =>
      "extends (Unary|Binary)Expression".r.findAllMatchIn(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).length
    }.sum
    assert(extendsCount == found.length, s"$extendsCount extends, ${found.length} classes")
  }

  test("dedup self-joins reuse their exchanges (band shuffle computed once)") {
    // at sf0.001 everything broadcast-joins (no exchange at all) — force
    // the shuffle-join shape a large table gets; under AQE, reuse shows
    // only in the FINAL adaptive plan, so execute first and inspect the
    // same queryExecution
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val toks = TokenDocs.fromDocumentsPath(spark, "/root/testdata/sf0.001")
      for ((name, df) <- Seq(
          "minhash" -> graft.operators.Dedup.minhashLshPairs(toks, 0.9),
          "simhash" -> graft.operators.Dedup.simhashPairs(toks, 7))) {
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("isFinalPlan=true"), plan)
        assert(plan.contains("ReusedExchange"),
          s"$name self-join must reuse the bucket shuffle:\n$plan")
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("embedding near-dup has no broadcast nested-loop between unbounded sides") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for ((name, df) <- Seq(
        "exact-grid" -> graft.operators.Dedup.embeddingNearDupPairs(emb, 0.45),
        "lsh" -> graft.operators.Dedup.embeddingNearDupPairsLsh(emb, 0.45))) {
      val plan = planOf(df)
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name must join on keys, not cross-broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name must not plan a cartesian product:\n$plan")
    }
  }

  test("token-budget fill plans one exchange (stratum window only)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = planOf(graft.operators.Sampling.sampleByBudget(
      docs, 3000, weightCol = "n_chars", salt = "s9"))
    val nExchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(nExchanges == 1, s"expected 1 shuffle, got $nExchanges:\n$plan")
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("overlap matrix production path: one source shuffle, no gram self-join") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = planOf(graft.operators.TextAnalysis
      .sourceOverlapMatrix(docs, n = 3, thetaK = 256, withExact = false))
    // the per-source sketch frame is eagerly checkpointed before the
    // pair self-join (one corpus scan + one source shuffle inside the
    // checkpoint; a lazy plan would run both TWICE — asserted here by
    // the final plan containing NO corpus scan and NO shuffle at all),
    // and the pairwise estimates ride a broadcast of the sources-sized
    // frame — the quadratic distinct-gram self-join never appears
    assert(!plan.contains("FileScan parquet"),
      s"pair join must read the checkpointed sketches, not the corpus:\n$plan")
    assert(!"Exchange hashpartitioning".r.findAllIn(plan).hasNext,
      s"no shuffle after the checkpointed sketch build:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"pairs must broadcast the sources-sized side:\n$plan")
  }

  test("token-mass overlap production path: checkpointed sketches only") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // same contract as the theta overlap matrix above: the per-source
    // TUPLE sketch frame is eagerly checkpointed before the pair
    // self-join, so the final plan reads no corpus and shuffles nothing
    val plan = planOf(graft.operators.TextAnalysis
      .tokenMassOverlap(docs, n = 3, tupleK = 256, withExact = false))
    assert(!plan.contains("FileScan parquet"),
      s"pair join must read the checkpointed sketches, not the corpus:\n$plan")
    assert(!"Exchange hashpartitioning".r.findAllIn(plan).hasNext,
      s"no shuffle after the checkpointed sketch build:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"pairs must broadcast the sources-sized side:\n$plan")
  }

  test("novelty screen: snapshot-sized work, corpus parquet never read") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("plan-ov-idx").toString
    graft.operators.TextAnalysis.writeOverlapSketches(
      docs.filter(col("doc_id") % 2 === 0), dir, n = 3, thetaK = 256)
    val screen = graft.operators.TextAnalysis.overlapVsSketches(
      docs.filter(col("doc_id") % 2 =!= 0), dir)
    val plan = planOf(screen)
    // the only file scans are the snapshot and the sources x batches
    // sketches table — the corpus text is never rescanned
    assert(!plan.contains("SortMergeJoin"), plan)
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // two shuffles: the snapshot sketch agg (snapshot-sized) and the
    // committed-batch union agg (sources x batches rows — trivial)
    assert(nExchanges == 2,
      s"snapshot agg + batch-union agg are the only shuffles, got $nExchanges:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("bucketed tables join and aggregate with zero exchanges") {
    import graft.sources.BucketedTables
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BucketedTables.writeBucketed(
        docs.select(col("doc_id"), col("source")), "graft_bt_a", "doc_id", 8)
      BucketedTables.writeBucketed(
        docs.select(col("doc_id"), col("n_chars")), "graft_bt_b", "doc_id", 8)
      val joined = BucketedTables.read(spark, "graft_bt_a")
        .join(BucketedTables.read(spark, "graft_bt_b"), Seq("doc_id"))
      val plan = planOf(joined)
      assert(!plan.contains("Exchange"),
        s"bucket-co-located join must not shuffle:\n$plan")
      assert(joined.count() == docs.count())
      // aggregation on the bucket key is exchange-free too
      val agg = BucketedTables.read(spark, "graft_bt_a")
        .groupBy(col("doc_id")).count()
      assert(!planOf(agg).contains("Exchange"), planOf(agg))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bt_b")
    }
  }

  test("bucketed table write heals an orphaned managed location") {
    import spark.implicits._
    // a killed writer leaves the location dir without the table entry;
    // Spark then refuses saveAsTable (LOCATION_ALREADY_EXISTS) — the
    // writers must heal this or a crash permanently blocks its retry
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val orphan = new java.io.File(wh, "graft_bt_orphan")
    orphan.mkdirs()
    new java.io.FileOutputStream(new java.io.File(orphan, "junk")).close()
    try {
      graft.sources.BucketedTables.writeBucketed(
        Seq((1L, "a")).toDF("doc_id", "v"), "graft_bt_orphan",
        "doc_id", 2)
      assert(spark.table("graft_bt_orphan").count() == 1)
    } finally spark.sql("DROP TABLE IF EXISTS graft_bt_orphan")
  }

  test("bucketed dedup index: corpus side of every join is exchange-free") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = ((0L until 30L).map(i =>
          (i, (1 to 25).map(w => s"c${i}w$w").mkString(" "), "s"))
        :+ ((30L, (1 to 30).map(w => s"hw$w").mkString(" "), "s")))
        .toDF("doc_id", "text", "source")
      graft.operators.Dedup.writeDedupIndexTables(corpus, "graft_dix", 8)
      val snap = Seq(
        (100L, ((1 to 29).map(w => s"hw$w") :+ "zz1").mkString(" "), "s"),
        (101L, (1 to 25).map(w => s"fw$w").mkString(" "), "s"))
        .toDF("doc_id", "text", "source")
      val kept = graft.operators.Dedup
        .dedupIncrementalTables(snap, "graft_dix")
      kept.collect()
      // same answer as the directory index
      val dir = java.nio.file.Files
        .createTempDirectory("graft-dix-dir").toString
      graft.operators.Dedup.writeDedupIndex(corpus, dir)
      assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ==
        graft.operators.Dedup.dedupIncremental(snap, dir)
          .select("doc_id").as[Long].collect().sorted.toSeq)
      // NO exchange anywhere above a bucketed corpus-table scan: the
      // snapshot side shuffles to meet the buckets, the corpus does not
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def walk(p: SparkPlan): Seq[SparkPlan] = {
        val here = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case other => other +: other.children.flatMap(walk)
        }
        here
      }
      def corpusScans(p: SparkPlan): Seq[FileSourceScanExec] =
        walk(p).collect {
          case f: FileSourceScanExec
              if f.metadata.get("Location").exists(_.contains("graft_dix"))
              => f
        }
      val all = walk(kept.queryExecution.executedPlan)
      assert(corpusScans(kept.queryExecution.executedPlan).nonEmpty,
        "corpus table scans must be present")
      // derived frames may reshuffle on new keys AFTER a join; the
      // bucketing claim is that no exchange sits BETWEEN a corpus scan
      // and the join that consumes it (the snapshot side, by contrast,
      // must shuffle to meet the buckets)
      def corpusScanBeforeJoin(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.metadata.get("Location").exists(_.contains("graft_dix"))
        case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
        case a: AdaptiveSparkPlanExec => corpusScanBeforeJoin(a.executedPlan)
        case q: QueryStageExec => corpusScanBeforeJoin(q.plan)
        case other => other.children.exists(corpusScanBeforeJoin)
      }
      val shuffledCorpus = all.collect {
        case s: ShuffleExchangeExec if corpusScanBeforeJoin(s.child) => s }
      assert(shuffledCorpus.isEmpty,
        s"corpus buckets must reach their join unshuffled:\n$shuffledCorpus")
      // the table-backed near-dup screen answers exactly like the
      // directory-backed one
      assert(graft.operators.Dedup.nearDupHitsVsTables(snap, "graft_dix")
          .collect().toSet ==
        graft.operators.Dedup.nearDupHitsVsIndex(snap, dir)
          .collect().toSet)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("digests", "bands", "toksets", "manifest").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS graft_dix_$t"))
    }
  }

  test("compacted table index keeps the exchange-free corpus pin") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = ((0L until 30L).map(i =>
          (i, (1 to 25).map(w => s"k${i}w$w").mkString(" "), "s"))
        :+ ((30L, (1 to 30).map(w => s"kw$w").mkString(" "), "s")))
        .toDF("doc_id", "text", "source")
      val s2 = Seq(
        (100L, (1 to 25).map(w => s"m1w$w").mkString(" "), "s"),
        (101L, (1 to 25).map(w => s"m2w$w").mkString(" "), "s"))
        .toDF("doc_id", "text", "source")
      // write side: directory index + one appended snapshot
      val dir = java.nio.file.Files
        .createTempDirectory("graft-cmp-dir").toString
      graft.operators.Dedup.writeDedupIndex(corpus, dir)
      graft.operators.Dedup.dedupIncremental(s2, dir,
        appendToIndex = true).collect()
      // read side: compaction folds corpus + appended snapshot into
      // bucketed tables
      graft.operators.Dedup.compactDedupIndexTables(spark, dir,
        "graft_cmp", 8)
      // s3 holds a REAL near-dup of corpus doc 30 so AQE cannot
      // empty-propagate the candidate joins out of the final plan
      val s3 = Seq(
        (200L, ((1 to 29).map(w => s"kw$w") :+ "nz1").mkString(" "), "s"),
        (201L, (1 to 25).map(w => s"n1w$w").mkString(" "), "s"))
        .toDF("doc_id", "text", "source")
      val kept = graft.operators.Dedup.dedupIncrementalTables(s3,
        "graft_cmp")
      kept.collect()
      // same answer as continuing on the directory index
      assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ==
        graft.operators.Dedup.dedupIncremental(s3, dir)
          .select("doc_id").as[Long].collect().sorted.toSeq)
      // the exchange-free pin holds on the COMPACTED tables: no
      // shuffle between a corpus-table scan and its first join
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other +: other.children.flatMap(walk)
      }
      def corpusScanBeforeJoin(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.metadata.get("Location").exists(_.contains("graft_cmp"))
        case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
        case a: AdaptiveSparkPlanExec => corpusScanBeforeJoin(a.executedPlan)
        case q: QueryStageExec => corpusScanBeforeJoin(q.plan)
        case other => other.children.exists(corpusScanBeforeJoin)
      }
      val all = walk(kept.queryExecution.executedPlan)
      assert(all.exists {
        case f: FileSourceScanExec =>
          f.metadata.get("Location").exists(_.contains("graft_cmp"))
        case _ => false
      }, "compacted corpus table scans must be present")
      val shuffled = all.collect {
        case s: ShuffleExchangeExec if corpusScanBeforeJoin(s.child) => s }
      assert(shuffled.isEmpty,
        s"compacted corpus buckets must reach their join unshuffled:\n$shuffled")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("digests", "bands", "toksets", "manifest").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS graft_cmp_$t"))
    }
  }

  test("bucketed span index: gram table reaches its screen join unshuffled") {
    import spark.implicits._
    import graft.operators.SpanDedup
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val span = (1 to 8).map(i => s"sp$i")
      val corpus = ((0L until 20L).map(i =>
          (i, (1 to 20).map(w => s"p${i}w$w").mkString(" ")))
        :+ ((20L, ((1 to 6).map(w => s"pw$w") ++ span).mkString(" "))))
        .toDF("doc_id", "text")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-spix-dir").toString
      SpanDedup.writeSpanIndex(corpus, dir, minLen = 8)
      SpanDedup.writeSpanIndexTables(corpus, "graft_spix", 8, minLen = 8)
      val snap = Seq(
        (100L, ((1 to 5).map(w => s"q1w$w") ++ span).mkString(" ")),
        (101L, (1 to 15).map(w => s"q2w$w").mkString(" ")))
        .toDF("doc_id", "text")
      val hits = SpanDedup.spanHitsVsTables(snap, "graft_spix")
      // identical hits, spans, and excision vs the directory layout
      assert(hits.collect().toSet ==
        SpanDedup.spanHitsVsIndex(snap, dir).collect().toSet)
      assert(hits.collect().nonEmpty, "planted span must hit")
      assert(SpanDedup.duplicateSpansVsTables(snap, "graft_spix")
          .collect().toSet ==
        SpanDedup.duplicateSpansVsIndex(snap, dir).collect().toSet)
      assert(SpanDedup.exciseSpansVsTables(snap, "graft_spix")
          .collect().toSet ==
        SpanDedup.exciseSpansVsIndex(snap, dir).collect().toSet)
      // the gram table scan reaches its join with NO exchange above it
      // (the snapshot side shuffles to meet the buckets)
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other +: other.children.flatMap(walk)
      }
      def gramScanBeforeJoin(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.metadata.get("Location").exists(_.contains("graft_spix"))
        case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
        case a: AdaptiveSparkPlanExec => gramScanBeforeJoin(a.executedPlan)
        case q: QueryStageExec => gramScanBeforeJoin(q.plan)
        case other => other.children.exists(gramScanBeforeJoin)
      }
      hits.collect()
      val all = walk(hits.queryExecution.executedPlan)
      assert(all.exists {
        case f: FileSourceScanExec =>
          f.metadata.get("Location").exists(_.contains("graft_spix"))
        case _ => false
      }, "gram table scan must be present")
      val shuffled = all.collect {
        case s: ShuffleExchangeExec if gramScanBeforeJoin(s.child) => s }
      assert(shuffled.isEmpty,
        s"gram buckets must reach their join unshuffled:\n$shuffled")
      // the md5 verify stays a post-join residual: every exchange in
      // the screen partitions on the single gh key, never on a
      // (md5-expr, gh) pair — i.e. the md5 is computed only for
      // seed-matched candidates, not per corpus position
      all.collect { case s: ShuffleExchangeExec => s }.foreach { s =>
        val keys = s.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical
            .HashPartitioning => h.expressions
          case _ => Nil
        }
        assert(keys.size <= 1 && !keys.exists(_.sql.contains("md5")),
          s"screen shuffle must key on gh alone:\n$s")
      }
      // append on the dir side, compact, and the fold dedupes grams:
      // table screens == post-append directory screens
      val snap2 = Seq((200L,
        ((1 to 4).map(w => s"r1w$w") ++ span).mkString(" ")))
        .toDF("doc_id", "text")
      SpanDedup.writeSpanIndex(snap2, dir, minLen = 8, append = true)
      SpanDedup.compactSpanIndexTables(spark, dir, "graft_spcmp", 8)
      val later = Seq((300L,
          ((1 to 3).map(w => s"t1w$w") ++ span).mkString(" ")),
        (301L, (1 to 12).map(w => s"t2w$w").mkString(" ")))
        .toDF("doc_id", "text")
      assert(SpanDedup.spanHitsVsTables(later, "graft_spcmp")
          .collect().toSet ==
        SpanDedup.spanHitsVsIndex(later, dir).collect().toSet)
      // compaction stored each gram once despite the duplicate rows
      // the appended snapshot contributed for the shared span
      val nTbl = spark.table("graft_spcmp_grams").count()
      assert(nTbl ==
        spark.read.parquet(s"$dir/grams").distinct().count())
      assert(nTbl < spark.read.parquet(s"$dir/grams").count(),
        "fixture must actually contain cross-append duplicate grams")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("grams", "manifest").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS graft_spix_$t")
        spark.sql(s"DROP TABLE IF EXISTS graft_spcmp_$t")
      }
    }
  }

  test("broadcast bloom probe stays inside codegen, no UDFs") {
    val f = BlockedBloomFilter.optimized(1000, 0.01)
    (0 until 1000).foreach(i => f.add(Hashing.tokenHash(i)))
    val bc = spark.sparkContext.broadcast(f)
    val df = spark.range(0, 1000, 1, 2)
      .select(F.bloomProbeBroadcast(bc)(F.token_hash64(col("id"))).as("hit"))
      .filter(col("hit"))
    val plan = planOf(df)
    assert(plan.contains("bloom_probe_broadcast"), plan)
    assert(!plan.contains("ScalaUDF"), s"no UDF dispatch:\n$plan")
    assert(df.count() == 1000) // every inserted key present
  }

  test("ANN brute force broadcasts the query side") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = planOf(graft.operators.Ann.bruteForceTopK(
      emb.filter(col("vec_id") < 5), emb, 3))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"query side must broadcast:\n$plan")
  }

  test("ANN ranking is partial top-k, not a full-candidate window") {
    // a row_number window shuffles EVERY scored candidate to its
    // query's partition; the top-k aggregate ships k rows per
    // (query, partition) — the plan must show the aggregate and no
    // Window node
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    for (df <- Seq(
        graft.operators.Ann.bruteForceTopK(
          emb.filter(col("vec_id") < 5), emb, 3),
        graft.operators.Ann.lshTopK(
          emb.filter(col("vec_id") < 5), emb, 3, nbits = 32, numBands = 8))) {
      val plan = planOf(df)
      assert(!plan.contains("Window"), s"no window ranking:\n$plan")
      assert(plan.contains("topk_by_score"), plan)
      assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
        s"partial+final top-k aggregate expected:\n$plan")
    }
  }
}
