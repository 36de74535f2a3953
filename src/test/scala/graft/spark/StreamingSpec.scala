package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{functions => F}
import graft.sources.{TokenDoc, TokenDocGen}
import graft.streaming.StreamingSketches

/** Streaming sketch maintenance: the stream's final state must equal the
  * batch build over the same rows — for Bloom, byte-for-byte (build order
  * is irrelevant to the final bits; concurrent==sequential oracle
  * /root/reference/sync_test.go:27-61 lifted to micro-batches).
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming per-source sketches: final state equals batch build") {
    import spark.implicits._
    val docs = TokenDocGen.generate(spark, 1200, 19L, 4).collect()
    val (b1, b2, b3) = (docs.take(400), docs.slice(400, 800), docs.drop(800))

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TokenDoc]
    val updates = StreamingSketches.perSourceSketches(
      stream.toDS(), capacity = 60000, fpr = 0.001)
    val q = updates.writeStream
      .format("memory").queryName("sketch_updates")
      .outputMode(OutputMode.Update())
      .start()
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
      stream.addData(b3.toSeq); q.processAllAvailable()
    } finally q.stop()

    // last update per source == state after all rows
    val finals = spark.sql(
      """SELECT source, rows, tokens, bloom, hll FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY rows DESC) AS rn FROM sketch_updates) WHERE rn = 1
        |""".stripMargin)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Array[Byte]]("bloom"),
          r.getAs[Array[Byte]]("hll"))).toMap

    val batch = TokenDocGen.generateDf(spark, 1200, 19L, 4)
      .groupBy(col("source")).agg(
        F.bloom_agg_tokens(col("tokens"), 60000, 0.001).as("bloom"),
        F.hll_agg_tokens(col("tokens"), 14).as("hll"),
        count(lit(1)).as("rows"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(r.fieldIndex("rows")), r.getAs[Array[Byte]]("bloom"),
          r.getAs[Array[Byte]]("hll"))).toMap

    assert(finals.keySet == batch.keySet)
    finals.foreach { case (src, (rows, _, bloom, hll)) =>
      val (bRows, bBloom, bHll) = batch(src)
      assert(rows == bRows, s"row count for $src")
      assert(java.util.Arrays.equals(bloom, bBloom),
        s"streaming bloom != batch bloom for $src")
      assert(java.util.Arrays.equals(hll, bHll),
        s"streaming hll != batch hll for $src")
    }
  }

  test("a bad sketch sizing literal fails at the call, not inside a task") {
    import spark.implicits._
    val docs = TokenDocGen.generate(spark, 10, 3L, 2)
    val e = intercept[IllegalArgumentException](
      StreamingSketches.perSourceSketches(docs, 1000, 0.01, p = 99))
    assert(e.getMessage.contains("precision 99"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      StreamingSketches.perKeyQuantiles[TokenDoc](docs, _.source,
        _.n_tok.toDouble, compression = 1.0))
    assert(e2.getMessage.contains("compression"), e2.getMessage)
  }

  test("streaming priority sample: any prefix equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars").cast("long"))
    val rows = docs.collect().map(r => StreamingSketches.WeightedRow(
      r.getLong(0), r.getString(1), r.getLong(2)))
    val (b1, b2) = rows.splitAt(rows.length / 2)

    def batchSample(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.prioritySample(df, k = 3)
        .collect().map(r => (r.getString(1), r.getLong(0)) ->
          (r.getAs[Double]("priority"), r.getAs[Long]("sample_rank"),
            r.getAs[Double]("adj_weight"))).toMap

    val stream = MemoryStream[StreamingSketches.WeightedRow]
    val updates = StreamingSketches.streamingPrioritySample(
      stream.toDS(), k = 3)
    val q = updates.writeStream.format("memory").queryName("prio_sample")
      .outputMode(OutputMode.Update()).start()
    // a group's CURRENT sample = the rows of its max-`seen` emission
    def emitted(): Map[(String, Long), (Double, Long, Double)] =
      spark.sql(
        """SELECT `group`, id, priority, sample_rank, adj_weight
          |FROM (SELECT *, max(seen) OVER (PARTITION BY `group`) mx
          |      FROM prio_sample) WHERE seen = mx""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getAs[Double]("priority"), r.getAs[Long]("sample_rank"),
            r.getAs[Double]("adj_weight"))).toMap
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      // mid-stream: the current sample must equal the batch operator
      // over exactly the rows seen so far
      val half = batchSample(docs.filter(
        col("doc_id").isin(b1.map(_.id).toSeq: _*)))
      assert(emitted() == half,
        "mid-stream sample must equal batch-over-prefix")
      stream.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(emitted() == batchSample(docs),
      "streaming final sample must equal the batch operator")
  }

  test("state TTL drops idle groups (high-cardinality key hygiene)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def doc(key: String, i: Int) = TokenDoc(s"$key-$i", Array(1, 2, 3), 3, key)
    val stream = MemoryStream[TokenDoc]
    val updates = StreamingSketches.perSourceSketches(
      stream.toDS(), capacity = 10000, fpr = 0.01,
      stateTtl = Some(java.time.Duration.ofMillis(50)))
    val q = updates.writeStream
      .format("memory").queryName("ttl_updates")
      .outputMode(OutputMode.Update())
      .start()
    // NOTE: processAllAvailable() is unusable with ProcessingTimeTimeout —
    // the stateful operator reports shouldRunAnotherBatch=true on every
    // batch, so the no-new-data condition never latches. Poll the sink.
    def rowsOf(key: String): Seq[Long] = spark.sql(
      s"SELECT rows FROM ttl_updates WHERE source = '$key'")
      .collect().map(_.getLong(0)).toSeq
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond) {
        assert(System.currentTimeMillis() <= deadline, s"timeout: $what")
        q.exception.foreach(throw _)
        Thread.sleep(50)
      }
    }
    try {
      stream.addData(Seq(doc("k1", 0), doc("k1", 1), doc("k2", 0)))
      waitFor("batch1 processed")(
        rowsOf("k1").contains(2L) && rowsOf("k2").contains(1L))
      Thread.sleep(400) // exceed the TTL while the groups sit idle
      stream.addData(Seq(doc("k1", 2))) // k1 reappears after expiry
      waitFor("k1 reappears")(rowsOf("k1").exists(r => r == 1L || r == 3L))
    } finally q.stop()
    val k1Rows = rowsOf("k1")
    // state was dropped at timeout: the reappearance restarts at 1;
    // a surviving state would have produced rows=3
    assert(!k1Rows.contains(3L),
      s"k1 state must not survive the TTL: $k1Rows")
    assert(k1Rows.contains(1L),
      s"k1 must restart fresh after expiry: $k1Rows")
  }

  test("streaming dedup keeps exactly the first occurrence of each key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TokenDoc]
    val out = StreamingSketches.streamingDedup[TokenDoc](
      stream.toDS(), d => d.tokens.mkString(","))
    val q = out.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .start()
    def doc(id: Long, toks: Array[Int]) =
      TokenDoc(s"d$id", toks, toks.length, "s")
    try {
      // batch 1: a, a-dup (same content), b
      stream.addData(Seq(doc(1, Array(1, 2, 3)), doc(2, Array(1, 2, 3)),
        doc(3, Array(9, 9))))
      q.processAllAvailable()
      // batch 2: a again (cross-batch dup), c
      stream.addData(Seq(doc(4, Array(1, 2, 3)), doc(5, Array(7))))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.sql("SELECT n_tok, doc_id FROM dedup_out").collect()
      .map(r => r.getInt(0)).sorted.toSeq
    // one row per distinct content: {1,2,3}, {9,9}, {7}
    assert(kept == Seq(1, 2, 3), s"kept n_toks: $kept")
    // streaming keep-set content equals the batch exact-dedup group count
    assert(kept.size == 3)
  }

  test("streaming URL dedup: canonical variants collapse across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val out = StreamingSketches.streamingDedup[(Long, String)](
      stream.toDS(), r => graft.operators.Dedup.canonicalUrlOf(r._2))
    val q = out.writeStream
      .format("memory").queryName("url_dedup_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      stream.addData(Seq(
        (1L, "https://www.Example.com/p/1/?utm_source=x"),
        (2L, "HTTPS://EXAMPLE.COM:443/p/1"),      // dup of 1 (canonical)
        (3L, "https://example.com/p/2?b=2&a=1")))
      q.processAllAvailable()
      stream.addData(Seq(
        (4L, "https://example.com/p/2?a=1&b=2&gclid=z"), // cross-batch dup of 3
        (5L, "http://example.com/p/1")))                 // http != https
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.sql("SELECT _1 FROM url_dedup_out").collect()
      .map(_.getLong(0)).sorted.toSeq
    // first arrival per canonical URL: 1, 3, and the distinct-scheme 5
    assert(kept == Seq(1L, 3L, 5L), s"kept: $kept")
    // equals the batch keep set over the same rows
    val batch = Seq(
      (1L, "https://www.Example.com/p/1/?utm_source=x"),
      (2L, "HTTPS://EXAMPLE.COM:443/p/1"),
      (3L, "https://example.com/p/2?b=2&a=1"),
      (4L, "https://example.com/p/2?a=1&b=2&gclid=z"),
      (5L, "http://example.com/p/1")).toDF("doc_id", "url")
    val batchKept = graft.operators.Dedup.urlGroups(batch)
      .select(col("keep_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(batchKept == kept)
  }

  test("perKeyQuantiles TTL: idle key expires and restarts fresh") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Double)]
    val updates = StreamingSketches.perKeyQuantiles[(String, Double)](
      stream.toDS(), _._1, _._2,
      stateTtl = Some(java.time.Duration.ofMillis(50)))
    val q = updates.writeStream
      .format("memory").queryName("qttl_updates")
      .outputMode(OutputMode.Update())
      .start()
    // ProcessingTimeTimeout: processAllAvailable never latches — poll
    def nsOf(key: String): Seq[Double] = spark.sql(
      s"SELECT n FROM qttl_updates WHERE key = '$key'")
      .collect().map(_.getDouble(0)).toSeq
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond) {
        assert(System.currentTimeMillis() <= deadline, s"timeout: $what")
        q.exception.foreach(throw _)
        Thread.sleep(50)
      }
    }
    try {
      stream.addData(Seq(("k1", 1.0), ("k1", 2.0), ("k2", 5.0)))
      waitFor("batch1")(nsOf("k1").contains(2.0) && nsOf("k2").contains(1.0))
      Thread.sleep(400) // exceed the TTL while the keys sit idle
      stream.addData(Seq(("k1", 9.0))) // k1 reappears after expiry
      waitFor("k1 restart")(nsOf("k1").contains(1.0))
    } finally q.stop()
    val k1 = nsOf("k1")
    // a surviving digest would have produced n=3 on the reappearance
    assert(!k1.contains(3.0), s"k1 digest must not survive the TTL: $k1")
    assert(k1.contains(1.0), s"k1 must restart fresh: $k1")
  }

  test("streaming dedup vs corpus filter drops corpus dups pre-state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus keys {1,2,3} and {9,9} (as token-content keys)
    val corpusKeys = Seq("1,2,3", "9,9").toDF("k")
    val filter = StreamingSketches.corpusKeyFilter(corpusKeys, 1000, 1e-6)
    val stream = MemoryStream[TokenDoc]
    val out = StreamingSketches.streamingDedupVsCorpus[TokenDoc](
      stream.toDS(), d => d.tokens.mkString(","), filter)
    val q = out.writeStream
      .format("memory").queryName("corpus_dedup_out")
      .outputMode(OutputMode.Append())
      .start()
    def doc(id: Long, toks: Array[Int]) =
      TokenDoc(s"d$id", toks, toks.length, "s")
    try {
      stream.addData(Seq(
        doc(1, Array(1, 2, 3)), // corpus dup -> dropped by the filter
        doc(2, Array(7, 8)),    // fresh -> kept
        doc(3, Array(7, 8)),    // within-stream dup -> dropped by state
        doc(4, Array(9, 9))))   // corpus dup -> dropped
      q.processAllAvailable()
      stream.addData(Seq(doc(5, Array(7, 8)), doc(6, Array(4))))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.sql("SELECT doc_id FROM corpus_dedup_out").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(kept == Seq("d2", "d6"), s"kept: $kept")
  }

  test("streaming multi-set flags == batch contaminatedMulti (cross-batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sets = Seq(
      (100L, "alpha beta gamma delta", "A"),
      (200L, "omega psi chi phi", "B"),
      (201L, "psi chi rho", "B"))
      .toDF("doc_id", "text", "set_id")
    val filters = graft.operators.Decontaminate
      .evalFiltersPerSet(sets, n = 2, fpr = 1e-6)
    assert(filters.keySet == Set("A", "B"))
    val bc = spark.sparkContext.broadcast(filters)
    val rows = Seq(
      (1L, "xx alpha beta yy"),        // hits A once
      (2L, "omega psi chi zz"),        // hits B twice
      (3L, "beta gamma delta psi chi"),// hits A twice AND B once
      (4L, "nothing shared here"),
      (5L, null.asInstanceOf[String]))
    val stream = MemoryStream[(Long, String)]
    val out = StreamingSketches.streamingDecontaminateMultiBc[(Long, String)](
      stream.toDS(), _._1, _._2, bc, n = 2)
    val q = out.writeStream.format("memory").queryName("multi_decon")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows.take(2)); q.processAllAvailable()
      stream.addData(rows.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT * FROM multi_decon").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // the batch operator (exact verify) is the contract
    val expected = graft.operators.Decontaminate
      .contaminatedMulti(rows.toDF("doc_id", "text"), sets, n = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("set_id"),
        r.getAs[Long]("n_overlap").toInt)).toSet
    assert(got == expected, s"got $got expected $expected")
    assert(got.contains((3L, "A", 2)) && got.contains((3L, "B", 1)))
    bc.destroy()
  }

  test("stripMarkup runs unchanged on a stream (stateless projection)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val out = graft.operators.TextAnalysis.stripMarkup(
      stream.toDS().toDF("doc_id", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("strip_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq((1L, "<b>hi</b> there"), (2L, "plain")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT * FROM strip_stream ORDER BY doc_id")
      .collect()
    assert(rows(0).getAs[String]("text_clean") == "hi there")
    assert(rows(0).getAs[Long]("n_tags") == 2L)
    assert(rows(1).getAs[String]("text_clean") == "plain")
  }

  test("windowed drift reader flags the approximate regime per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val stream = MemoryStream[(java.sql.Timestamp, String, Array[Int], Int)]
    // freqK = 8 << the 60-token window vocab: the sketch leaves its
    // exact regime and the reader must SAY so
    val windows = StreamingSketches.windowedSourceSketches(
      stream.toDS().toDF("ts", "source", "tokens", "n_tok"),
      "ts", "10 minutes", "5 minutes", capacity = 1000, fpr = 0.01,
      freqK = 8)
    val q = windows.writeStream.format("memory").queryName("win_approx")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq((ts(1), "s0", (1 to 60).toArray, 60)))
      q.processAllAvailable()
      stream.addData(Seq((ts(29), "s0", Array(500), 1)))
      q.processAllAvailable()
      stream.addData(Seq((ts(31), "s0", Array(600), 1)))
      q.processAllAvailable()
    } finally q.stop()
    val sink = spark.sql(
      "SELECT * FROM win_approx WHERE win_start = '2026-01-01 10:00:00'")
    val ref = (1 to 30).map(t => (t, 1L)).toDF("t", "c_ref")
    val r = graft.operators.Drift.windowedTokenDrift(sink, ref).collect()
    assert(r.length == 1)
    assert(!r.head.getAs[Boolean]("exact"),
      "vocab 60 > freqK 8 must flag the approximate regime")
    // estimates still land in range; the top mover is still reported
    val tv = r.head.getAs[Double]("tv")
    assert(tv >= 0.0 && tv <= 1.0 && r.head.getAs[String]("top_token") != null)
  }

  test("windowed embedding drift == direct drift per finalized window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val refCorpus = Seq((0L, Array(1.0f, 0.25f)), (1L, Array(0.5f, 1.0f)),
      (2L, Array(0.75f, 0.5f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-emb-win-ref").toString
    graft.operators.Drift.writeEmbeddingReference(refCorpus, dir)
    // window A vectors arrive across two micro-batches
    val winVecs = Seq(
      (ts(1), Array(0.1f, 0.9f)), (ts(4), Array(0.3f, 0.7f)),
      (ts(7), Array(0.2f, 0.8f)))
    val stream = MemoryStream[(java.sql.Timestamp, Array[Float])]
    val sums = StreamingSketches.windowedEmbeddingSums(
      stream.toDS().toDF("ts", "embedding"),
      "ts", "10 minutes", "5 minutes")
    val q = sums.writeStream.format("memory").queryName("emb_win_sums")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(winVecs.take(2)); q.processAllAvailable()
      stream.addData(winVecs.drop(2) :+
        ((ts(29), Array(0.0f, 0.0f)))); q.processAllAvailable()
      stream.addData(Seq((ts(31), Array(0.0f, 0.0f))))
      q.processAllAvailable()
    } finally q.stop()
    val sink = spark.sql(
      "SELECT * FROM emb_win_sums WHERE win_start = '2026-01-01 10:00:00'")
    val got = graft.operators.Drift.windowedEmbeddingDrift(sink, dir)
      .collect()
    assert(got.length == 1)
    val g = got.head
    // the direct statistic over the same slice, bit-for-bit
    val direct = graft.operators.Drift.embeddingDrift(refCorpus,
      winVecs.zipWithIndex.map { case ((_, e), i) => (i.toLong, e) }
        .toDF("vec_id", "embedding")).head()
    assert(g.getAs[Long]("n_a") == direct.getAs[Long]("n_a"))
    assert(g.getAs[Long]("n_b") == direct.getAs[Long]("n_b"))
    assert(g.getAs[Double]("cos_means") == direct.getAs[Double]("cos_means"))
    assert(g.getAs[Long]("l1_num") == direct.getAs[Long]("l1_num"))
    assert(g.getAs[Double]("l1_mean_delta") ==
      direct.getAs[Double]("l1_mean_delta"))
    assert(g.getAs[Int]("top_dim") == direct.getAs[Int]("top_dim"))
    assert(g.getAs[Long]("top_delta_num") ==
      direct.getAs[Long]("top_delta_num"))
  }

  test("windowed length drift == reference KS per finalized window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val refCorpus = Seq((0L, "a b c"), (1L, "d e"), (2L, "f g h i j"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-len-win-ref").toString
    graft.operators.Drift.writeReferenceCounts(refCorpus, dir)
    val winDocs = Seq((ts(1), "x y"), (ts(4), "p q r s"), (ts(7), "m n o"))
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val counts = StreamingSketches.windowedLengthCounts(
      stream.toDS().toDF("ts", "text"),
      "ts", "10 minutes", "5 minutes")
    val q = counts.writeStream.format("memory").queryName("len_win")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(winDocs.take(2)); q.processAllAvailable()
      stream.addData(winDocs.drop(2) :+ ((ts(29), "z")))
      q.processAllAvailable()
      stream.addData(Seq((ts(31), "z"))); q.processAllAvailable()
    } finally q.stop()
    val sink = spark.sql(
      "SELECT * FROM len_win WHERE win_start = '2026-01-01 10:00:00'")
    val got = graft.operators.Drift.windowedLengthDrift(sink, dir)
      .collect()
    assert(got.length == 1)
    val g = got.head
    val direct = graft.operators.Drift.lengthDriftVsReference(
      winDocs.zipWithIndex.map { case ((_, t), i) => (i.toLong, t) }
        .toDF("doc_id", "text"), dir).head()
    assert(g.getAs[Long]("n_a") == direct.getAs[Long]("n_a"))
    assert(g.getAs[Long]("n_b") == direct.getAs[Long]("n_b"))
    assert(g.getAs[Long]("ks_num") == direct.getAs[Long]("ks_num"))
    assert(g.getAs[Double]("ks") == direct.getAs[Double]("ks"))
  }

  test("streaming decontamination drops rows overlapping the eval set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((100L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val filter = graft.operators.Decontaminate
      .evalNgramFilter(evalDocs, n = 3, fpr = 1e-6)
    val stream = MemoryStream[(String, String)]
    val out = StreamingSketches.streamingDecontaminate[(String, String)](
      stream.toDS(), _._2, filter, n = 3)
    val q = out.writeStream
      .format("memory").queryName("decon_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      stream.addData(Seq(
        ("d1", "xx alpha beta gamma yy"),   // shares a 3-gram -> dropped
        ("d2", "alpha beta xx gamma"),      // no shared 3-gram -> kept
        ("d3", "short"),                    // too short -> kept
        ("d4", "beta gamma delta and more")))// shares -> dropped
      q.processAllAvailable()
      stream.addData(Seq(
        ("d5", "alpha beta gamma"),        // shares -> dropped
        ("d6", null)))                     // null text -> kept, no NPE
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.sql("SELECT _1 FROM decon_out").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(kept == Seq("d2", "d3", "d6"), s"kept: $kept")
  }

  test("streaming quantiles stay within bound as batches arrive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Double)]
    val updates = StreamingSketches.perKeyQuantiles[(String, Double)](
      stream.toDS(), _._1, _._2)
    val q = updates.writeStream
      .format("memory").queryName("quantile_updates")
      .outputMode(OutputMode.Update())
      .start()
    val data = (0 until 30000).map(i =>
      ("k", graft.core.Hashing.toUnitDouble(graft.core.Hashing.at(23, i))))
    try {
      data.grouped(10000).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val last = spark.sql(
      "SELECT * FROM quantile_updates ORDER BY n DESC LIMIT 1").head()
    assert(last.getAs[Double]("n") == 30000.0)
    assert(math.abs(last.getAs[Double]("p50") - 0.5) < 0.02)
    assert(math.abs(last.getAs[Double]("p99") - 0.99) < 0.005)
  }

  test("watermarked windowed sketches: finalized window == batch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    def row(min: Int, src: String, lo: Int, hi: Int) =
      (ts(min), src, (lo to hi).toArray, hi - lo + 1)
    val stream = MemoryStream[(java.sql.Timestamp, String, Array[Int], Int)]
    val windows = StreamingSketches.windowedSourceSketches(
      stream.toDS().toDF("ts", "source", "tokens", "n_tok"),
      "ts", "10 minutes", "5 minutes", capacity = 1000, fpr = 0.01,
      thetaK = 64, freqK = 256)
    val q = windows.writeStream.format("memory").queryName("win_sketches")
      .outputMode(OutputMode.Append()).start()
    // window A = [10:00, 10:10): rows arrive across TWO micro-batches,
    // so the serialized sketch state must accumulate in the store
    val a1 = Seq(row(1, "s0", 1, 40), row(4, "s0", 21, 60))
    val a2 = Seq(row(7, "s0", 41, 80))
    try {
      stream.addData(a1); q.processAllAvailable()
      stream.addData(a2 :+ row(29, "s0", 500, 510)); q.processAllAvailable()
      // nothing final yet: watermark only advances at batch end, so one
      // more batch is needed before [10:00,10:10) emits
      stream.addData(Seq(row(31, "s0", 600, 610))); q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql(
      """SELECT * FROM win_sketches
        |WHERE win_start = '2026-01-01 10:00:00'""".stripMargin).collect()
    assert(out.length == 1, s"window A must finalize exactly once: " +
      spark.sql("SELECT * FROM win_sketches").collect().mkString(", "))
    val r = out.head
    assert(r.getAs[Long]("n_docs") == 3 && r.getAs[Long]("n_tokens") == 120)
    // batch parity: the same operator over a STATIC frame of window-A
    // rows yields identical panel values (same aggregates, same bits)
    val batch = StreamingSketches.windowedSourceSketches(
      (a1 ++ a2).toDF("ts", "source", "tokens", "n_tok"),
      "ts", "10 minutes", "5 minutes", capacity = 1000, fpr = 0.01,
      thetaK = 64, freqK = 256)
      .collect().head
    assert(r.getAs[Double]("bloom_distinct_est") ==
      batch.getAs[Double]("bloom_distinct_est"))
    assert(r.getAs[Double]("hll_distinct_est") ==
      batch.getAs[Double]("hll_distinct_est"))
    // the theta column accumulated across micro-batches must be the
    // batch sketch BYTE-FOR-BYTE (merge == whole, same bits), and the
    // raw column must stay usable for downstream set algebra
    assert(r.getAs[Array[Byte]]("theta").toSeq ==
      batch.getAs[Array[Byte]]("theta").toSeq)
    assert(r.getAs[Double]("theta_distinct_est") ==
      batch.getAs[Double]("theta_distinct_est"))
    assert(graft.core.ThetaSketch.deserialize(r.getAs[Array[Byte]]("theta"))
      .intersect(graft.core.ThetaSketch.deserialize(
        batch.getAs[Array[Byte]]("theta"))).estimate > 0)
    // freq column: window A has 80 distinct tokens < freqK = 256, so
    // the sketch is in its EXACT regime — byte parity with the batch
    // build is a theorem, and the counts are the exact window counts
    // (token 41..60 appears twice across the overlapping ranges)
    assert(r.getAs[Long]("freq_max_err") == 0L)
    assert(r.getAs[Array[Byte]]("freq").toSeq ==
      batch.getAs[Array[Byte]]("freq").toSeq)
    val fq = graft.core.FreqSketch.deserialize(r.getAs[Array[Byte]]("freq"))
    assert(fq.numEntries == 80 && fq.streamWeight == 120)
    assert(fq.lowerBound(java.lang.Long.valueOf(45L)) == 2L)
    assert(fq.lowerBound(java.lang.Long.valueOf(5L)) == 1L)
    // 80 distinct tokens in window A: estimates in a sane band
    assert(math.abs(r.getAs[Double]("hll_distinct_est") - 80) < 8,
      r.toString)
  }

  test("windowed token drift vs reference off the freq column (exact regime)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    def row(min: Int, src: String, lo: Int, hi: Int) =
      (ts(min), src, (lo to hi).toArray, hi - lo + 1)
    val stream = MemoryStream[(java.sql.Timestamp, String, Array[Int], Int)]
    val windows = StreamingSketches.windowedSourceSketches(
      stream.toDS().toDF("ts", "source", "tokens", "n_tok"),
      "ts", "10 minutes", "5 minutes", capacity = 1000, fpr = 0.01,
      freqK = 256)
    val q = windows.writeStream.format("memory").queryName("win_drift")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq(row(1, "s0", 1, 40), row(4, "s0", 21, 60)))
      q.processAllAvailable()
      stream.addData(Seq(row(7, "s0", 41, 80), row(29, "s0", 500, 510)))
      q.processAllAvailable()
      stream.addData(Seq(row(31, "s0", 600, 610))); q.processAllAvailable()
    } finally q.stop()
    // window A = [10:00,10:10): counts 1..20 -> 1, 21..60 -> 2,
    // 61..80 -> 1, n_tokens = 120; reference = tokens 11..70 once each
    val ref = (11 to 70).map(t => (t, 1L)).toDF("t", "c_ref")
    val sink = spark.sql(
      "SELECT * FROM win_drift WHERE win_start = '2026-01-01 10:00:00'")
    val out = graft.operators.Drift.windowedTokenDrift(sink, ref).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Boolean]("exact"))
    assert(r.getAs[Long]("n_tokens") == 120L)
    assert(r.getAs[Long]("ref_total") == 60L)
    // |c_win*60 - c_ref*120| per token: 60 for 1..20 and 61..80
    // (win-only or count-1-vs-ref), 0 for 21..60 -> tv_num = 40*60
    assert(r.getAs[Long]("tv_num") == 2400L)
    assert(r.getAs[Double]("tv") == 2400.0 / 14400.0)
    // every mover ties at |delta| = 60; ties break toward the SMALLEST
    // rendered token string (the engine-wide smaller-wins convention,
    // ADVICE r05 #2), whose min among {1..20, 61..80} is "1"
    assert(r.getAs[String]("top_token") == "1")
    assert(r.getAs[Long]("top_delta_num") == 60L)
    // the persisted-reference overload yields the same rows: a corpus
    // whose word counts equal the inline ref (each of 11..70 once)
    val refDir = java.nio.file.Files
      .createTempDirectory("graft-win-tok-ref").toString
    graft.operators.Drift.writeReferenceCounts(
      Seq((0L, (11 to 70).mkString(" "))).toDF("doc_id", "text"), refDir)
    val viaIndex = graft.operators.Drift
      .windowedTokenDriftVsReference(sink, refDir).collect()
    assert(viaIndex.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("gopher battery runs unchanged on a stream (stateless projection)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val good = "the of and " + (1 to 60).map(i => s"word$i").mkString(" ")
    // the SAME operator as batch q44 — a pure projection needs no
    // stream-specific variant, which is the point of building it as
    // codegen columns rather than an aggregation
    val flagged = graft.operators.TextAnalysis.gopherQualityFlags(
      stream.toDS().toDF("doc_id", "text"))
    assert(flagged.isStreaming)
    val q = flagged.select("doc_id", "keep").writeStream
      .format("memory").queryName("gopher_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq((0L, good), (1L, "the of too short")))
      q.processAllAvailable()
      val keeps = spark.sql("SELECT doc_id, keep FROM gopher_stream")
        .as[(Long, Boolean)].collect().toMap
      assert(keeps == Map(0L -> true, 1L -> false), s"$keeps")
    } finally q.stop()
  }

  test("blocklist/redaction/line-dedup screens run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // all three are pure codegen projections: the batch operators ARE
    // the streaming operators, no variant needed — composed as one
    // redact -> line-dedup chain plus a blocklist branch
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDS().toDF("doc_id", "text")
    val blk = graft.operators.TextAnalysis.blocklistFlags(df,
      Seq("bad", "very bad"))
    assert(blk.isStreaming)
    val one = graft.operators.TextAnalysis.dedupLinesWithin(
      graft.operators.Redact.scrubPii(df)
        .select(col("doc_id"), col("n_email"),
          col("text_redacted").as("text")))
    assert(one.isStreaming)
    val q = one.writeStream.format("memory").queryName("screen_stream")
      .outputMode(OutputMode.Append()).start()
    val qb = blk.writeStream.format("memory").queryName("blk_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq(
        (0L, "write to a@b.org\nnav bar\nnav bar"),
        (1L, "clean\ntext"),
        (2L, "a very bad doc")))
      q.processAllAvailable(); qb.processAllAvailable()
      val out = spark.sql(
          "SELECT doc_id, text_deduped, n_lines_removed FROM screen_stream")
        .as[(Long, String, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      assert(out(0L) == (("write to <EMAIL>\nnav bar", 1L)), s"$out")
      assert(out(1L) == (("clean\ntext", 0L)))
      val hits = spark.sql("SELECT doc_id, n_hits FROM blk_stream")
        .as[(Long, Long)].collect().toMap
      assert(hits == Map(0L -> 0L, 1L -> 0L, 2L -> 2L), s"$hits")
    } finally { q.stop(); qb.stop() }
  }

  test("streaming near-dup screen flags indexed near-dups per micro-batch") {
    import spark.implicits._
    def words(r: Range, p: String): Seq[String] = r.map(i => s"$p$i")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-neardup-idx").toString
    val corpus = Seq(
      (0L, words(1 to 40, "w").mkString(" "), "s"),
      (1L, words(200 to 240, "v").mkString(" "), "s"),
      (2L, words(300 to 350, "p").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    graft.operators.Dedup.writeDedupIndex(corpus, dir)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, String)]
    val hits = StreamingSketches.streamingDedupNearDup(
      stream.toDS().toDF("doc_id", "text", "source"), dir, threshold = 0.9)
    assert(hits.isStreaming, "the screen must stay a streaming plan")
    val q = hits.writeStream.format("memory").queryName("neardup_hits")
      .outputMode(OutputMode.Append()) // stateless: append works
      .start()
    // batch 1: one near-dup of corpus doc 0 (J = 38/42 = 0.9048), one
    // fresh doc; batch 2: one near-dup of corpus doc 1 (J = 39/43 =
    // 0.907), one fresh doc
    val b1 = Seq(
      (10L, (words(1 to 38, "w") ++ Seq("x1", "x2")).mkString(" "), "s"),
      (11L, words(500 to 540, "q").mkString(" "), "s"))
    val b2 = Seq(
      (12L, (words(200 to 238, "v") ++ Seq("y1", "y2")).mkString(" "), "s"),
      (13L, words(600 to 640, "r").mkString(" "), "s"))
    try {
      stream.addData(b1); q.processAllAvailable()
      val after1 = spark.sql(
        "SELECT DISTINCT doc_id, corpus_id FROM neardup_hits")
        .as[(Long, Long)].collect().toSet
      assert(after1 == Set((10L, 0L)),
        s"batch-1 planted near-dup must be flagged in its batch: $after1")
      stream.addData(b2); q.processAllAvailable()
      val after2 = spark.sql(
        "SELECT DISTINCT doc_id, corpus_id FROM neardup_hits")
        .as[(Long, Long)].collect().toSet
      assert(after2 == Set((10L, 0L), (12L, 1L)), s"$after2")
    } finally q.stop()
    // exact-Jaccard values, not just candidacy
    val j = spark.sql("SELECT DISTINCT doc_id, jaccard FROM neardup_hits")
      .as[(Long, Double)].collect().toMap
    assert(j(10L) == 0.9048 && j(12L) == 0.907, s"$j")
    // batch parity: the flagged set == what dedupIncremental drops for
    // the same snapshot against the same index (no exact/within-snapshot
    // dups planted, so its drops are exactly the corpus near-dup tier)
    val snap = (b1 ++ b2).toDF("doc_id", "text", "source")
    val kept = graft.operators.Dedup.dedupIncremental(snap, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L),
      s"streaming flags {10,12}; batch must drop the same: kept=$kept")
  }

  test("streaming span screen flags verbatim corpus grams per batch") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"boiler$i")
    val corpus = Seq(
      (0L, ((1 to 10).map(i => s"cw$i") ++ span).mkString(" ")),
      (1L, (1 to 20).map(i => s"cx$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-span-idx").toString
    graft.operators.SpanDedup.writeSpanIndex(corpus, dir, minLen = 8)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val hits = StreamingSketches.streamingSpanScreen(
      stream.toDS().toDF("doc_id", "text"), dir)
    assert(hits.isStreaming, "the screen must stay a streaming plan")
    val q = hits.writeStream.format("memory").queryName("span_hits")
      .outputMode(OutputMode.Append()) // stateless: append works
      .start()
    val b1 = Seq(
      (10L, ((1 to 3).map(i => s"sa$i") ++ span).mkString(" ")), // hit
      (11L, (1 to 15).map(i => s"sb$i").mkString(" ")))          // fresh
    val b2 = Seq(
      (12L, (span ++ (1 to 5).map(i => s"sc$i")).mkString(" ")), // hit
      (13L, (1 to 15).map(i => s"sd$i").mkString(" ")))          // fresh
    try {
      stream.addData(b1); q.processAllAvailable()
      val after1 = spark.sql("SELECT DISTINCT doc_id, pos FROM span_hits")
        .as[(Long, Int)].collect().toSet
      assert(after1 == Set((10L, 3)), s"$after1")
      stream.addData(b2); q.processAllAvailable()
      val after2 = spark.sql("SELECT DISTINCT doc_id, pos FROM span_hits")
        .as[(Long, Int)].collect().toSet
      assert(after2 == Set((10L, 3), (12L, 0)), s"$after2")
    } finally q.stop()
    // batch parity: the same snapshot through the batch span operator
    val batch = graft.operators.SpanDedup
      .duplicateSpansVsIndex((b1 ++ b2).toDF("doc_id", "text"), dir)
      .select("doc_id").as[Long].collect().toSet
    assert(batch == Set(10L, 12L), s"$batch")
  }

  test("streaming embedding near-dup screen matches incremental dedup") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-embdup-idx").toString
    def jit(seed: Int, i: Int)(base: Array[Float]): Array[Float] =
      base.zipWithIndex.map { case (v, d) =>
        v + 0.01f * graft.core.Hashing.toUnitDouble(
          graft.core.Hashing.at(seed, i * 8 + d)).toFloat }
    val axis = (d: Int) => Array.tabulate(6)(k => if (k == d) 1.0f else 0.0f)
    val corpus = Seq(
      (0L, jit(11, 0)(axis(0))), (1L, jit(11, 1)(axis(1))),
      (2L, jit(11, 2)(axis(2))))
      .toDF("vec_id", "embedding")
    graft.operators.Dedup.writeEmbDedupIndex(corpus, dir)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    val hits = StreamingSketches.streamingEmbDedupNearDup(
      stream.toDS().toDF("vec_id", "embedding"), dir, threshold = 0.95)
    assert(hits.isStreaming, "the screen must stay a streaming plan")
    val q = hits.writeStream.format("memory").queryName("embdup_hits")
      .outputMode(OutputMode.Append()) // stateless: append works
      .start()
    // batch 1: a near-copy of corpus vec 0 + a fresh direction;
    // batch 2: a near-copy of corpus vec 1 + a fresh direction
    val b1 = Seq((10L, jit(13, 0)(axis(0))), (11L, jit(13, 1)(axis(3))))
    val b2 = Seq((12L, jit(13, 2)(axis(1))), (13L, jit(13, 3)(axis(4))))
    try {
      stream.addData(b1); q.processAllAvailable()
      val after1 = spark.sql(
        "SELECT DISTINCT vec_id, corpus_id FROM embdup_hits")
        .as[(Long, Long)].collect().toSet
      assert(after1 == Set((10L, 0L)),
        s"batch-1 planted near-copy must be flagged in its batch: $after1")
      stream.addData(b2); q.processAllAvailable()
      val after2 = spark.sql(
        "SELECT DISTINCT vec_id, corpus_id FROM embdup_hits")
        .as[(Long, Long)].collect().toSet
      assert(after2 == Set((10L, 0L), (12L, 1L)), s"$after2")
      // exact cosine values ride along with the flags
      val cos = spark.sql(
        "SELECT DISTINCT vec_id, cosine FROM embdup_hits")
        .as[(Long, Double)].collect().toMap
      assert(cos(10L) > 0.99 && cos(12L) > 0.99, s"$cos")
    } finally q.stop()
    // batch parity: the same snapshot through embDedupIncremental drops
    // exactly the streaming-flagged vectors (no within-snapshot dups)
    val snap = (b1 ++ b2).toDF("vec_id", "embedding")
    val kept = graft.operators.Dedup
      .embDedupIncremental(snap, dir, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L),
      s"streaming flags {10,12}; batch must drop the same: kept=$kept")
  }

  test("streaming LM screen keeps exactly the batch scorer's keep set") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def doc(i: Int) = (i.toLong,
      Seq.fill(2 + rnd.nextInt(25))(s"w${rnd.nextInt(40)}").mkString(" "))
    val ref = (0 until 30).map(doc).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-lm").toString
    graft.operators.LmScore.writeLmModel(ref, dir)
    val model = graft.operators.LmScore.loadLmModelLocal(spark, dir)
    // threshold between the score quantiles so both outcomes occur
    val maxBits = 4.9
    val rows = (100 until 160).map(doc) ++
      Seq((200L, "oneword"), (201L, null.asInstanceOf[String]))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val out = StreamingSketches.streamingLmScreen[(Long, String)](
      stream.toDS(), _._2, model, maxBits)
    assert(out.isStreaming, "the screen must stay a streaming plan")
    val q = out.writeStream.format("memory").queryName("lm_kept")
      .outputMode(OutputMode.Append()) // stateless: append works
      .start()
    try {
      stream.addData(rows.take(30)); q.processAllAvailable()
      stream.addData(rows.drop(30)); q.processAllAvailable()
    } finally q.stop()
    val streamKept = spark.sql("SELECT _1 FROM lm_kept").collect()
      .map(_.getLong(0)).sorted.toSeq
    val batchKept = graft.operators.LmScore
      .scoreDocsVsModel(rows.toDF("doc_id", "text"), dir, maxBits)
      .filter(col("keep")).select("doc_id").as[Long].collect()
      .sorted.toSeq
    assert(streamKept == batchKept, s"stream=$streamKept batch=$batchKept")
    assert(streamKept.nonEmpty && streamKept.size < rows.size,
      "threshold must separate the fixture for the test to bite")
  }
}
