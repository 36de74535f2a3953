package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graftsupport.Jobs
import graft.functions.{functions => F}
import graft.sources.TokenDocGen

/** Coverage for the secondary surfaces: typed Dataset views over the
  * native aggregates, and the SQL surface through both entry points
  * (spark.sql.extensions injection and runtime registerAll).
  */
class FacadeSpec extends AnyFunSuite {

  /** A new session, optionally with GraftExtensions: getOrCreate ignores
    * withExtensions when a session already exists (e.g. created by an
    * earlier suite in this JVM), so stop that one first.
    */
  private def freshSession(withGraftExtensions: Boolean): SparkSession = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
    (if (withGraftExtensions) b.withExtensions(new graft.functions.GraftExtensions)
     else b).getOrCreate()
  }

  test("GraftExtensions injects SQL functions at session build time") {
    val spark = freshSession(withGraftExtensions = true)
    try {
      import spark.implicits._
      TokenDocGen.generateDf(spark, 200, 5L, 2)
        .createOrReplaceTempView("t")
      val n = spark.sql(
        """SELECT length(graft_bloom_agg_tokens(tokens, 10000, 0.01)) AS l,
          |       length(graft_hll_agg_tokens(tokens, 12)) AS h
          |FROM t""".stripMargin).head()
      assert(n.getInt(0) > 64)
      assert(n.getInt(1) == 4 + (1 << 12))
      // freq aggregate through SQL: exact regime over the tiny token
      // vocab slice — the sketch must report the same total weight the
      // rows carry (header field, independent of item layout)
      val fq = spark.sql(
        "SELECT graft_freq_agg_tokens(tokens, 8192) AS s FROM t").head()
        .getAs[Array[Byte]](0)
      val fqSk = graft.core.FreqSketch.deserialize(fq)
      val totTok = spark.sql("SELECT sum(n_tok) FROM t").head().getLong(0)
      assert(fqSk.streamWeight == totTok)
      assert(fqSk.numEntries > 0 && fqSk.numEntries <= 8192)
      // native scalar surface: values must match the Scala kernels
      val s = spark.sql(
        """SELECT graft_simhash(graft_tokenize('hello world hello')) AS fp,
          |  graft_hamming64(5, 6) AS hd,
          |  graft_token_hash(42) AS th,
          |  size(graft_minhash_signature(graft_tokenize('a b c'), 32)) AS ms
          |""".stripMargin).head()
      assert(s.getLong(0) == graft.core.SimHash.fingerprintOfTokens(
        graft.sources.TokenDocs.tokenize("hello world hello")))
      assert(s.getInt(1) == 2)
      assert(s.getLong(2) == graft.core.Hashing.tokenHash(42))
      assert(s.getInt(3) == 32)
      // word n-grams lift: same values as the operator's column form
      val ng = spark.sql(
        "SELECT graft_word_ngrams('a b c d a b', 2) AS g").head()
        .getSeq[String](0)
      assert(ng == Seq("a b", "b c", "c d", "d a"), ng)
      // gopher signal kernel from SQL: same layout as the Column form
      val gs = spark.sql(
        "SELECT graft_gopher_signals('the of # ...') AS g").head()
        .getSeq[Long](0)
      assert(gs == Seq(4L, 9L, 2L, 2L, 1L, 0L, 1L, 1L, 1L), gs)
      assert(spark.sql("SELECT graft_seg_token_count('hello, world!') AS c")
        .head().getLong(0) == 4L)
      // span-gram kernels from SQL: seeds match the kernel, verifier
      // returns the indexed window (and null out of range)
      val gh = spark.sql(
        "SELECT graft_gram_hashes('a b c d', 2) AS g").head()
        .getSeq[Long](0)
      assert(gh == graft.functions.kernels.gramHashes(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c d"), 2)
        .toLongArray().toSeq, gh)
      val ga = spark.sql(
        "SELECT graft_gram_at('a b c d', 1, 2) AS g1, " +
          "graft_gram_at('a b c d', 3, 2) AS g2").head()
      assert(ga.getString(0) == "b c" && ga.isNullAt(1), ga.toString)
      // the scalar surface is codegen expressions, not UDFs
      val plan = spark.sql(
        "SELECT graft_simhash(graft_tokenize('x')) FROM t")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("ScalaUDF"), plan)
      // SQL builders coerce input types (an INT column into a
      // double/long-typed aggregate used to ClassCastException)
      val coerced = spark.sql(
        """SELECT length(graft_kll_agg(n_tok)) AS a,
          |       length(graft_tdigest_agg(n_tok)) AS b,
          |       length(graft_bloom_agg_hash(n_tok, 1000, 0.01)) AS c
          |FROM t""".stripMargin).head()
      assert(coerced.getInt(0) > 0 && coerced.getInt(1) > 0 &&
        coerced.getInt(2) > 64)
      // fused panel + partial top-k from SQL
      val panel = spark.sql(
        """SELECT p.bloom, p.hll,
          |  graft_topk_by_score(n_tok, n_tok, 3) AS top
          |FROM (SELECT graft_sketch_panel_agg(tokens, 10000, 0.01) AS p,
          |             first(n_tok) AS n_tok FROM t GROUP BY source)
          |GROUP BY 1, 2 LIMIT 1""".stripMargin)
      assert(panel.head().getAs[scala.collection.Seq[_]]("top").nonEmpty)
    } finally spark.stop()
  }

  test("GraftExtensions and registerAll expose the same graft_* functions") {
    def graftNames(spark: SparkSession): Set[String] =
      spark.catalog.listFunctions().collect().map(_.name)
        .filter(_.startsWith("graft_")).toSet
    def usage(spark: SparkSession, name: String): String =
      spark.sql(s"DESCRIBE FUNCTION $name").collect()
        .map(_.getString(0)).mkString("\n")
    val ext = freshSession(withGraftExtensions = true)
    val (extNames, extHll, extUsage) = try {
      TokenDocGen.generateDf(ext, 200, 5L, 2).createOrReplaceTempView("t")
      // the udf accessors resolve and run in the extension session
      val r = ext.sql(
        """SELECT graft_hll_estimate(s.h) AS e,
          |       graft_bloom_might_contain(s.b, graft_token_hash(0)) AS m,
          |       s.h AS h
          |FROM (SELECT graft_hll_agg_tokens(tokens, 12) AS h,
          |             graft_bloom_agg_tokens(tokens, 10000, 0.01) AS b
          |      FROM t) s""".stripMargin).head()
      assert(r.getDouble(0) ==
        graft.core.HyperLogLog.deserialize(r.getAs[Array[Byte]]("h")).estimate)
      assert(r.getBoolean(1), "token 0 (most frequent) must be present")
      (graftNames(ext), r.getDouble(0), usage(ext, "graft_hll_estimate"))
    } finally ext.stop()
    val rt = freshSession(withGraftExtensions = false)
    graft.functions.sql.registerAll(rt)
    assert(extNames.contains("graft_hll_estimate"))
    assert(extNames.contains("graft_bloom_agg_tokens"))
    assert(extNames.contains("graft_tokenize"))
    assert(graftNames(rt) == extNames,
      s"only ext: ${extNames -- graftNames(rt)}; " +
        s"only registerAll: ${graftNames(rt) -- extNames}")
    // usage strings reach DESCRIBE FUNCTION on both entry points
    for (u <- Seq(extUsage, usage(rt, "graft_hll_estimate")))
      assert(u.contains("graft_hll_estimate(sketch) - HyperLogLog"), u)
    assert(usage(rt, "graft_bloom_agg_tokens")
      .contains("graft_bloom_agg_tokens(tokens, capacity, fpr"))
    // same estimate through registerAll
    TokenDocGen.generateDf(rt, 200, 5L, 2).createOrReplaceTempView("t")
    assert(rt.sql("SELECT graft_hll_estimate(graft_hll_agg_tokens(tokens, " +
      "12)) FROM t").head().getDouble(0) == extHll)
  }

  test("every sketch accessor: one op list, the same value on both surfaces") {
    import graft.core._
    import graft.functions.catalyst.Accessor
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // sketches built by the core classes, over overlapping halves of one stream
    val hs = (0 until 300).map(i => Hashing.tokenHash(i))
    val (a, b) = (hs.take(200), hs.drop(100))
    val (nbits, k) = BloomConfig.optimize(1000, 0.01)
    def bloom(xs: Seq[Long]) = {
      val f = BlockedBloomFilter(nbits, k); xs.foreach(f.add); BloomIO.dump(f)
    }
    def hll(xs: Seq[Long]) = { val s = HyperLogLog(12); xs.foreach(s.add); s.serialize() }
    def theta(xs: Seq[Long]) = { val s = ThetaSketch(64); xs.foreach(s.add); s.serialize() }
    def tuple(xs: Seq[Long]) = {
      val s = TupleSketch(64); xs.foreach(h => s.add(h, 1 + (h & 3))); s.serialize()
    }
    def freq(n: Int) = {
      val s = FreqSketch.strings(8)
      // one heavy item over more light ones than k: bounds are not exact
      (0 until n).foreach(i => s.update(if (i % 3 == 0) "w1" else s"w${i % 17}"))
      s.serialize()
    }
    val cmsSk = CountMinSketch(4, 256); a.foreach(h => cmsSk.add(h))
    val vals = (0 until 1000).map(i => Hashing.toUnitDouble(Hashing.at(5, i)))
    val td = TDigest(100.0); val kl = KllSketch(200)
    vals.foreach { v => td.add(v); kl.add(v) }
    val sk = Map("bl_a" -> bloom(a), "bl_b" -> bloom(b), "hll_a" -> hll(a),
      "hll_b" -> hll(b), "cms" -> cmsSk.serialize(), "th_a" -> theta(a),
      "th_b" -> theta(b), "tu_a" -> tuple(a), "tu_b" -> tuple(b),
      "fq_a" -> freq(300), "fq_b" -> freq(500), "td" -> td.serialize(),
      "kll" -> kl.serialize())
    val (h, n, q, x, item) = (hs(7), 150L, 0.5, 0.25, "w1")
    // the core method itself, over a fresh load of each argument
    def bl(c: String) = BloomIO.load(sk(c))
    def hl(c: String) = HyperLogLog.deserialize(sk(c))
    def th(c: String) = ThetaSketch.deserialize(sk(c))
    def tu(c: String) = TupleSketch.deserialize(sk(c))
    def fq(c: String) = FreqSketch.deserialize(sk(c))
    val cases: Seq[(String, String, Any)] = Seq(
      ("bloom_might_contain", "bl_a, h", bl("bl_a").has(h)),
      ("bloom_cardinality", "bl_a", bl("bl_a").cardinality),
      ("bloom_union", "bl_a, bl_b", BloomIO.dump(bl("bl_a").union(bl("bl_b")))),
      ("bloom_intersect", "bl_a, bl_b",
        BloomIO.dump(bl("bl_a").intersect(bl("bl_b")))),
      ("bloom_num_bits", "bl_a", bl("bl_a").numBits),
      ("bloom_is_empty", "bl_a", bl("bl_a").isEmpty),
      ("bloom_fprate", "bl_a, n", BloomConfig.fpRateAfter(n, nbits, k)),
      ("hll_estimate", "hll_a", hl("hll_a").estimate),
      ("hll_merge", "hll_a, hll_b", hl("hll_a").merge(hl("hll_b")).serialize()),
      ("cms_estimate", "cms, h", CountMinSketch.deserialize(sk("cms")).estimate(h)),
      ("cms_total", "cms", 200L),
      ("theta_estimate", "th_a", th("th_a").estimate),
      ("theta_retained", "th_a", th("th_a").retained),
      ("theta_union", "th_a, th_b", th("th_a").merge(th("th_b")).serialize()),
      ("theta_intersect", "th_a, th_b",
        th("th_a").intersect(th("th_b")).serialize()),
      ("theta_a_not_b", "th_a, th_b", th("th_a").aNotB(th("th_b")).serialize()),
      ("tuple_estimate", "tu_a", tu("tu_a").estimate),
      ("tuple_sum_estimate", "tu_a", tu("tu_a").sumEstimate),
      ("tuple_retained", "tu_a", tu("tu_a").retained),
      ("tuple_union", "tu_a, tu_b", tu("tu_a").merge(tu("tu_b")).serialize()),
      ("tuple_intersect", "tu_a, tu_b",
        tu("tu_a").intersect(tu("tu_b")).serialize()),
      ("tuple_a_not_b", "tu_a, tu_b", tu("tu_a").aNotB(tu("tu_b")).serialize()),
      ("freq_entries", "fq_a", {
        val s = fq("fq_a")
        s.entries.toSeq.map { case (i, lb) =>
          Seq(s.codec.render(i), lb, lb + s.maxError) }
      }),
      ("freq_lower_bound", "fq_a, item", fq("fq_a").lowerBound(item)),
      ("freq_max_error", "fq_a", fq("fq_a").maxError),
      ("freq_stream_weight", "fq_a", 300L),
      ("freq_merge", "fq_a, fq_b", fq("fq_a").merge(fq("fq_b")).serialize()),
      // a decimal literal q is cast to the op's double
      ("tdigest_quantile", "td, 0.5", TDigest.deserialize(sk("td")).quantile(q)),
      ("tdigest_cdf", "td, x", TDigest.deserialize(sk("td")).cdf(x)),
      ("kll_quantile", "kll, 0.5", KllSketch.deserialize(sk("kll")).quantile(q)),
      ("kll_rank", "kll, x", KllSketch.deserialize(sk("kll")).rank(x)))
    assert(cases.map(_._1) == Accessor.all.map(_.name))
    // the case covers both values and results of every kind
    assert(bl("bl_a").has(h) && !bl("bl_a").isEmpty && fq("fq_a").maxError > 0 &&
      fq("fq_a").lowerBound(item) > 0)
    val names = sk.keys.toSeq.sorted
    val schema = StructType(names.map(StructField(_, BinaryType)) ++ Seq(
      StructField("h", LongType), StructField("n", LongType),
      StructField("x", DoubleType), StructField("item", StringType)) ++
      Seq(BinaryType, LongType, DoubleType, StringType)
        .map(t => StructField("null_" + t.typeName, t)))
    val row = Row.fromSeq(names.map(sk) ++ Seq(h, n, x, item, null, null, null, null))
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case r: Row => r.toSeq.map(norm)
      case xs: scala.collection.Seq[_] => xs.map(norm)
      case o => o
    }
    def describe(spark: SparkSession, name: String): String =
      spark.sql(s"DESCRIBE FUNCTION $name").collect()
        .map(_.getString(0)).mkString("\n")
    def check(spark: SparkSession): Unit = {
      // an RDD-backed view runs generated code; a local one is folded
      // by the optimizer through the interpreted eval
      val views = Seq(
        "gen" -> spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), schema),
        "local" -> spark.createDataFrame(java.util.Arrays.asList(row), schema))
      for ((view, df) <- views) {
        df.createOrReplaceTempView("sk")
        for ((op, (name, args, want)) <- Accessor.all.zip(cases)) {
          val argList = args.split(", ").toSeq
          val method = F.getClass.getMethod(name, argList.map(_ => classOf[Column]): _*)
          def both(as: Seq[String]): Seq[Any] = {
            val viaSql = spark.sql(s"SELECT graft_$name(${as.mkString(", ")}) FROM sk")
            val viaCol = df.select(method.invoke(F, as.map(expr): _*).asInstanceOf[Column])
            assert(viaCol.schema.head.dataType == op.dataType, s"$view $name")
            assert(viaCol.columns.head == viaSql.columns.head, s"$view $name")
            Seq(viaSql, viaCol).map(_.head().get(0))
          }
          for (got <- both(argList))
            assert(norm(got) == norm(want), s"$view $name($args)")
          // a null in any argument gives null, never a failed task
          for (i <- argList.indices;
               got <- both(argList.updated(i, "null_" + op.inputs(i).typeName)))
            assert(got == null, s"$view $name with a null argument $i")
        }
      }
      // a saturated filter's +Inf cardinality is null on both surfaces
      val full = BlockedBloomFilter(nbits, k); full.fill()
      spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(BloomIO.dump(full))), 1), StructType(Seq(StructField("d", BinaryType))))
        .createOrReplaceTempView("full")
      assert(spark.sql("SELECT graft_bloom_cardinality(d) FROM full").head().isNullAt(0))
      assert(spark.table("full").select(F.bloom_cardinality(col("d"))).head().isNullAt(0))
      for (op <- Accessor.all) {
        val u = describe(spark, "graft_" + op.name)
        assert(u.contains("graft_" + op.name + op.usage), u)
      }
    }
    val ext = freshSession(withGraftExtensions = true)
    try check(ext) finally ext.stop()
    val rt = freshSession(withGraftExtensions = false)
    graft.functions.sql.registerAll(rt)
    check(rt)
  }

  test("every native kernel: one op list, the same value on both surfaces") {
    import graft.core.{Hashing, MinHash}
    import graft.functions.{expressions => E, kernels}
    import graft.functions.expressions.Kernel
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.sql.registerAll(spark)
    val sig = (0 until 16).map(i => Hashing.at(3, i))
    val input = Seq(
      ("text", StringType, "The cat sat on the mat. • hello ... world # ok"),
      ("url", StringType, "http://www.Example.com:80/a/?utm_source=x&b=2#frag"),
      ("tok", IntegerType, 42), ("pos", IntegerType, 1),
      ("tokens", ArrayType(IntegerType, false), Seq(1, 2, 3, 2, 5)),
      ("hashes", ArrayType(LongType, false), Seq(7L, -3L, 7L, 99L)),
      ("sig", ArrayType(LongType, false), sig),
      ("sig2", ArrayType(LongType, false),
        sig.zipWithIndex.map { case (h, i) => if (i % 3 == 0) h + 1 else h }),
      ("fp", LongType, 123456789L), ("fp2", LongType, 987654321L),
      ("emb", ArrayType(FloatType, false), Seq(0.5f, -1f, 2f, 0.25f)),
      ("emb2", ArrayType(FloatType, false), Seq(1f, 0f, -2f, 0.5f)))
    // the Catalyst value of each input, as a kernel reads it
    val value: Map[String, Any] = input.map { case (name, _, v) => name -> (v match {
      case s: String => UTF8String.fromString(s)
      case xs: Seq[_] => new GenericArrayData(xs.toArray[Any])
      case o => o
    })}.toMap
    def text(v: Any) = v.asInstanceOf[UTF8String]
    def arr(v: Any) = v.asInstanceOf[GenericArrayData]
    // per op: its arguments (columns, then literals), its Column form over
    // the column arguments, the kernel called directly and the unaliased
    // column name, written out: callers read result columns by that name
    val cases: Seq[(String, Seq[Column] => Column, Seq[Any] => Any, String)] = Seq(
      ("tok", c => F.token_hash64(c(0)),
        a => Hashing.splitmix64(a(0).asInstanceOf[Int].toLong),
        "token_hash64(CAST(tok AS INT))"),
      ("text", c => F.fnv_hash64_native(c(0)), a => Hashing.fnv1a64(text(a(0)).getBytes),
        "fnv1a64(CAST(text AS STRING))"),
      ("text, 2", c => E.word_ngrams(c(0), 2), a => kernels.wordNgrams(text(a(0)), 2),
        "graft_word_ngrams(CAST(text AS STRING))"),
      ("text, 2", c => E.word_ngrams_all(c(0), 2),
        a => kernels.wordNgramsAll(text(a(0)), 2),
        "graft_word_ngrams_all(CAST(text AS STRING))"),
      ("text, 2", c => E.gram_hashes(c(0), 2), a => kernels.gramHashes(text(a(0)), 2),
        "graft_gram_hashes(CAST(text AS STRING))"),
      ("text, pos, 2", c => E.gram_at(c(0), c(1), 2),
        a => kernels.gramAt(text(a(0)), a(1).asInstanceOf[Int], 2),
        "graft_gram_at(CAST(text AS STRING), CAST(pos AS INT))"),
      ("text", c => E.seg_token_count(c(0)), a => kernels.segTokenCount(text(a(0))),
        "graft_seg_token_count(CAST(text AS STRING))"),
      ("text", c => E.gopher_signals(c(0)), a => kernels.gopherSignals(text(a(0))),
        "graft_gopher_signals(CAST(text AS STRING))"),
      ("text", c => F.tokenize(c(0)), a => kernels.tokenizeArrayOrEmpty(text(a(0))),
        "graft_tokenize(CAST(text AS STRING))"),
      ("tokens, 16", c => F.minhash_signature(16)(c(0)),
        a => kernels.minhashSignature(arr(a(0)), 16), "minhash_signature(tokens)"),
      ("sig, 4, 4", c => F.minhash_bands(4, 4)(c(0)),
        a => kernels.minhashBands(arr(a(0)), 4, 4), "minhash_bands(sig)"),
      ("tokens, 2", c => F.token_shingles(c(0), 2),
        a => kernels.tokenShingles(arr(a(0)), 2), "token_shingles(tokens)"),
      ("hashes, 16", c => F.minhash_signature_hashes(c(0), 16),
        a => kernels.minhashSignatureHashes(arr(a(0)), 16),
        "minhash_signature_hashes(hashes)"),
      ("tokens", c => F.simhash64(c(0)), a => kernels.simhash64(arr(a(0))),
        "simhash64(tokens)"),
      ("text", c => E.lang_id(c(0)), a => kernels.langId(text(a(0))),
        "graft_lang_id(CAST(text AS STRING))"),
      ("url", c => E.canonical_url(c(0)), a => kernels.canonicalUrl(text(a(0))),
        "graft_canonical_url(CAST(url AS STRING))"),
      ("text", c => E.rolling_fingerprint(c(0)), a => kernels.rollingFp(text(a(0))),
        "graft_rolling_fp(CAST(text AS STRING))"),
      ("hashes", c => E.simhash64_hashes(c(0)), a => kernels.simhash64Hashes(arr(a(0))),
        "simhash64_hashes(hashes)"),
      ("fp, fp2", c => F.hamming64(c(0), c(1)),
        a => java.lang.Long.bitCount(a(0).asInstanceOf[Long] ^ a(1).asInstanceOf[Long]),
        "hamming64(CAST(fp AS BIGINT), CAST(fp2 AS BIGINT))"),
      ("sig, sig2", c => F.minhash_jaccard(c(0), c(1)),
        a => MinHash.estimateJaccard(arr(a(0)).toLongArray(), arr(a(1)).toLongArray()),
        "graft_minhash_jaccard(sig, sig2)"),
      ("emb, emb2", c => F.cosine_sim(c(0), c(1)),
        a => kernels.cosineF(arr(a(0)), arr(a(1))), "cosine_sim(emb, emb2)"),
      ("fp, 3", c => F.simhash_buckets(c(0), 3),
        a => kernels.simhashBucketKeys(a(0).asInstanceOf[Long], 3),
        "simhash_buckets(CAST(fp AS BIGINT))"),
      ("emb, 4, 8, 4", c => F.lsh_band_keys(c(0), 4, 8, 4),
        a => kernels.lshBandKeys(arr(a(0)), 4, 8, 4), "lsh_band_keys(emb)"),
      ("emb, 16, 4", c => F.lsh_signature(c(0), 16, 4),
        a => kernels.lshSignature(arr(a(0)), 16, 4), "lsh_signature(emb)"))
    assert(cases.length == Kernel.all.length)
    // the text ops read a null text as empty; every other argument is
    // null in, null out
    assert(Kernel.all.filter(_.inputs.exists(_.takesNull)).map(_.prettyName) ==
      Seq("graft_word_ngrams", "graft_word_ngrams_all", "graft_gram_hashes",
        "graft_gram_at", "graft_seg_token_count", "graft_gopher_signals",
        "graft_tokenize"))
    assert(Kernel.GramAt.inputs.map(_.takesNull) == Seq(true, false))
    val schema = StructType(input.flatMap { case (name, t, _) =>
      Seq(StructField(name, t), StructField("null_" + name, t)) })
    val row = Row.fromSeq(input.flatMap { case (_, _, v) => Seq(v, null) })
    def norm(v: Any): Any = v match {
      case g: GenericArrayData => g.array.toSeq.map(norm)
      case s: UTF8String => s.toString
      case xs: scala.collection.Seq[_] => xs.map(norm)
      case o => o
    }
    // an RDD-backed view runs generated code; a local one is folded by
    // the optimizer through the interpreted eval
    for ((view, df) <- Seq(
        "gen" -> spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), schema),
        "local" -> spark.createDataFrame(java.util.Arrays.asList(row), schema))) {
      df.createOrReplaceTempView("k")
      for ((op, (args, column, direct, name)) <- Kernel.all.zip(cases)) {
        val (cols, lits) = args.split(", ").toSeq.splitAt(op.inputs.length)
        // the full call, then one call per argument with that column null
        val calls = cols +: cols.indices.map(i => cols.updated(i, "null_" + cols(i)))
        val viaSql = spark.sql("SELECT " + calls.map(c =>
          s"${op.sqlName}(${(c ++ lits).mkString(", ")})").mkString(", ") + " FROM k")
        val viaCol = df.select(calls.map(c => column(c.map(col))): _*)
        for (got <- Seq(viaSql, viaCol)) {
          assert(got.columns.head == name, s"$view ${op.prettyName}")
          assert(got.schema.head.dataType == op.dataType, s"$view ${op.prettyName}")
          val r = got.head()
          val full = cols.map(value)
          assert(norm(r.get(0)) == norm(direct(full)), s"$view ${op.prettyName}($args)")
          for (i <- cols.indices) {
            val want = if (op.inputs(i).takesNull) norm(direct(full.updated(i, null)))
                       else null
            assert(norm(r.get(i + 1)) == want,
              s"$view ${op.prettyName} with a null argument $i")
          }
        }
      }
    }
    // the SQL default numPerms is the Column default, 128
    for ((op, c, arg) <- Seq((Kernel.MinhashSignature, F.minhash_signature()(col("tokens")),
        "tokens"), (Kernel.MinhashSignatureHashes, F.minhash_signature_hashes(col("hashes")),
        "hashes"))) {
      val want = spark.table("k").select(c).head().get(0)
      assert(spark.sql(s"SELECT ${op.sqlName}($arg) FROM k").head().get(0) == want)
      assert(spark.sql(s"SELECT ${op.sqlName}($arg, 128) FROM k").head().get(0) == want)
    }
    for (op <- Kernel.all) {
      val u = spark.sql(s"DESCRIBE FUNCTION ${op.sqlName}").collect()
        .map(_.getString(0)).mkString("\n")
      assert(u.contains(op.sqlName + op.usage), u)
    }
  }

  test("typed Dataset view works through Dataset.groupByKey") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    val ds = TokenDocGen.generate(spark, 500, 9L, 4)
    // a typed Dataset takes the native Column with a typed view
    val typedResult = ds.groupByKey(_.source)
      .agg(F.bloom_agg_tokens(col("tokens"), 10000, 0.01).as[Array[Byte]])
      .collect().toMap
    // equals the untyped DataFrame path bit-for-bit
    val nativeResult = ds.toDF().groupBy(col("source"))
      .agg(F.bloom_agg_tokens(col("tokens"), 10000, 0.01).as("bloom"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("bloom"))
      .toMap
    assert(typedResult.nonEmpty)
    assert(typedResult.keySet == nativeResult.keySet)
    typedResult.foreach { case (k, bytes) =>
      assert(java.util.Arrays.equals(bytes, nativeResult(k)),
        s"typed view diverged from the DataFrame aggregate for $k")
    }
  }

  test("every native sketch aggregate matches its core sketch bit-for-bit") {
    // each F.* builder and union must produce the SAME wire bytes as a
    // direct core-class build over the same rows (divergence guard for
    // the hand-written update loops in catalyst.scala)
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    import graft.core._
    val tokens = (0 until 400).map(i =>
      Array.tabulate(20)(j => (i * 31 + j * 7) % 5000))
    val hashes = tokens.flatten.map(Hashing.tokenHash(_)).toArray
    // several partitions, so every partial -> merge path runs
    val tokDf = tokens.toDF("x").repartition(3)
    val hashDf = hashes.toSeq.toDF("x").repartition(3)
    def one(df: org.apache.spark.sql.DataFrame,
            agg: org.apache.spark.sql.Column): Array[Byte] =
      df.agg(agg).head().getAs[Array[Byte]](0)
    def same(a: Array[Byte], b: Array[Byte]): Boolean =
      java.util.Arrays.equals(a, b)
    // two disjoint halves of the stream, serialized, for the unions
    def halves[S](mk: () => S)(add: (S, Long) => Unit): (S, S) = {
      val a = mk(); val b = mk()
      hashes.zipWithIndex.foreach { case (h, ix) =>
        add(if (ix % 2 == 0) a else b, h)
      }
      (a, b)
    }
    val x = col("x")
    // Bloom: tokens / hash / union forms vs one core build
    val (nbits, k) = BloomConfig.optimize(8000, 0.01)
    val coreBloom = BlockedBloomFilter(nbits, k)
    hashes.foreach(coreBloom.add)
    val bloomDump = BloomIO.dump(coreBloom)
    assert(same(one(tokDf, F.bloom_agg_tokens(x, 8000, 0.01)), bloomDump))
    assert(same(one(hashDf, F.bloom_agg_hash(x, 8000, 0.01)), bloomDump))
    val (bA, bB) = halves(() => BlockedBloomFilter(nbits, k))(_.add(_))
    assert(same(one(Seq(BloomIO.dump(bA), BloomIO.dump(bB)).toDF("x"),
      F.bloom_union_agg(x, nbits, k)), bloomDump))
    // HLL: union is register-max
    val coreHll = HyperLogLog(12)
    hashes.foreach(coreHll.add)
    assert(same(one(tokDf, F.hll_agg_tokens(x, 12)), coreHll.serialize()))
    assert(same(one(hashDf, F.hll_agg_hash(x, 12)), coreHll.serialize()))
    val (hA, hB) = halves(() => HyperLogLog(12))(_.add(_))
    assert(same(one(Seq(hA.serialize(), hB.serialize()).toDF("x"),
      F.hll_union_agg(x, 12)), coreHll.serialize()))
    // CMS: union is counter-add
    val coreCms = CountMinSketch(4, 1 << 12)
    hashes.foreach(h => coreCms.add(h))
    assert(same(one(tokDf, F.cms_agg_tokens(x, 4, 1 << 12)),
      coreCms.serialize()))
    assert(same(one(hashDf, F.cms_agg_hash(x, 4, 1 << 12)),
      coreCms.serialize()))
    val (cA, cB) = halves(() => CountMinSketch(4, 1 << 12))((s, h) => s.add(h))
    assert(same(one(Seq(cA.serialize(), cB.serialize()).toDF("x"),
      F.cms_union_agg(x, 4, 1 << 12)), coreCms.serialize()))
    // Theta: order-insensitive, byte-exact vs the core build
    val coreTheta = ThetaSketch(256)
    hashes.foreach(coreTheta.add)
    assert(same(one(tokDf, F.theta_agg_tokens(x, 256)), coreTheta.serialize()))
    assert(same(one(hashDf, F.theta_agg_hash(x, 256)), coreTheta.serialize()))
    val (tA, tB) = halves(() => ThetaSketch(256))(_.add(_))
    assert(same(one(Seq(tA.serialize(), tB.serialize()).toDF("x"),
      F.theta_union_agg(x, 256)), coreTheta.serialize()))
    // Tuple: order-insensitive keys, ADDITIVE summaries; the union
    // merges two DISJOINT halves (tuple union is not idempotent,
    // unioning the same sketch doubles sums)
    val coreTuple = TupleSketch(256)
    hashes.foreach(h => coreTuple.add(h, 1L))
    assert(same(one(tokDf, F.tuple_agg_tokens(x, 256)), coreTuple.serialize()))
    assert(same(one(hashDf, F.tuple_agg_hash(x, lit(1L), 256)),
      coreTuple.serialize()))
    val (uA, uB) = halves(() => TupleSketch(256))(_.add(_, 1L))
    assert(same(one(Seq(uA.serialize(), uB.serialize()).toDF("x"),
      F.tuple_union_agg(x, 256)), coreTuple.serialize()))
    // Freq (Misra-Gries): in the EXACT regime (distinct <= k at every
    // node) no decrement fires and the state is a pure count map —
    // byte-exact vs the core build at any partitioning
    val coreFreq = FreqSketch.longs(8192)
    tokens.flatten.foreach(t =>
      coreFreq.update(java.lang.Long.valueOf(t.toLong)))
    assert(same(one(tokDf, F.freq_agg_tokens(x, 8192)), coreFreq.serialize()))
    val words = tokens.flatten.map(t => s"w${t % 50}")
    val coreFreqStr = FreqSketch.strings(64)
    words.foreach(coreFreqStr.update(_))
    assert(same(one(words.toDF("x").repartition(3), F.freq_agg_str(x, 64)),
      coreFreqStr.serialize()))
    // freq union of two disjoint halves, both codecs (exact regime)
    val (fA, fB) = (FreqSketch.longs(8192), FreqSketch.longs(8192))
    val (sA, sB) = (FreqSketch.strings(64), FreqSketch.strings(64))
    tokens.flatten.zip(words).zipWithIndex.foreach { case ((t, w), ix) =>
      (if (ix % 2 == 0) fA else fB).update(java.lang.Long.valueOf(t.toLong))
      (if (ix % 2 == 0) sA else sB).update(w)
    }
    assert(same(one(Seq(fA.serialize(), fB.serialize()).toDF("x"),
      F.freq_union_agg(x, 8192)), coreFreq.serialize()))
    assert(same(one(Seq(sA.serialize(), sB.serialize()).toDF("x"),
      F.freq_union_agg(x, 64, stringItems = true)), coreFreqStr.serialize()))
    // a mismatched codec fails loudly
    val mismatch = intercept[Exception](
      one(Seq(sA.serialize()).toDF("x"), F.freq_union_agg(x, 64)))
    assert(causes(mismatch).exists(_.contains("item-type mismatch")),
      causes(mismatch))
    // t-digest / KLL merges are order-sensitive, so compare estimates
    // (rank-level agreement), not bytes
    val vals = (0 until 4000).map(i => Hashing.toUnitDouble(Hashing.at(3, i)))
    val valDf = vals.toDF("x").repartition(3)
    val tdBytes = one(valDf, F.tdigest_agg(x, 100.0))
    assert(math.abs(TDigest.deserialize(tdBytes).quantile(0.5) - 0.5) < 0.05)
    val kllBytes = one(valDf, F.kll_agg(x, 200))
    assert(math.abs(KllSketch.deserialize(kllBytes).quantile(0.5) - 0.5) < 0.05)
    // MinHash: the set signature of the token union, with the udaf's
    // old output schema (array<bigint> without null elements)
    val sigDf = tokDf.agg(F.minhash_agg_tokens(x, 64).as("sig"))
    assert(sigDf.schema("sig").dataType == org.apache.spark.sql.types
      .ArrayType(org.apache.spark.sql.types.LongType, containsNull = false))
    assert(sigDf.head().getSeq[Long](0) ==
      MinHash.signatureOfTokens(tokens.flatten.distinct.toArray, 64).toSeq)
    // every SQL aggregate returns its Column twin's value over the same
    // rows, once with default arguments and once with all of them given
    graft.functions.sql.registerAll(spark)
    def view(name: String, df: org.apache.spark.sql.DataFrame): String = {
      df.createOrReplaceTempView(name); name
    }
    val tok = view("tok", tokDf)
    val hsh = view("hsh", hashDf)
    val vls = view("vls", valDf)
    val wrd = view("wrd", words.toDF("x").repartition(3))
    // <= 500 distinct tokens: freq sketches stay exact at k = 1024
    val ftok = view("ftok", tokens.map(_.map(_ % 500)).toDF("x").repartition(3))
    // dumps of two disjoint halves of a view, for the unions
    def dumps(name: String, of: String, build: org.apache.spark.sql.Column) =
      view(name, Seq(0, 1).map(h => one(spark.table(of)
        .where(pmod(hash(x), lit(2)) === h), build)).toDF("x"))
    val twins = Seq(
      ("graft_bloom_agg_tokens", tok, "x, 8000, 0.01",
        F.bloom_agg_tokens(x, 8000, 0.01)),
      ("graft_bloom_agg_tokens", tok, "x, 8000, 0.01, 4096",
        F.bloom_agg_tokens(x, 8000, 0.01, 4096)),
      ("graft_bloom_agg_hash", hsh, "x, 8000, 0.01",
        F.bloom_agg_hash(x, 8000, 0.01)),
      ("graft_bloom_agg_hash", hsh, "x, 8000, 0.01, 4096",
        F.bloom_agg_hash(x, 8000, 0.01, 4096)),
      ("graft_bloom_union_agg", dumps("bd", hsh, F.bloom_agg_hash(x, 8000, 0.01)),
        "x, 8000, 0.01", F.bloom_union_agg(x, nbits, k)),
      ("graft_hll_agg_tokens", tok, "x", F.hll_agg_tokens(x)),
      ("graft_hll_agg_tokens", tok, "x, 12", F.hll_agg_tokens(x, 12)),
      ("graft_hll_agg_hash", hsh, "x", F.hll_agg_hash(x)),
      ("graft_hll_agg_hash", hsh, "x, 12", F.hll_agg_hash(x, 12)),
      ("graft_hll_union_agg", dumps("hd", hsh, F.hll_agg_hash(x)), "x",
        F.hll_union_agg(x)),
      ("graft_hll_union_agg", dumps("hd12", hsh, F.hll_agg_hash(x, 12)),
        "x, 12", F.hll_union_agg(x, 12)),
      ("graft_cms_agg_tokens", tok, "x", F.cms_agg_tokens(x)),
      ("graft_cms_agg_tokens", tok, "x, 4, 4096", F.cms_agg_tokens(x, 4, 4096)),
      ("graft_cms_agg_hash", hsh, "x", F.cms_agg_hash(x)),
      ("graft_cms_agg_hash", hsh, "x, 4, 4096", F.cms_agg_hash(x, 4, 4096)),
      ("graft_cms_union_agg", dumps("cd", hsh, F.cms_agg_hash(x)), "x",
        F.cms_union_agg(x)),
      ("graft_cms_union_agg", dumps("cd4", hsh, F.cms_agg_hash(x, 4, 4096)),
        "x, 4, 4096", F.cms_union_agg(x, 4, 4096)),
      ("graft_theta_agg_tokens", tok, "x", F.theta_agg_tokens(x)),
      ("graft_theta_agg_tokens", tok, "x, 256", F.theta_agg_tokens(x, 256)),
      ("graft_theta_agg_hash", hsh, "x", F.theta_agg_hash(x)),
      ("graft_theta_agg_hash", hsh, "x, 256", F.theta_agg_hash(x, 256)),
      ("graft_theta_union_agg", dumps("td", hsh, F.theta_agg_hash(x)), "x",
        F.theta_union_agg(x)),
      ("graft_theta_union_agg", dumps("td256", hsh, F.theta_agg_hash(x, 256)),
        "x, 256", F.theta_union_agg(x, 256)),
      ("graft_tuple_agg_hash", hsh, "x, 1", F.tuple_agg_hash(x, lit(1))),
      ("graft_tuple_agg_hash", hsh, "x, 1, 256",
        F.tuple_agg_hash(x, lit(1), 256)),
      ("graft_tuple_agg_tokens", tok, "x", F.tuple_agg_tokens(x)),
      ("graft_tuple_agg_tokens", tok, "x, 256", F.tuple_agg_tokens(x, 256)),
      ("graft_tuple_union_agg", dumps("ud", hsh, F.tuple_agg_hash(x, lit(1))), "x",
        F.tuple_union_agg(x)),
      ("graft_tuple_union_agg", dumps("ud256", hsh, F.tuple_agg_hash(x, lit(1), 256)),
        "x, 256", F.tuple_union_agg(x, 256)),
      ("graft_freq_agg_tokens", ftok, "x", F.freq_agg_tokens(x)),
      ("graft_freq_agg_tokens", ftok, "x, 8192", F.freq_agg_tokens(x, 8192)),
      ("graft_freq_agg_str", wrd, "x", F.freq_agg_str(x)),
      ("graft_freq_agg_str", wrd, "x, 64", F.freq_agg_str(x, 64)),
      ("graft_freq_union_agg", dumps("fd", ftok, F.freq_agg_tokens(x)), "x",
        F.freq_union_agg(x)),
      ("graft_freq_union_agg", dumps("sd", wrd, F.freq_agg_str(x, 64)),
        "x, 64, true", F.freq_union_agg(x, 64, stringItems = true)),
      ("graft_freq_union_agg", "sd", "x, 64, 1",
        F.freq_union_agg(x, 64, stringItems = true)),
      ("graft_tdigest_agg", vls, "x", F.tdigest_agg(x)),
      ("graft_tdigest_agg", vls, "x, 50.0", F.tdigest_agg(x, 50.0)),
      ("graft_kll_agg", vls, "x", F.kll_agg(x)),
      ("graft_kll_agg", vls, "x, 100", F.kll_agg(x, 100)),
      ("graft_minhash_agg_tokens", tok, "x", F.minhash_agg_tokens(x)),
      ("graft_minhash_agg_tokens", tok, "x, 64", F.minhash_agg_tokens(x, 64)),
      ("graft_sketch_panel_agg", tok, "x, 8000, 0.01",
        F.sketch_panel_agg(x, 8000, 0.01)),
      ("graft_sketch_panel_agg", tok, "x, 8000, 0.01, 12, 4, 4096",
        F.sketch_panel_agg(x, 8000, 0.01, 12, 4, 4096)),
      ("graft_topk_by_score", hsh, "x, x, 5", F.topk_by_score(x, x, 5)))
    assert(twins.map(_._1).toSet ==
      graft.functions.sql.aggregateBuilders.keySet)
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case r: org.apache.spark.sql.Row => r.toSeq.map(norm)
      case xs: scala.collection.Seq[_] => xs.map(norm)
      case o => o
    }
    for ((name, from, args, twin) <- twins) {
      val got = spark.sql(s"SELECT $name($args) FROM $from").head().get(0)
      val wantDf = spark.table(from).agg(twin)
      // the generated column name is the aggregate's prettyName
      assert(wantDf.columns.head.startsWith(name.stripPrefix("graft_") + "("),
        wantDf.columns.head)
      val want = wantDf.head().get(0)
      val median: Array[Byte] => Double = name match {
        case "graft_tdigest_agg" => TDigest.deserialize(_).quantile(0.5)
        case "graft_kll_agg" => KllSketch.deserialize(_).quantile(0.5)
        case _ => null
      }
      if (median == null) assert(norm(got) == norm(want), s"$name($args)")
      else assert(math.abs(median(got.asInstanceOf[Array[Byte]]) -
        median(want.asInstanceOf[Array[Byte]])) < 0.05, s"$name($args)")
    }
  }

  /** Messages of an exception and its causes: Spark may wrap what a
    * builder or aggregate throws.
    */
  private def causes(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  test("SQL builders reject bad arguments loudly") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.sql.registerAll(spark)
    TokenDocGen.generateDf(spark, 50, 5L, 2).createOrReplaceTempView("t")
    // each error names the function, the argument count and the usage
    def rejects(call: String, count: Int, usage: String): Unit = {
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM t").collect())
      assert(causes(e).exists(m => m.contains(s"$count arguments given") &&
        m.contains(usage)), causes(e))
    }
    // too few arguments
    rejects("graft_topk_by_score(n_tok, n_tok)", 2,
      "graft_topk_by_score(score, id, k)")
    // extra arguments
    rejects("graft_hll_agg_hash(n_tok, 14, 99)", 3, "graft_hll_agg_hash(hash64[, p])")
    // a sizing literal outside int range (4294967310 truncates to 14)
    rejects("graft_hll_agg_tokens(tokens, 4294967310)", 2,
      "graft_hll_agg_tokens(tokens[, p])")
    // udf accessors, extra and missing arguments
    rejects("graft_hll_estimate(graft_hll_agg_tokens(tokens), 3)", 2,
      "graft_hll_estimate(sketch)")
    rejects("graft_kll_quantile(graft_kll_agg(n_tok))", 1,
      "graft_kll_quantile(sketch, q)")
  }

  test("a bad sizing literal fails before any job starts") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.sql.registerAll(spark)
    TokenDocGen.generateDf(spark, 50, 5L, 2).createOrReplaceTempView("t")
    val tokens = col("tokens")
    val value = col("n_tok").cast("double")
    val (_, jobs) = Jobs.recorded(spark.sparkContext) {
      val columns = Seq[(() => Column, String)](
        (() => F.hll_agg_tokens(tokens, 99), "HLL precision 99"),
        (() => F.hll_union_agg(col("s"), 3), "HLL precision 3"),
        (() => F.cms_agg_tokens(tokens, 0), "CMS depth 0"),
        (() => F.cms_agg_tokens(tokens, 4, 1), "CMS width 1"),
        (() => F.theta_agg_tokens(tokens, 8), "theta sketch k 8"),
        (() => F.tuple_agg_tokens(tokens, 8), "tuple sketch k 8"),
        (() => F.freq_agg_tokens(tokens, 4), "freq sketch k 4"),
        (() => F.tdigest_agg(value, 5.0), "compression 5.0"),
        (() => F.kll_agg(value, 4), "KLL k=4"),
        (() => F.bloom_union_agg(col("s"), Long.MaxValue, 3), "MaxBits"),
        // kernel literals, checked when the expression is built
        (() => F.minhash_signature(-1)(tokens), "numPerms must be in [1, 512], got -1"),
        (() => F.minhash_signature_hashes(col("h"), 600),
          "numPerms must be in [1, 512], got 600"),
        (() => F.minhash_bands(0, 4)(col("s")), "numBands must be >= 1, got 0"),
        (() => F.minhash_bands(4, 0)(col("s")), "rowsPerBand must be >= 1, got 0"),
        (() => F.token_shingles(tokens, 0), "n must be >= 1, got 0"),
        (() => F.simhash_buckets(col("h"), 32), "maxHamming must be in [0, 31], got 32"),
        (() => F.lsh_band_keys(col("e"), 0, 8, 4), "numBands must be >= 1, got 0"),
        (() => F.lsh_band_keys(col("e"), 2, 60, 4), "bitsPerBand must be in [1, 56], got 60"),
        (() => F.lsh_band_keys(col("e"), 4, 8, 0), "dim must be >= 1, got 0"),
        (() => F.lsh_signature(col("e"), 128, 4), "nbits must be in [1, 64], got 128"),
        (() => F.lsh_signature(col("e"), 0, 4), "nbits must be in [1, 64], got 0"))
      columns.foreach { case (build, why) =>
        val e = intercept[IllegalArgumentException](build())
        assert(e.getMessage.contains(why), e.getMessage)
      }
      for ((call, why) <- Seq(
          ("graft_hll_agg_tokens(tokens, 99)", "HLL precision 99"),
          ("graft_minhash_signature(tokens, 1000)", "numPerms must be in [1, 512]"),
          ("graft_minhash_signature(tokens, -1)", "numPerms must be in [1, 512]"),
          ("graft_minhash_bands(array(1L, 2L), 0, 4)", "numBands must be >= 1"),
          ("graft_lsh_band_keys(array(1.0, 2.0), 2, 60, 4)",
            "bitsPerBand must be in [1, 56]"))) {
        val e = intercept[Exception](spark.sql(s"SELECT $call FROM t").collect())
        assert(causes(e).exists(_.contains(why)), causes(e))
      }
    }
    assert(jobs.isEmpty, s"jobs started: $jobs")
  }
}
