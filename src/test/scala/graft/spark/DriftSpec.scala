package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Drift, TextAnalysis}

/** Drift monitors and collocation/keyness stats on constructed corpora
  * with hand-computed answers — the exact-arithmetic complement to the
  * q78-q82 DuckDB oracle replay.
  */
class DriftSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("tokenDrift: identical snapshots have zero deltas, unit lift") {
    val a = docs(0L -> "x y z", 1L -> "x x y")
    val rep = Drift.tokenDrift(a, a, topK = 10).collect()
    assert(rep.length == 3)
    rep.foreach { r =>
      assert(r.getAs[Long]("delta_num") == 0L)
      assert(r.getAs[Double]("lift") == 1.0)
      assert(r.getAs[Double]("p_a") == r.getAs[Double]("p_b"))
    }
  }

  test("tokenDrift: planted shift ranks the moved word first, exact numbers") {
    // A: x*4 y*2; B: x*1 y*2 z*3  (totA=6, totB=6)
    val a = docs(0L -> "x x x x y y")
    val b = docs(1L -> "x y y z z z")
    val rep = Drift.tokenDrift(a, b, topK = 10).collect()
    // deltas: x: 4*6-1*6=18, z: 0*6-3*6=-18, y: 2*6-2*6=0
    // |18| ties break on the word: "x" < "z"
    assert(rep.map(_.getAs[String]("word")).toSeq == Seq("x", "z", "y"))
    val x = rep(0)
    assert(x.getAs[Long]("delta_num") == 18L)
    assert(x.getAs[Double]("p_a") == 4.0 / 6.0)
    assert(x.getAs[Double]("p_b") == 1.0 / 6.0)
    // smoothed lift, V=3: (4+1)*(6+3) / ((1+1)*(6+3)) = 45/18
    assert(x.getAs[Double]("lift") == 45.0 / 18.0)
    assert(rep(1).getAs[Long]("delta_num") == -18L)
  }

  test("driftSummary: zero on identical snapshots, exact TV on a planted one") {
    val a = docs(0L -> "x x x x y y")
    val same = Drift.driftSummary(a, a).head()
    assert(same.getAs[Long]("tv_num") == 0L)
    assert(same.getAs[Double]("tv") == 0.0)
    assert(same.getAs[Long]("kl_ab_num") == 0L)
    assert(same.getAs[Long]("kl_ba_num") == 0L)

    val b = docs(1L -> "x y y z z z")
    val s = Drift.driftSummary(a, b).head()
    assert(s.getAs[Long]("tot_a") == 6L && s.getAs[Long]("tot_b") == 6L)
    assert(s.getAs[Long]("vocab_a") == 2L && s.getAs[Long]("vocab_b") == 3L)
    assert(s.getAs[Long]("vocab_union") == 3L)
    // tv_num = |18| + |0| + |-18| = 36; tv = 36/(2*6*6) = 0.5
    assert(s.getAs[Long]("tv_num") == 36L)
    assert(s.getAs[Double]("tv") == 0.5)
    // bucketed KL(A||B), V=3: per word c_a*(blog2((c_a+1)*9)-blog2((c_b+1)*9))
    //  x: 4*(blog2(45)-blog2(18)) = 4*(5-4) = 4
    //  y: 2*(blog2(27)-blog2(27)) = 0 ; z: c_a=0 contributes 0
    assert(s.getAs[Long]("kl_ab_num") == 4L)
    assert(s.getAs[Double]("kl_ab_bits") == 4.0 / 6.0)
    // KL(B||A): x: 1*(blog2(18)-blog2(45)) = -1; y: 0;
    //  z: 3*(blog2(36)-blog2(9)) = 3*(5-3) = 6  => 5
    assert(s.getAs[Long]("kl_ba_num") == 5L)
  }

  test("klPrecise: matches driver-side recomputation; buckets within 1 bit") {
    val a = docs(0L -> "x x x x y y", 1L -> "q r s t t")
    val b = docs(2L -> "x y y z z z", 3L -> "q q t u")
    val cnt = Drift.wordCounts(a, b)
    val rows = cnt.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val totA = rows.map(_._2).sum
    val totB = rows.map(_._3).sum
    val v = rows.length.toLong
    def kl(side: ((String, Long, Long)) => Long, tot: Long,
           oSide: ((String, Long, Long)) => Long, oTot: Long): Double =
      rows.map { r =>
        side(r) * (math.log((side(r) + 1).toDouble * (oTot + v)) -
          math.log((oSide(r) + 1).toDouble * (tot + v)))
      }.sum / tot
    val p = Drift.klPrecise(cnt).head()
    val expAb = kl(_._2, totA, _._3, totB)
    val expBa = kl(_._3, totB, _._2, totA)
    assert(math.abs(p.getAs[Double]("kl_ab_nats") - expAb) < 1e-9)
    assert(math.abs(p.getAs[Double]("kl_ba_nats") - expBa) < 1e-9)
    // bucketed bits vs precise: within 1 bit (per-term floor-log2
    // error in (-1,1), weights sum to <= 1)
    val s = Drift.driftSummaryFromCounts(cnt).head()
    assert(math.abs(s.getAs[Double]("kl_ab_bits") -
      expAb / math.log(2)) < 1.0)
    assert(math.abs(s.getAs[Double]("kl_ba_bits") -
      expBa / math.log(2)) < 1.0)
  }

  test("lengthDrift: zero KS on same lengths, 1.0 on disjoint, gate holds") {
    val a = docs(0L -> "a b c", 1L -> "d e")        // lengths 3, 2
    val b = docs(2L -> "f g h", 3L -> "i j")        // lengths 3, 2
    val same = Drift.lengthDrift(a, b).head()
    assert(same.getAs[Long]("ks_num") == 0L)
    assert(same.getAs[Double]("ks") == 0.0)
    assert(same.getAs[Boolean]("kll_ks_ok"))

    val c = docs(4L -> "k l m n o p", 5L -> "q r s t u v w")  // 6, 7
    val far = Drift.lengthDrift(a, c).head()
    assert(far.getAs[Double]("ks") == 1.0)
    assert(far.getAs[Boolean]("kll_ks_ok"))
  }

  test("lengthDrift: KLL estimate tracks exact KS on a shifted corpus") {
    // 2000 docs of length ~U[10,60] vs ~U[30,80]: true KS ~ 0.4
    def mk(seed: Int, lo: Int, hi: Int) = {
      val rnd = new scala.util.Random(seed)
      (0 until 2000).map { i =>
        val len = lo + rnd.nextInt(hi - lo)
        (i.toLong, Seq.fill(len)("w").mkString(" "))
      }
    }
    val a = docs(mk(1, 10, 60): _*)
    val b = docs(mk(2, 30, 80): _*)
    val r = Drift.lengthDrift(a, b).head()
    assert(r.getAs[Double]("ks") > 0.3 && r.getAs[Double]("ks") < 0.5)
    assert(r.getAs[Boolean]("kll_ks_ok"),
      s"KLL KS estimate outside the 0.08 gate of exact ${r.getAs[Double]("ks")}")
  }

  test("shared wordCounts frame: FromCounts paths equal the direct ones") {
    val a = docs(0L -> "x x x x y y", 1L -> "q r s")
    val b = docs(2L -> "x y y z z z", 3L -> "q q t")
    val cnt = Drift.wordCounts(a, b)
    val direct = Drift.tokenDrift(a, b, 10).collect().toSeq
    val shared = Drift.tokenDriftFromCounts(cnt, 10).collect().toSeq
    assert(direct == shared)
    assert(Drift.driftSummary(a, b).collect().toSeq ==
      Drift.driftSummaryFromCounts(cnt).collect().toSeq)
  }

  test("randomized: drift theorems hold across random corpora") {
    // theorems, not tolerances: a single counterexample is a bug
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def corpus(off: Int) = docs((0 until 3 + rnd.nextInt(4)).map { i =>
        (off + i).toLong ->
          Seq.fill(5 + rnd.nextInt(40))(s"w${rnd.nextInt(12)}")
            .mkString(" ")
      }: _*)
      val a = corpus(0)
      val b = corpus(100)
      val sAB = Drift.driftSummary(a, b).head()
      val sBA = Drift.driftSummary(b, a).head()
      // TV is a metric: symmetric, in [0,1]
      assert(sAB.getAs[Long]("tv_num") == sBA.getAs[Long]("tv_num"))
      val tv = sAB.getAs[Double]("tv")
      assert(tv >= 0.0 && tv <= 1.0, s"seed $seed: tv $tv")
      // bucketed KL reverses direction exactly
      assert(sAB.getAs[Long]("kl_ab_num") == sBA.getAs[Long]("kl_ba_num"))
      assert(sAB.getAs[Long]("kl_ba_num") == sBA.getAs[Long]("kl_ab_num"))
      // the per-word deltas are a decomposition of zero:
      // sum(c_a*totB - c_b*totA) = totA*totB - totB*totA
      val full = Drift.tokenDrift(a, b, topK = 1000).collect()
      assert(full.map(_.getAs[Long]("delta_num")).sum == 0L,
        s"seed $seed: deltas must sum to zero")
      // proportional corpora are zero-TV: B = A twice (bucketed KL is
      // NOT exactly zero here — the +1-smoothed floor-log2 arguments
      // can straddle a power of two — so only TV is asserted)
      val aTwice = a.union(a.withColumn("doc_id", col("doc_id") + 1000))
      val prop = Drift.driftSummary(a, aTwice).head()
      assert(prop.getAs[Long]("tv_num") == 0L, s"seed $seed")
      // KS: identity is zero, range is [0,1], the gate is a theorem in
      // the exact-sketch regime these sizes sit in
      val ks0 = Drift.lengthDrift(a, a).head()
      assert(ks0.getAs[Long]("ks_num") == 0L)
      val ks = Drift.lengthDrift(a, b).head()
      val ksV = ks.getAs[Double]("ks")
      assert(ksV >= 0.0 && ksV <= 1.0 && ks.getAs[Boolean]("kll_ks_ok"),
        s"seed $seed: ks $ksV")
    }
  }

  test("reference index crash recovery: pointer swap heals both ways") {
    val a = docs(0L -> "x x y")
    val b = docs(1L -> "z z z")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-drift-heal").toString
    Drift.writeReferenceCounts(a, dir)
    def counts(): Map[String, Long] =
      Drift.readReferenceCounts(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts() == Map("x" -> 2L, "y" -> 1L))
    val conf = spark.sessionState.newHadoopConf()
    val cur = new org.apache.hadoop.fs.Path(s"$dir/_current")
    val next = new org.apache.hadoop.fs.Path(s"$dir/_current.next")
    val f = cur.getFileSystem(conf)
    // crash AFTER staging a rebuild, BEFORE the pointer swap started:
    // the staged version and pointer are garbage, old baseline survives
    Seq(("z", 9L)).toDF("w", "c").write.parquet(s"$dir/v=99/counts")
    Seq(99L).toDF("version").write.parquet(next.toString)
    assert(counts() == Map("x" -> 2L, "y" -> 1L))
    assert(!f.exists(next))
    // crash BETWEEN delete(_current) and the rename: only the staged
    // pointer exists -> the swap passed the point of no return, roll
    // it forward (the staged version dir is complete by write order)
    Seq(99L).toDF("version").coalesce(1)
      .write.mode("overwrite").parquet(next.toString)
    f.delete(cur, true)
    assert(counts() == Map("z" -> 9L))
    // a re-run write lands cleanly on the healed state and GCs every
    // superseded version dir (the crash leftovers included)
    Drift.writeReferenceCounts(b, dir)
    assert(counts() == Map("z" -> 3L))
    val vDirs = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("v=")).toSet
    assert(vDirs == Set("v=100"), s"GC must keep only the live version: $vDirs")
  }

  test("embeddingDrift: orthogonal snapshots, identity, exact integers") {
    val a = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val b = Seq((1L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val r = Drift.embeddingDrift(a, b).head()
    assert(r.getAs[Double]("cos_means") == 0.0)
    assert(r.getAs[Long]("l1_num") == 2048L)
    assert(r.getAs[Double]("l1_mean_delta") == 2.0)
    // |delta| ties at 1024 on both dims; the SMALLER dim wins (the
    // engine-wide tie convention)
    assert(r.getAs[Int]("top_dim") == 0)
    assert(r.getAs[Long]("top_delta_num") == 1024L)
    val same = Drift.embeddingDrift(a, a).head()
    assert(same.getAs[Long]("l1_num") == 0L)
    // sqrt(x)*sqrt(x) may differ from x in the last ulp — cosine of
    // identical sides is 1 only to that precision
    assert(math.abs(same.getAs[Double]("cos_means") - 1.0) < 1e-12)
  }

  test("embedding reference index reproduces direct drift; swap heals") {
    val a = Seq((0L, Array(1.0f, 0.5f)), (2L, Array(0.5f, 1.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-emb-ref").toString
    Drift.writeEmbeddingReference(a, dir)
    assert(Drift.embeddingDriftVsReference(b, dir).collect().toSeq ==
      Drift.embeddingDrift(a, b).collect().toSeq)
    // a half-staged rebuild beside the live table is dropped on read
    val conf = spark.sessionState.newHadoopConf()
    val next = new org.apache.hadoop.fs.Path(s"$dir/sums.next")
    Seq((0, 9999L, 1L)).toDF("dim", "s", "n_vecs")
      .write.parquet(next.toString)
    assert(Drift.embeddingDriftVsReference(b, dir).collect().toSeq ==
      Drift.embeddingDrift(a, b).collect().toSeq)
    assert(!next.getFileSystem(conf).exists(next))
  }

  test("windowedEmbeddingDrift refuses ragged per-dim counts") {
    val a = Seq((0L, Array(1.0f, 0.5f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-emb-ragged").toString
    Drift.writeEmbeddingReference(a, dir)
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 10:10:00")
    val bad = Seq((ts0, ts1, 0, 100L, 3L), (ts0, ts1, 1, 100L, 2L))
      .toDF("win_start", "win_end", "dim", "s", "n_vecs")
    val ex = intercept[Exception] {
      Drift.windowedEmbeddingDrift(bad, dir).collect()
    }
    assert(ex.getMessage != null)
    // uniform counts pass through unchanged
    val ok = Seq((ts0, ts1, 0, 100L, 3L), (ts0, ts1, 1, 100L, 3L))
      .toDF("win_start", "win_end", "dim", "s", "n_vecs")
    assert(Drift.windowedEmbeddingDrift(ok, dir).collect().length == 1)
  }

  test("windowedEmbeddingDrift keeps window dims absent from the reference") {
    // the encoder-upgrade scenario (ADVICE r05 #1): the window carries a
    // dim the persisted baseline has never seen; the statistic must
    // equal the batch embeddingDrift (full_outer dim grid) bit-for-bit,
    // not silently drop the new dim
    val a = Seq((0L, Array(1.0f, 0.5f))).toDF("vec_id", "embedding")
    val b = Seq((1L, Array(0.5f, 1.0f, 2.0f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-emb-newdim").toString
    Drift.writeEmbeddingReference(a, dir)
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 10:10:00")
    // window sums exactly as windowedEmbeddingSums would emit them for b
    val w = Seq((ts0, ts1, 0, 512L, 1L), (ts0, ts1, 1, 1024L, 1L),
        (ts0, ts1, 2, 2048L, 1L))
      .toDF("win_start", "win_end", "dim", "s", "n_vecs")
    val got = Drift.windowedEmbeddingDrift(w, dir).head()
    val want = Drift.embeddingDrift(a, b).head()
    for (c <- Seq("n_a", "n_b", "l1_num"))
      assert(got.getAs[Long](c) == want.getAs[Long](c), c)
    for (c <- Seq("cos_means", "l1_mean_delta"))
      assert(got.getAs[Double](c) == want.getAs[Double](c), c)
    assert(got.getAs[Int]("top_dim") == want.getAs[Int]("top_dim"))
    assert(got.getAs[Long]("top_delta_num") ==
      want.getAs[Long]("top_delta_num"))
  }

  test("tokenizerFit: hand-computed fertility and compression") {
    val d = Seq(
      (0L, "ab cd. ef", "s1"),   // seg: ab, cd, '.', ef = 4; ws = 3
      (1L, "gh ij", "s1"),        // seg 2, ws 2
      (2L, null.asInstanceOf[String], "s2")) // degenerate source
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.tokenizerFit(d).collect()
    assert(r.map(_.getAs[String]("source")).toSeq == Seq("s1", "s2"))
    val s1 = r(0)
    assert(s1.getAs[Long]("n_words") == 5L)
    assert(s1.getAs[Long]("n_seg_tokens") == 6L)
    assert(s1.getAs[Long]("n_chars") == 14L)
    assert(s1.getAs[Double]("fertility") == 6.0 / 5.0)
    assert(s1.getAs[Double]("chars_per_token") == 14.0 / 6.0)
    val s2 = r(1)
    assert(s2.getAs[Long]("n_seg_tokens") == 0L)
    assert(s2.isNullAt(s2.fieldIndex("fertility")))
    assert(s2.isNullAt(s2.fieldIndex("chars_per_token")))
  }

  test("sourceDrift off the reference index equals the direct matrix") {
    val a = Seq((0L, "x x y", "s1"), (1L, "p q", "s2"))
      .toDF("doc_id", "text", "source")
    val b = Seq((2L, "x y y", "s1"), (3L, "p p q q", "s2"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-src-ref").toString
    Drift.writeReferenceCounts(a, dir)
    assert(Drift.sourceDriftVsReference(b, dir).collect().toSeq ==
      Drift.sourceDrift(a, b).collect().toSeq)
    // the derived GLOBAL table equals the direct word counts, so the
    // token screens keep working off the same baseline
    assert(Drift.readReferenceCounts(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 2L, "y" -> 1L, "p" -> 1L, "q" -> 1L))
  }

  test("sourceDrift: per-source TV and top mover, hand-computed") {
    val a = Seq((0L, "x x y", "s1"), (1L, "p q", "s2"))
      .toDF("doc_id", "text", "source")
    val b = Seq((2L, "x y y", "s1"), (3L, "p p q q", "s2"))
      .toDF("doc_id", "text", "source")
    val rows = Drift.sourceDrift(a, b).collect()
    assert(rows.map(_.getAs[String]("source")).toSeq == Seq("s1", "s2"))
    val s1 = rows(0)
    // s1: x 2->1, y 1->2 at tot 3/3: deltas +3/-3, tv = 6/(2*9) = 1/3,
    // |delta| ties break on the word -> "x"
    assert(s1.getAs[Long]("tv_num") == 6L)
    assert(s1.getAs[Double]("tv") == 6.0 / 18.0)
    assert(s1.getAs[String]("top_word") == "x")
    assert(s1.getAs[Long]("top_delta_num") == 3L)
    val s2 = rows(1)
    // s2: p 1->2, q 1->2 at tot 2/4: both deltas 1*4-2*2 = 0
    assert(s2.getAs[Long]("tv_num") == 0L)
    assert(s2.getAs[Double]("tv") == 0.0)
    assert(s2.getAs[String]("top_word") == "p")
  }

  test("persisted reference index reproduces the direct drift exactly") {
    val a = docs(0L -> "x x x x y y", 1L -> "q r s")
    val b = docs(2L -> "x y y z z z", 3L -> "q q t")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-drift-ref").toString
    Drift.writeReferenceCounts(a, dir)
    val cnt = Drift.referenceWordCounts(b, dir)
    assert(Drift.driftSummaryFromCounts(cnt).collect().toSeq ==
      Drift.driftSummary(a, b).collect().toSeq)
    assert(Drift.tokenDriftFromCounts(cnt, 10).collect().toSeq ==
      Drift.tokenDrift(a, b, 10).collect().toSeq)
    // length KS off the stored value table + build-time KLL blob
    assert(Drift.lengthDriftVsReference(b, dir).collect().toSeq ==
      Drift.lengthDrift(a, b).collect().toSeq)
    // the persisted table feeds the windowed screen's ref side too
    val ref = Drift.readReferenceCounts(spark, dir)
      .select(col("w").as("t"), col("c").as("c_ref"))
    assert(ref.collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 4L, "y" -> 2L, "q" -> 1L, "r" -> 1L, "s" -> 1L))
  }

  test("lengthDriftVsReference reads the version live when it was built") {
    // the frame is built, then a new reference version is written (its
    // GC deletes the old version's files) before the frame is consumed
    val a = docs(0L -> "x x x x y y", 1L -> "q r s")
    val b = docs(2L -> "x y y z z z", 3L -> "q q t")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-drift-pin").toString
    Drift.writeReferenceCounts(a, dir)
    val expected = Drift.lengthDrift(a, b).collect().toSeq
    val drift = Drift.lengthDriftVsReference(b, dir)
    Drift.writeReferenceCounts(b, dir)
    assert(drift.collect().toSeq == expected)
  }

  test("pmiPhrases: planted collocation tops the list with exact lift") {
    // "aa bb" always adjacent (4 times); fillers independent
    val d = docs(
      0L -> "aa bb cc dd",
      1L -> "aa bb dd cc",
      2L -> "cc aa bb dd",
      3L -> "dd cc aa bb")
    val top = TextAnalysis.pmiPhrases(d, topK = 5, minCount = 2L).collect()
    assert(top.nonEmpty)
    val first = top.head
    assert(first.getAs[String]("gram") == "aa bb")
    assert(first.getAs[Long]("c_ab") == 4L)
    // N = 16 words total; c(aa)=c(bb)=4 => lift = 4*16/(4*4) = 4.0
    assert(first.getAs[Double]("lift") == 4.0)
    assert(first.getAs[Int]("pmi_bits") == 2)
  }

  test("sourceKeyness: source-exclusive word has max lift, shared word ~1") {
    val d = Seq(
      (0L, "code code code the the", "github"),
      (1L, "code code code the the", "github"),
      (2L, "news news news the the", "cnn"),
      (3L, "news news news the the", "cnn"))
      .toDF("doc_id", "text", "source")
    val k = TextAnalysis.sourceKeyness(d, topK = 2, minCount = 2L).collect()
    val gh = k.filter(_.getAs[String]("source") == "github")
    assert(gh.head.getAs[String]("word") == "code")
    // lift(code|github) = c_sw*tot/(c_w*tot_s) = 6*20/(6*10) = 2.0
    assert(gh.head.getAs[Double]("lift") == 2.0)
    val the = gh.find(_.getAs[String]("word") == "the").get
    assert(the.getAs[Double]("lift") == 1.0)
  }
}
